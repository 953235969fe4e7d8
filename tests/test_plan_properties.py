"""Plan-shape regression guards: the properties PLANS.md documents are
asserted here so a change that silently de-broadcasts a dimension, drops a
pushed filter, or adds a shuffle fails the suite, not just the benchmark.

Counts are on the *pre-execution* physical plan (AQE may still improve it
at runtime; it never adds exchanges).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from ram_datapipeline_spark import queries as Q
from tests.conftest import SF_DIR


def plan_text(spark, name: str) -> str:
    return explain_text(Q.REGISTRY[name].builder(spark, SF_DIR))


def explain_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_ops(plan: str, op: str) -> int:
    """Count operator instances via the formatted-explain detail headers
    ('(5) Exchange') — each operator appears once there (the tree above
    repeats them)."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.M))


def n_data_shuffles(plan: str) -> int:
    # data exchanges only; broadcast exchanges are small-side by definition
    return n_ops(plan, "Exchange")


def layout_plan(op: str) -> str:
    """The recorded physical plan of a two-pass operator's layout stage
    (range exchange + local sort). Since round 10 the layout is eagerly
    local-checkpointed (leak + recompute-consistency fix, ADVICE r9), so
    the FINAL plan shows `Scan ExistingRDD` where the exchange ran; the
    range-partitioned shape is asserted on the recorded stage plan."""
    from ram_datapipeline_spark.operators.layout import LAYOUT_PLANS

    return LAYOUT_PLANS[op]


def test_q1_minimal_plan(spark):
    p = plan_text(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    assert n_data_shuffles(p) == 1  # exactly the partial→final agg exchange


def test_q3_dims_broadcast(spark):
    p = plan_text(spark, "q3_revenue_topk")
    assert n_ops(p, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p  # top-k without a full sort


def test_q5_all_dims_broadcast(spark):
    p = plan_text(spark, "q5_region_revenue")
    assert n_ops(p, "BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_q7_q8_wide_joins_all_dims_broadcast(spark):
    # the 6- and 8-table TPC-H shapes: every dimension broadcasts, the only
    # data exchange is the partial→final aggregate
    for name, n_dims in (("q7_nation_volume", 5), ("q8_market_share", 7)):
        p = plan_text(spark, name)
        assert n_ops(p, "BroadcastHashJoin") == n_dims, name
        assert "SortMergeJoin" not in p, name
        assert n_data_shuffles(p) == 1, name


def test_eta_poi_side_broadcast(spark):
    p = plan_text(spark, "eta_nearest_poi")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # one exchange: the origin hash shuffle, which the min-reduce reuses
    assert n_data_shuffles(p) == 1
    assert "REPARTITION_BY_COL" in p


def test_ram_pipeline_computes_each_stage_once(spark):
    """The plan the RAM job checkpoints runs point-in-polygon once, scans
    customer once (indicators come off the origin row, no pivot joined
    back), and shuffles once: the origin hash shuffle both aggregates
    reuse. Nothing joins back to the point-in-polygon output."""
    from ram_datapipeline_spark.plans.ram_pipeline import analysis_plan

    p = explain_text(analysis_plan(spark, SF_DIR)["results"])
    assert len(re.findall(r"BroadcastNestedLoopJoin Inner\b", p)) == 1, p
    assert len(re.findall(r"^Location: .*/customer\.parquet\]", p, re.M)) == 1, p
    assert n_data_shuffles(p) == 1, p
    assert re.search(r"hashpartitioning\(origin_id#\d+L?, \d+\), REPARTITION_BY_COL", p), p
    assert n_ops(p, "BroadcastHashJoin") == 0, p


def test_text_quality_pure_map(spark):
    p = plan_text(spark, "text_quality_score")
    assert n_data_shuffles(p) == 0
    assert "BroadcastExchange" not in p


def test_mm_decode_no_shuffle_and_pruned(spark):
    p = plan_text(spark, "mm_decode_image_stats")
    assert n_data_shuffles(p) == 0
    assert "ArrowEvalPython" in p or "MapInPandas" in p or "PythonMapInArrow" in p


def test_walk_penalty_snap_is_grid_pruned(spark):
    """The snap term must come from the grid equi-join, not a crossJoin of
    origins × all road vertices (VERDICT r1 'What's wrong' #2). The only
    permitted nested-loop join is the flagship eta matrix against the small
    broadcast POI side."""
    p = plan_text(spark, "eta_with_walk_penalty")
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") <= 1  # the POI eta matrix only


def test_lsh_no_cross_join(spark):
    for name in ("sim_cosine_topk_lsh", "dedup_minhash_lsh", "dedup_simhash_pairs"):
        p = plan_text(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


@pytest.mark.parametrize(
    "name", ["s1_config_scan_filter", "s4_admin_scan_inlist"]
)
def test_scan_filters_pushed(spark, name):
    p = plan_text(spark, name)
    assert "PushedFilters: [" in p
    # at least one real predicate reached the scan
    assert "PushedFilters: []" not in p.split("PushedFilters", 1)[1][:200]


def test_graph_routed_eta_plan(spark):
    """eta_routed_graph must keep the kernel shape: candidates from the
    grid equi-join (no cartesian product), durations through an Arrow
    Python batch; the hub closure never shows up as a data-scale join."""
    p = plan_text(spark, "eta_routed_graph")
    assert n_ops(p, "CartesianProduct") == 0
    assert "MapInPandas" in p or "ArrowEvalPython" in p or "PythonMapInArrow" in p
    assert "BroadcastHashJoin" in p  # POI replicas broadcast onto origins


def test_kmeans_assignment_never_shuffles_corpus(spark):
    """Both Lloyd assignment passes are broadcast-centroid projections;
    the only corpus-sized exchange is the (k × dim)-bound recentering
    aggregate (+ its k-row repack). A per-centroid cross join + groupBy
    argmin would add one full-corpus shuffle per round."""
    plan = plan_text(spark, "vec_kmeans_q8")
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    # exchanges: global-bounds agg (1-row), seed top-k, centroid repack,
    # recentering partials — all bounded by k, dim, or 1; corpus rows
    # never hash-partition. Window over the k seeds is single-partition
    # by construction (k rows).
    assert n_data_shuffles(plan) <= 6


def test_gapfill_single_corpus_exchange(spark):
    """The bucket rollup is one max_by aggregate (map-side combined);
    everything after operates on the (key × buckets)-bound grid."""
    plan = plan_text(spark, "ts_gapfill_locf")
    assert n_ops(plan, "CartesianProduct") == 0
    # corpus-sized: 1 (groupBy key,bucket). grid-sized: spine explode
    # join, locf window, distinct-keys agg.
    assert n_data_shuffles(plan) <= 6
    assert n_ops(plan, "Window") == 1  # only the LOCF carry


def test_segment_dedup_two_corpus_exchanges(spark):
    """Segment dedup = md5-keyed first-occurrence window + per-doc
    rebuild: two corpus-sized exchanges, nothing pairwise."""
    plan = plan_text(spark, "pipe_segment_dedup")
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_data_shuffles(plan) <= 3


def test_plan_stats_helper_agrees_with_guards(spark):
    """The public plan_stats API reports the same counts the guards
    assert (q3: 2 broadcast joins, 1 data exchange, pushed scans, no
    sort-merge/nested-loop, non-trivial codegen fusion)."""
    from ram_datapipeline_spark.analysis import plan_stats

    df = Q.REGISTRY["q3_revenue_topk"].builder(spark, SF_DIR)
    stats = plan_stats(df)
    assert stats["broadcast_hash_joins"] == 2
    assert stats["sort_merge_joins"] == 0
    assert stats["nested_loop_joins"] == 0
    assert stats["exchanges"] == 1
    assert stats["pushed_filter_scans"] >= 2
    assert stats["python_eval"] == 0


def test_graph_family_no_cartesian_or_global_sort(spark):
    """Graph analytics never fall back to a cartesian product, and the
    only Sort operators are sort-merge-join locals — no global (single
    partition) sort exists since the degeneracy order is a tuple
    comparison, not a rank window."""
    for name in (
        "graph_triangle_count",
        "graph_pagerank",
        "graph_common_neighbors",
        "graph_kcore",
    ):
        p = plan_text(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert n_ops(p, "Window") == 0, name


def test_rolling_active_no_range_join(spark):
    """DAU/WAU uses the bounded explode, never a nested-loop range join
    against the day spine."""
    p = plan_text(spark, "ev_rolling_active")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert n_ops(p, "Generate") >= 1  # the sequence explode is the fan-out


def test_bigram_familiarity_two_pass_shape(spark):
    """Corpus-statistic shape: the bigram stream is exploded (Generate),
    counted, and joined back — no cartesian anything."""
    p = plan_text(spark, "text_bigram_familiarity")
    assert "CartesianProduct" not in p
    assert n_ops(p, "Generate") >= 1


def test_bloom_prefilter_filters_before_join(spark):
    """The Bloom membership check must sit in a Filter BELOW the join
    (the prune happens pre-exchange), and the plan stays free of
    cartesian products."""
    plan = plan_text(spark, "j_bloom_prefilter")
    assert "CartesianProduct" not in plan
    assert "shiftleft" in plan  # the bitmap bit-test compiled into a filter
    # bit-test appears in a Filter operator, not only in the join condition
    assert re.search(r"Filter \[codegen[^\]]*\]|\(\d+\) Filter", plan)


def test_heavy_hitters_candidates_broadcast(spark):
    """Pass-2 recount must semi-join against BROADCAST candidates (the
    raw key domain never hash-shuffles) and the 1-row total join is the
    only nested-loop."""
    plan = plan_text(spark, "agg_heavy_hitters")
    assert n_ops(plan, "BroadcastExchange") >= 2  # candidates + total
    # exactly ONE nested-loop: the deliberate 1-row total cross join
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan


def test_repeated_spans_no_cartesian_single_hash_exchange(spark):
    plan = plan_text(spark, "dedup_repeated_spans")
    assert "CartesianProduct" not in plan
    # hash-keyed exchanges only: dup-hash agg + semi join + island
    # window + final span agg — bounded, and never a single-partition
    # global exchange (the all-data-to-one-task scale killer)
    assert "Exchange SinglePartition" not in plan
    assert n_ops(plan, "Exchange") <= 8, n_ops(plan, "Exchange")


def test_dq_checks_single_scan_for_row_checks(spark):
    """All row-level checks fold into one aggregation lineage over
    orders (plus the FK semi-join): the orders parquet appears at most
    3 times in the plan (row-check scan, FK probe scan, FK total scan),
    never once per check."""
    plan = plan_text(spark, "pipe_dq_checks")
    assert plan.count("orders.parquet") <= 3, plan.count("orders.parquet")
    assert "CartesianProduct" not in plan


def test_dq_sketched_uniqueness_no_expand(spark):
    """sketched_uniqueness=True must compile the uniqueness check into a
    TakeOrdered over distinct hashes — no count-distinct Expand node in
    its subplan, and only k rows cross the final exchange."""
    from ram_datapipeline_spark.catalog import load_tables
    from ram_datapipeline_spark.operators.quality import dq_checks, uniqueness

    orders = load_tables(spark, SF_DIR)["orders"]
    df = dq_checks(orders, [uniqueness("o_custkey")],
                   sketched_uniqueness=True, kmv_k=64)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert n_ops(p, "Expand") == 0, p
    assert "TakeOrderedAndProject" in p, p


def test_keyword_rank_filter_before_shuffle_and_takeordered(spark):
    """Ranked retrieval twin keeps the conjunctive twin's shape: the
    term-set filter compiles into the scan stage BELOW every exchange
    (the shuffle carries only the query's posting lists), term weights
    and the corpus count come back by broadcast, and the top-k cut is a
    TakeOrdered — never a global Sort, never a cartesian."""
    plan = plan_text(spark, "text_keyword_rank_any")
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "TakeOrderedAndProject") == 1
    # document frequency is a window over the posting lists, not a
    # second aggregate branch (which made Catalyst prune the shared
    # subtree differently and re-scan the corpus): exactly one
    # window-local sort, no joins beyond the 1-row corpus-count BNLJ
    assert n_ops(plan, "Window") == 1
    assert n_ops(plan, "Sort") == 1
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan
    # the corpus is DATA-scanned once; the count(*) branch reads no
    # columns (footer-only scan)
    scans = re.findall(
        r"\(\d+\) Scan parquet.*?ReadSchema: (\S+)", plan, re.S
    )
    doc_scans = [s for s in scans]
    assert len(doc_scans) == 2 and "struct<>" in doc_scans, scans
    # the term IN-set filter sits in the scan stage, below every
    # exchange (posting-list prune before the shuffle)
    assert re.search(r"\(\d+\) Filter\s*\nInput.*\nCondition : term\S* IN", plan)


def test_bpe_segment_single_projection_no_shuffle(spark):
    """The batched merge replay is a pure projection: zero exchanges,
    zero joins — the merges array is a plan literal."""
    from ram_datapipeline_spark.catalog import load_tables
    from ram_datapipeline_spark.operators.corpus import bpe_segment

    docs = load_tables(spark, SF_DIR)["documents"]
    df = bpe_segment(docs, [(f"x{i}", f"y{i}") for i in range(32)])
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert n_data_shuffles(p) == 0, p
    assert n_ops(p, "BroadcastHashJoin") == 0 and "SortMergeJoin" not in p


def test_kmv_merge_rollup_one_corpus_scan_broadcast_map(spark):
    """Sketch build scans customer ONCE; the nation→region map joins by
    broadcast (two small-dim broadcasts, zero corpus-side shuffle for
    the map); the merge re-ranks a sketch-sized table."""
    p = plan_text(spark, "agg_kmv_merge_rollup")
    assert n_ops(p, "Scan parquet") == 3  # customer + nation + region
    assert n_ops(p, "BroadcastExchange") == 2
    assert "CartesianProduct" not in p
    assert "struct<c_custkey:bigint,c_nationkey:int>" in p  # pruned corpus read


def test_incremental_maintain_pushed_split_predicates(spark):
    """Both partial scans carry their date predicate INTO parquet (at
    scale the delta scan prunes to the new partition), and the merge
    adds no corpus-sized exchange: two partial-agg exchanges total."""
    p = plan_text(spark, "agg_incremental_maintain")
    assert "LessThan(o_orderdate" in p
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert n_data_shuffles(p) == 2
    assert n_ops(p, "Scan parquet") == 2


def test_zorder_layout_pure_codegen_single_exchange(spark):
    """The Morton key stays in JVM integer arithmetic: no Python
    evaluator of any kind, a 2-column pruned scan, and the one exchange
    is the bucket aggregation."""
    p = plan_text(spark, "pipe_zorder_layout")
    assert n_data_shuffles(p) == 1
    assert "struct<event_id:bigint,user_id:bigint>" in p
    assert "Python" not in p and "Arrow" not in p


def test_view_click_outer_equi_key_join_pushed_type_filters(spark):
    """The outer interval join keys on user_id (hash-joinable — never a
    cartesian/nested-loop over events²), and both event_type filters
    reach the parquet scan."""
    p = plan_text(spark, "st_view_click_outer")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EqualTo(event_type,view)" in p
    assert "EqualTo(event_type,click)" in p


def test_kmv_set_algebra_single_corpus_scan(spark):
    """The sketch table is pinned once; the pair join runs on the
    checkpointed sketch rows — the corpus is never scanned twice (the
    tiny |groups|² nested loop over 5 sketch rows is deliberate)."""
    df = Q.REGISTRY["agg_kmv_set_algebra"].builder(spark, SF_DIR)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert n_ops(p, "Scan parquet") == 0  # both sides read the checkpoint
    assert n_ops(p, "Scan ExistingRDD") <= 2


def test_twap_window_and_agg_share_one_exchange(spark):
    """lead() and the per-key aggregation hash-partition identically,
    so the whole TWAP is scan → ONE exchange → window → agg."""
    p = plan_text(spark, "ts_time_weighted_avg")
    assert n_data_shuffles(p) == 1
    assert n_ops(p, "Scan parquet") == 1


def test_profile_table_single_scan_two_phase_distinct(spark):
    """All per-column stats fold into one scan; the two exchanges are
    the count-distinct expand's partial/final phases, both group-sized."""
    p = plan_text(spark, "pipe_profile_table")
    assert n_ops(p, "Scan parquet") == 1
    assert n_data_shuffles(p) == 2
    assert "Python" not in p and "Arrow" not in p


def test_ngram_novelty_no_self_join_bounded_shuffles(spark):
    """Novelty is two map-side-combined aggregates and a gram-keyed
    join — never a cartesian/nested-loop corpus self-join; the only
    exchanges are the gram agg, the gram join, and the doc agg."""
    p = plan_text(spark, "text_ngram_novelty")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Python" not in p and "Arrow" not in p  # pure JVM expressions
    assert n_data_shuffles(p) <= 4, p


def test_global_offsets_no_window_range_exchange(spark):
    """The registered gate (not just the operator) must carry the
    two-pass shape: one range exchange, no Window anywhere."""
    p = plan_text(spark, "pipe_global_offsets")
    assert n_ops(p, "Window") == 0
    assert "rangepartitioning" in layout_plan("global_prefix_sum").lower()


def test_lexical_diversity_map_only(spark):
    """The whole per-document frequency profile stays inside one codegen
    projection: zero exchanges, zero windows, zero Python."""
    p = plan_text(spark, "text_lexical_diversity")
    assert n_data_shuffles(p) == 0, p
    assert n_ops(p, "Window") == 0
    assert "Python" not in p and "Arrow" not in p


def test_bm25_filter_before_shuffle_and_takeordered(spark):
    """Tokens are filtered to the query terms before the posting
    aggregate; corpus stats ride a broadcast; the cut is a TakeOrdered,
    never a global Sort."""
    p = plan_text(spark, "text_bm25_rank")
    assert "TakeOrderedAndProject" in p
    assert n_ops(p, "Sort") <= 2  # window + agg-side sorts only, no global
    assert "CartesianProduct" not in p
    assert "Python" not in p and "Arrow" not in p
    # the explode's output is filtered by an isin on the term column
    assert re.search(r"Filter.*term.*IN|term#\d+ IN", p, re.S), p


def test_sorted_neighborhood_rank_equijoin_no_global_window(spark):
    """SNM candidates come from a bounded offset explode joined back by
    rank EQUALITY: no cartesian/nested-loop join, and the global order
    comes from global_row_index — never a single-partition window."""
    p = plan_text(spark, "dedup_sorted_neighborhood")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Exchange SinglePartition" not in p
    assert n_ops(p, "Window") == 0


def test_systematic_sample_no_window_range_exchange(spark):
    """The weight line is the global prefix sum's two-pass shape: one
    range exchange, a broadcast 1-row total, no Window anywhere."""
    p = plan_text(spark, "pipe_systematic_sample")
    assert n_ops(p, "Window") == 0
    assert "rangepartitioning" in layout_plan("global_prefix_sum").lower()
    assert n_ops(p, "BroadcastExchange") >= 1


def test_histogram_broadcast_range_no_window(spark):
    """Per-group min/max joins back by broadcast; two grouped aggregates,
    no window, no sort, pure JVM."""
    p = plan_text(spark, "agg_histogram")
    assert n_ops(p, "Window") == 0
    assert n_ops(p, "BroadcastHashJoin") >= 1
    assert "Python" not in p and "Arrow" not in p
    assert n_data_shuffles(p) <= 3, p


def test_robust_outliers_group_windows_broadcast_stats(spark):
    """Both rank windows are group-partitioned (never SinglePartition);
    the med2/mad2 tables join back by broadcast."""
    p = plan_text(spark, "agg_robust_outliers")
    assert "Exchange SinglePartition" not in p
    assert n_ops(p, "BroadcastHashJoin") >= 2
    assert "Python" not in p and "Arrow" not in p


def test_zscore_anomalies_one_window_pass(spark):
    """One key-partitioned ROWS-framed window computes count/sum/sumsq
    together: exactly one Window op, one data exchange, no Python."""
    p = plan_text(spark, "ts_anomaly_zscore")
    assert n_ops(p, "Window") == 1
    assert "Exchange SinglePartition" not in p
    assert n_data_shuffles(p) == 1, p
    assert "Python" not in p and "Arrow" not in p


def test_corpus_shuffle_no_window_range_exchange(spark):
    """The md5 permutation is assigned by the two-pass global index:
    range exchange on the hash key, no Window, no SinglePartition."""
    p = plan_text(spark, "pipe_corpus_shuffle")
    assert n_ops(p, "Window") == 0
    assert "Exchange SinglePartition" not in p
    assert "rangepartitioning" in layout_plan("global_row_index").lower()


def test_quantile_normalize_group_window_only(spark):
    """Both window specs (ordered rank, unordered count) evaluate over
    ONE source-keyed exchange — never SinglePartition, pure JVM."""
    p = plan_text(spark, "pipe_quantile_normalize")
    assert n_ops(p, "Window") <= 2
    assert "Exchange SinglePartition" not in p
    assert n_data_shuffles(p) == 1, p
    assert "Python" not in p and "Arrow" not in p


def test_sessionize_batch_single_aggregate_no_window(spark):
    """session_window merges inside the aggregation buffer: one
    user-keyed exchange, NO analytic Window pass, no Python."""
    p = plan_text(spark, "ev_sessionize_batch")
    assert n_ops(p, "Window") == 0
    assert "Exchange SinglePartition" not in p
    assert "Python" not in p and "Arrow" not in p


def test_resample_interp_one_key_exchange_two_sorts(spark):
    """Anchors+grid union flows through key-partitioned windows only;
    the backward pass re-sorts but never re-shuffles."""
    p = plan_text(spark, "ts_resample_interp")
    assert n_ops(p, "Window") >= 1
    assert "Exchange SinglePartition" not in p
    assert "Python" not in p and "Arrow" not in p


def test_mixture_epochs_one_corpus_agg_broadcast_total(spark):
    """The corpus is scanned once into a domain-grain aggregate; the
    1-row sum_w total comes back by broadcast — no window, no Python.
    The plan's only SinglePartition exchange is the sum_w global
    aggregate, whose input is the (tiny) domain table, never the
    corpus — the documented bounded-total pattern."""
    p = plan_text(spark, "pipe_mixture_epochs")
    assert n_ops(p, "Window") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") + n_ops(
        p, "BroadcastHashJoin"
    ) >= 1
    assert p.count("Exchange SinglePartition") <= 1
    assert "Python" not in p and "Arrow" not in p


def test_interleave_sources_range_exchange_no_global_window(spark):
    """Per-domain rank windows are key-partitioned; the global position
    is the two-pass range-exchange index — never a SinglePartition
    window over the corpus."""
    p = plan_text(spark, "pipe_interleave_sources")
    assert "rangepartitioning" in layout_plan("global_row_index").lower()
    assert "Exchange SinglePartition" not in p
    for line in p.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "domain" in line  # every window spec is domain-keyed


def test_khop_reach_equijoins_only(spark):
    """Hop expansion is an equi-join of the symmetric edge list — no
    cartesian product, no window, no Python."""
    p = plan_text(spark, "graph_khop_reach")
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0
    assert n_ops(p, "Window") == 0
    assert "Python" not in p and "Arrow" not in p


def test_weighted_median_one_exchange_group_windows(spark):
    """(group, value)-grain pre-aggregate, then both window specs and
    the final aggregate ride the same group partitioning — never
    SinglePartition, pure JVM."""
    p = plan_text(spark, "agg_weighted_median")
    assert "Exchange SinglePartition" not in p
    assert n_ops(p, "Window") <= 2
    assert "Python" not in p and "Arrow" not in p


def test_corr_components_single_pass_agg(spark):
    """One map-side-combined aggregate over the scan: no window, no
    join, one data exchange, pure JVM."""
    p = plan_text(spark, "agg_corr_components")
    assert n_ops(p, "Window") == 0
    assert n_ops(p, "BroadcastHashJoin") == 0
    assert n_data_shuffles(p) == 1, p
    assert "Python" not in p and "Arrow" not in p


def test_length_buckets_bucket_window_only(spark):
    """The rank window is bucket-partitioned (never SinglePartition);
    the batch aggregate reuses the bucket key prefix."""
    p = plan_text(spark, "pipe_length_buckets")
    assert "Exchange SinglePartition" not in p
    assert n_ops(p, "Window") == 1
    assert "Python" not in p and "Arrow" not in p


def test_ev_type_transitions_one_user_exchange(spark):
    """One user-keyed lag window + one count aggregate, no
    SinglePartition, pure JVM."""
    p = plan_text(spark, "ev_type_transitions")
    assert n_ops(p, "Window") == 1
    assert "Exchange SinglePartition" not in p
    assert "Python" not in p and "Arrow" not in p


def test_rfm_scores_no_global_window_cutoffs_broadcast(spark):
    """No ntile: the only windows run on the (metric, value) count
    grain; cutoff arrays come back by broadcast; never
    SinglePartition over event-scale data (the one SinglePartition
    exchange is the 15-row metric-grain cutoff fold)."""
    p = plan_text(spark, "ev_rfm_scores")
    assert "ntile" not in p.lower()
    assert n_ops(p, "BroadcastHashJoin") >= 1
    for line in p.splitlines():
        if "windowspecdefinition" in line:
            assert "_m" in line or "metric" in line


def test_agg_mode_exact_group_bounded_window(spark):
    """The rank window's partitions are (group, value) count rows —
    never event rows; one data exchange chain, pure JVM."""
    p = plan_text(spark, "agg_mode_exact")
    assert "Exchange SinglePartition" not in p
    assert n_ops(p, "Window") == 1
    assert "Python" not in p and "Arrow" not in p


def test_tokenizer_fertility_single_agg(spark):
    """One map-side-combined aggregate, no window, no join."""
    p = plan_text(spark, "pipe_tokenizer_fertility")
    assert n_ops(p, "Window") == 0
    assert n_data_shuffles(p) == 1, p
    assert "Python" not in p and "Arrow" not in p


def test_running_distinct_two_key_windows(spark):
    """Both windows are key-partitioned ((user, type) then user) —
    no SinglePartition, no Python, exactly two data exchanges."""
    p = plan_text(spark, "w8_running_distinct")
    assert "Exchange SinglePartition" not in p
    assert n_ops(p, "Window") == 2
    assert n_data_shuffles(p) == 2, p
    assert "Python" not in p and "Arrow" not in p


def test_cusum_one_window_pass(spark):
    """Both CUSUM sides are running aggregates over the same key-
    partitioned total order: one data exchange, pure JVM."""
    p = plan_text(spark, "ts_cusum_drift")
    assert "Exchange SinglePartition" not in p
    assert n_data_shuffles(p) == 1, p
    assert "Python" not in p and "Arrow" not in p


def test_asof_forward_one_shuffle_no_range_join(spark):
    """Forward as-of = union + one key-partitioned window; never a
    range join of views x purchases."""
    p = plan_text(spark, "j_asof_forward")
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0
    assert n_ops(p, "Window") == 1
    assert "Exchange SinglePartition" not in p


def test_hard_negatives_filter_before_rank(spark):
    """The label-inequality filter sits under the rank window (k
    survivors are guaranteed negatives); query side broadcasts."""
    p = plan_text(spark, "sim_hard_negatives")
    assert n_ops(p, "BroadcastNestedLoopJoin") == 1  # the fenced brute force
    assert n_ops(p, "Window") == 1
    assert "Exchange SinglePartition" not in p


def test_asof_nearest_one_exchange_two_window_passes(spark):
    """Backward and forward scans ride ONE union + one key exchange
    (the second pass re-sorts, never re-shuffles); no range join."""
    p = plan_text(spark, "j_asof_nearest")
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0
    assert n_ops(p, "Window") == 2
    assert "Exchange SinglePartition" not in p


def test_minhash_eval_no_allpairs(spark):
    """Both the candidate and the truth side stay bucket-/posting-
    bounded — no cartesian product anywhere in the audit."""
    p = plan_text(spark, "dedup_minhash_eval")
    assert n_ops(p, "CartesianProduct") == 0
    # the three 1-row count aggregates join by broadcast nested loop
    # (1-row appends) — data-scale sides never nested-loop


def test_rake_all_exchanges_doc_keyed(spark):
    """RAKE is per-document by definition: every window spec and every
    join key contains the doc id — no corpus-wide window, no cartesian
    product, pure JVM."""
    p = plan_text(spark, "text_rake_keyphrases")
    assert n_ops(p, "CartesianProduct") == 0
    assert "Exchange SinglePartition" not in p
    assert "Python" not in p and "Arrow" not in p
    for line in p.splitlines():
        if "windowspecdefinition" in line:
            assert "doc_id" in line


def test_hhi_two_stage_agg_no_window(spark):
    """Value-grain then group-grain aggregates, no window, pure JVM."""
    p = plan_text(spark, "agg_hhi_concentration")
    assert n_ops(p, "Window") == 0
    assert "Python" not in p and "Arrow" not in p


def test_inter_event_stats_one_key_exchange(spark):
    """The lag window and the aggregate share the user_id key — one
    data exchange total, no SinglePartition."""
    p = plan_text(spark, "ev_inter_event_stats")
    assert n_ops(p, "Window") == 1
    assert n_data_shuffles(p) == 1, p
    assert "Exchange SinglePartition" not in p


def test_dup_rate_single_pass(spark):
    """One aggregate over the corpus scan (the count-distinct expand
    is the documented cost; KMV is the at-scale swap)."""
    p = plan_text(spark, "pipe_dup_rate_by_source")
    assert n_ops(p, "Window") == 0
    assert "Python" not in p and "Arrow" not in p


def test_profile_kmv_job_count_constant_in_columns(spark):
    """VERDICT r8 #3: the kmv profile's integer-column certification
    must be ONE batched job, not ~2 eager jobs per column — a
    200-column table must not launch 400 Spark jobs. With AQE off
    (one action == one job) the whole profile is exactly 4 jobs
    (n_rows count, batched certify collect, the final join's broadcast
    build, final collect), INDEPENDENT of column count."""
    from pyspark.sql import functions as F

    from ram_datapipeline_spark.operators.quality import profile_table

    def n_jobs(n_cols: int) -> int:
        wide = spark.range(20_000).select(
            *[
                ((F.col("id") * (i + 7)) % 14_001).cast("int").alias(f"c{i}")
                for i in range(n_cols)
            ]
        )
        group = f"kmv-profile-probe-{n_cols}"
        sc = spark.sparkContext
        sc.setJobGroup(group, "job count probe")
        try:
            profile_table(wide, distinct_mode="kmv").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        j4, j12 = n_jobs(4), n_jobs(12)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert j12 == j4, (j4, j12)
    assert j4 <= 4, j4


def test_event_state_asof_no_range_join(spark):
    """State-at-event-time must ride the as-of union+window shape:
    ZERO join operators of any kind (the dimension attaches via the
    running-last carry, never an interval range join, which would be
    a BroadcastNestedLoopJoin here)."""
    p = plan_text(spark, "j_event_state_asof")
    for op in ("SortMergeJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct",
               "ShuffledHashJoin"):
        assert n_ops(p, op) == 0, op
    assert n_ops(p, "Window") >= 1


def test_rrf_fusion_corpus_touched_only_by_retrieval(spark):
    """The fusion tail is top-n-bounded: exactly the two retrieval
    subplans read the documents table, and no additional corpus-sized
    exchange exists after their TakeOrdered cuts."""
    p = plan_text(spark, "text_rrf_fusion")
    assert p.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in p


def test_pareto_front_no_quadratic_join(spark):
    """The skyline must NEVER be the O(n²) dominance self-join: no
    nested-loop/cartesian operator; the only join is the equi-join
    back on x; the prefix fold is the Arrow two-pass (no
    single-partition window)."""
    p = plan_text(spark, "w9_pareto_front")
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "Window") == 0
    assert "rangepartitioning" in layout_plan("global_prefix_max").lower()


def test_incremental_dedup_gate_probe_never_rehashes_corpus(spark):
    """dedup_incremental_batch (VERDICT r9 #7): at probe time the
    documents parquet is scanned exactly once (the batch id list — the
    corpus TEXT is never re-read), the corpus arrives as a scan of the
    persisted bucketed index table, and no md5/shingling appears in the
    probe plan at all (batch hashing ran once into the eager
    checkpoint). No pairwise operator anywhere."""
    p = plan_text(spark, "dedup_incremental_batch")
    assert p.count("documents.parquet") == 1, p.count("documents.parquet")
    assert "dedup_minhash_corpus_index" in p
    assert "md5" not in p
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0


def test_incremental_components_gate_patch_is_broadcast(spark):
    """dedup_incremental_components: the refresh-time plan reads the
    persisted band index + labels tables, the corpus-side patch and the
    batch verdict ride broadcast joins (the corpus never shuffles for
    the patch), and nothing is pairwise."""
    p = plan_text(spark, "dedup_incremental_components")
    # The standing labels table is patched lazily in the final plan; the
    # band index is consumed at BUILD time (the batch-scale mini graph's
    # edges are collected once by the driver gate and its components
    # come back as a local relabel map), so it appears in that collect,
    # not here.
    assert "dedup_inc_cc_labels" in p
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0
    assert n_ops(p, "BroadcastHashJoin") >= 2  # relabel patch + batch verdict


def test_gopher_rules_zero_exchange_projection(spark):
    """pipe_gopher_rules is a pure codegen projection: zero exchanges,
    zero windows, no Python evaluation anywhere."""
    p = plan_text(spark, "pipe_gopher_rules")
    assert n_data_shuffles(p) == 0
    assert n_ops(p, "Window") == 0
    assert "Python" not in p


def test_acf_lags_single_exchange(spark):
    """ts_acf_lags: the window sort is the ONLY data exchange — the
    (key, lag) aggregate reuses the key partitioning (grouping keys are
    a superset of the partitioning), so all three leads and the five
    BIGINT sums ride one shuffle of the events."""
    p = plan_text(spark, "ts_acf_lags")
    assert n_data_shuffles(p) == 1
    assert n_ops(p, "Window") == 1


def test_ks_drift_one_input_scan_no_cartesian(spark):
    """agg_ks_drift: the events table feeds exactly ONE materialized
    (group, value) count (the checkpoint barrier); the final plan
    contains no parquet re-scan and no CartesianProduct — the
    densification cross joins are broadcast by construction."""
    p = plan_text(spark, "agg_ks_drift")
    assert n_ops(p, "Scan parquet") == 0  # barrier swallowed the one scan
    assert "CartesianProduct" not in p
    assert n_ops(p, "BroadcastNestedLoopJoin") >= 1  # tiny-side cross joins


def test_theil_sen_pair_work_post_aggregate(spark):
    """ts_theil_sen: exactly one event-sized aggregate; the pairwise
    self-join runs on the quantized (key, hour) grain (both join inputs
    are aggregates), never on raw events."""
    p = plan_text(spark, "ts_theil_sen")
    assert n_ops(p, "Scan parquet") <= 2  # per-side pruned scans of ONE table
    assert "CartesianProduct" not in p


def test_mann_whitney_one_input_scan(spark):
    """agg_mann_whitney shares the KS substrate: one checkpointed
    (group, value) count, no parquet re-scan, no CartesianProduct,
    broadcast-only cross joins."""
    p = plan_text(spark, "agg_mann_whitney")
    assert n_ops(p, "Scan parquet") == 0
    assert "CartesianProduct" not in p


def test_funnel_latency_user_keyed_shuffles(spark):
    """ev_funnel_latency: every join/aggregate before the 2-row stage
    grain keys on user_id; no CartesianProduct, entered counts ride a
    broadcast."""
    p = plan_text(spark, "ev_funnel_latency")
    assert "CartesianProduct" not in p
    assert n_ops(p, "BroadcastHashJoin") >= 1


def test_resource_allocation_no_cartesian_no_global_sort(spark):
    """graph_resource_allocation rides the degree-oriented triangle
    machinery: no CartesianProduct, no Window, no global (empty-key)
    sort anywhere."""
    p = plan_text(spark, "graph_resource_allocation")
    assert "CartesianProduct" not in p
    assert n_ops(p, "Window") == 0


def test_cramers_v_one_input_scan(spark):
    """agg_cramers_v: one checkpointed (row, col) count; the final plan
    re-scans no parquet and the levels x levels grid rides broadcasts."""
    p = plan_text(spark, "agg_cramers_v")
    assert n_ops(p, "Scan parquet") == 0
    assert "CartesianProduct" not in p


def test_spearman_single_key_exchange(spark):
    """agg_spearman_corr: the four rank/tie windows and the final
    aggregate all share one hash partitioning on the key — exactly one
    data exchange in the whole plan."""
    p = plan_text(spark, "agg_spearman_corr")
    assert n_data_shuffles(p) == 1


def test_scene_cut_no_post_kernel_window(spark):
    """mm_scene_cut computes the lag INSIDE the Arrow kernel: no Window
    operator and no data exchange after the payload scan."""
    p = plan_text(spark, "mm_scene_cut")
    assert n_ops(p, "Window") == 0
    assert n_data_shuffles(p) == 0


def test_gini_single_key_exchange(spark):
    """agg_gini_value: rank window + aggregate share one key hash
    partitioning — exactly one data exchange."""
    p = plan_text(spark, "agg_gini_value")
    assert n_data_shuffles(p) == 1
    # two Window nodes (ordered rank + whole-partition count), same exchange
    assert n_ops(p, "Window") == 2


def test_interval_merge_single_key_exchange(spark):
    """ts_interval_merge: both ordered windows and the island aggregate
    ride one user_id exchange."""
    p = plan_text(spark, "ts_interval_merge")
    assert n_data_shuffles(p) == 1


def test_power_users_pareto_no_single_partition_window(spark):
    """ev_power_users_pareto gets its global rank/cum from the
    range-exchange prefix-sum primitive: no Window operator (and hence
    no empty-partition-spec global window) anywhere in the final plan."""
    p = plan_text(spark, "ev_power_users_pareto")
    assert n_ops(p, "Window") == 0
    assert "CartesianProduct" not in p


def test_audio_vad_single_exchange_after_kernel(spark):
    """mm_audio_vad: the Arrow energy kernel is shuffle-free; the island
    window and the segment aggregate share ONE media_id exchange."""
    p = plan_text(spark, "mm_audio_vad")
    assert n_data_shuffles(p) == 1
    assert "CartesianProduct" not in p


def test_benford_single_corpus_pass(spark):
    """agg_benford_digits: one map-side (group, digit) count; the
    digit grid rides a broadcast — no second corpus exchange, no
    cartesian."""
    p = plan_text(spark, "agg_benford_digits")
    assert "CartesianProduct" not in p
    assert n_ops(p, "Scan parquet") == 0  # checkpoint barrier took the scan


def test_anova_single_group_aggregate(spark):
    """agg_anova_f: exactly one corpus exchange (the group aggregate);
    the fold above it is k-row."""
    p = plan_text(spark, "agg_anova_f")
    assert n_ops(p, "Scan parquet") == 1
    assert n_data_shuffles(p) <= 2  # group agg + 1-row final fold


@pytest.mark.parametrize("rows", [[], [(1, "a")]])
def test_local_rows_df_plans_local_table_scan(spark, rows):
    """Driver-local rows — zero of them included — must plan as a
    LocalTableScan, never as `Scan ExistingRDD` (a Python-worker relation
    that costs a worker round trip on every action)."""
    from ram_datapipeline_spark.session import local_rows_df

    df = local_rows_df(spark, rows, "k long, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan
    assert [tuple(r) for r in df.collect()] == rows
    assert df.schema.simpleString() == "struct<k:bigint,v:string>"
