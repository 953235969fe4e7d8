"""Accuracy contracts for the approximate operators (no SQL oracle by
nature) and edge-case checks for the temporal join."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ram_datapipeline_spark.catalog import load_tables
from ram_datapipeline_spark.operators.similarity import cosine_topk, cosine_topk_ivf
from ram_datapipeline_spark.operators.temporal import asof_join
from tests.conftest import SF_DIR


def test_approx_distinct_accuracy(spark):
    """HLL estimate within 5% of the exact distinct count per group."""
    t = load_tables(spark, SF_DIR)
    j = t["orders"].join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
    both = j.groupBy("c_nationkey").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    )
    bad = both.filter(
        F.abs(F.col("approx") - F.col("exact"))
        > F.greatest(F.lit(1.0), F.col("exact") * 0.05)
    )
    assert bad.count() == 0


def test_ivf_recall_vs_exact(spark):
    """IVF at scaled defaults (⌈√n⌉ cells, ⌈√n_cells⌉ probes) recall
    ≥ 0.45 against the exact top-5 on the fixture embeddings while probing
    only ~1/√n_cells of the corpus — the approximate path must stay in the
    same neighborhood, not be perfect (the fixture vectors are near-random,
    the hardest case for ANN)."""
    e = load_tables(spark, SF_DIR)["embeddings"]
    q = e.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(q, e, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(q, e, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.45, f"IVF recall {recall:.2f} too low"


_CC_CHAIN = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


@pytest.mark.parametrize(
    "extra_pairs, extra_nodes",
    [
        ([], []),
        # 99 is not a node: the edges through it are ignored, so 4 is
        # not pulled into component 1; duplicate node ids give one row
        # per id
        ([(3, 99), (99, 4)], [2, 5, 5]),
    ],
    ids=["chain", "outside_edge_duplicate_nodes"],
)
def test_connected_components_chain(spark, cc_path, extra_pairs, extra_nodes):
    """A~B, B~C (but A!~C) must land in ONE component — the chain case the
    greedy lower-id policy cannot express; isolated nodes keep their own
    id as component. Same rows on the driver union-find, the distributed
    loop, and at the gate's boundary."""
    from ram_datapipeline_spark.operators.dedup import connected_components

    pair_rows = [(1, 2), (2, 3), (5, 6)] + extra_pairs
    cc_path.gate(len(pair_rows) - len(extra_pairs))  # induced edges
    pairs = spark.createDataFrame(pair_rows, "doc_a long, doc_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(1, 8)) + extra_nodes], "doc_id long"
    )
    rows = connected_components(pairs, nodes).collect()
    assert len(rows) == len(_CC_CHAIN)
    assert {r["doc_id"]: r["component"] for r in rows} == _CC_CHAIN
    assert cc_path.loop_calls == (1 if cc_path.mode == "loop" else 0)


def test_connected_components_loop_releases_edge_cache_on_failure(
    spark, monkeypatch
):
    """A round that raises must not leave the loop's persisted edge
    table behind. The per-round local checkpoints are not counted: they
    are freed by the ContextCleaner once unreferenced, not by the loop."""
    from ram_datapipeline_spark.operators import dedup

    def cached_rdds():
        return {
            k for k, v in spark.sparkContext._jsc.getPersistentRDDs().items()
            if not v.rdd().isLocallyCheckpointed()
        }

    def failing_count(self):
        raise RuntimeError("round failed")

    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 0)
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id long")
    before = cached_rdds()
    monkeypatch.setattr(type(pairs), "count", failing_count)
    with pytest.raises(RuntimeError, match="round failed"):
        dedup.connected_components(pairs, nodes)
    monkeypatch.undo()
    assert cached_rdds() == before


def test_asof_join_edges(spark):
    """No prior right row → null match; inclusive tie; latest-not-first."""
    left = spark.createDataFrame(
        [(1, 10, 100.0), (1, 30, 200.0), (1, 5, 300.0)],
        "id long, ts long, v double",
    ).withColumn("ts", F.timestamp_micros(F.col("ts") * 1_000_000))
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 29, "c")],
        "id long, ts long, tag string",
    ).withColumn("ts", F.timestamp_micros(F.col("ts") * 1_000_000))
    rows = asof_join(
        left.withColumnRenamed("id", "k"),
        right.withColumnRenamed("id", "k"),
        on="k",
        ts_col="ts",
        right_cols=["tag"],
    ).collect()
    by_v = {r["v"]: r for r in rows}
    assert by_v[100.0]["tag"] == "a"  # tie at ts=10 → inclusive
    assert by_v[200.0]["tag"] == "c"  # newest ≤ 30, not first
    assert by_v[300.0]["tag"] is None  # nothing at/before ts=5


def test_simhash_64bit_blocking_exact_and_wide(spark):
    """VERDICT r1 #3: the 64-bit simhash's 16-bit-word blocking must (a) be
    EXACT — bucket-join candidates re-filtered on full Hamming find every
    pair with distance ≤ 3 that brute force finds — and (b) spread into far
    more than the old 64-block ceiling (>10³ distinct blocks on the 500-doc
    fixture), so bucket-local joins stay thin as the corpus grows."""
    from ram_datapipeline_spark.operators.dedup import simhash, simhash_pairs

    docs = load_tables(spark, SF_DIR)["documents"]
    sh = {
        r["doc_id"]: format(r["simhash_w0"], "032b") + format(r["simhash_w1"], "032b")
        for r in simhash(docs).collect()
    }
    assert all(len(v) == 64 for v in sh.values())

    ids = sorted(sh)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if sum(x != y for x, y in zip(sh[a], sh[b])) <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert got == brute

    distinct_blocks = len(
        {(q, v[q * 16 : (q + 1) * 16]) for v in sh.values() for q in range(4)}
    )
    assert distinct_blocks > 1000, distinct_blocks


def test_simhash_packed_words_match_bit_votes(spark):
    """Cross-representation identity (VERDICT r12 #2): the packed BIGINT
    words must expand to exactly the '0'/'1' fingerprint the r1–r12
    string representation produced — recomputed here independently in
    pure Python from the documented vote rule (md5 hex digit i votes ±1
    on bits 2i/2i+1 by its two high bits, sign of the sum is the bit)."""
    import hashlib

    from ram_datapipeline_spark.operators.dedup import simhash

    docs = load_tables(spark, SF_DIR)["documents"].limit(25)
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    packed = {
        r["doc_id"]: format(r["simhash_w0"], "032b") + format(r["simhash_w1"], "032b")
        for r in simhash(docs).collect()
    }
    bit_sets = ("89abcdef", "4567cdef")
    for doc_id, text in rows.items():
        votes = [0] * 64
        for tok in text.split(" "):
            hh = hashlib.md5(tok.encode("utf-8")).hexdigest()
            for i in range(64):
                votes[i] += 1 if hh[i // 2] in bit_sets[i % 2] else -1
        expect = "".join("1" if v > 0 else "0" for v in votes)
        assert packed[doc_id] == expect, doc_id


def test_simhash_nonstandard_widths(spark):
    """The packing generalizes over n_bits/max_hamming: a 48-bit
    fingerprint (one full + one short word) with max_hamming=2 must
    still find exactly the brute-force pair set."""
    from ram_datapipeline_spark.operators.dedup import (
        simhash,
        simhash_pairs,
        simhash_word_cols,
    )

    docs = load_tables(spark, SF_DIR)["documents"].limit(120)
    cols = simhash_word_cols(48)
    assert cols == ["simhash_w0", "simhash_w1"]
    sh = {
        r["doc_id"]: format(r["simhash_w0"], "032b") + format(r["simhash_w1"], "016b")
        for r in simhash(docs, n_bits=48).collect()
    }
    assert all(len(v) == 48 for v in sh.values())
    ids = sorted(sh)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if sum(x != y for x, y in zip(sh[a], sh[b])) <= 2
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(docs, max_hamming=2, n_bits=48).collect()
    }
    assert got == brute


def test_simhash_pairs_rejects_wide_hamming():
    """ADVICE r1: blocking is only complete when bands = max_hamming + 1;
    out-of-range max_hamming must raise, not silently drop pairs."""
    import pytest as _pytest

    from ram_datapipeline_spark.operators.dedup import simhash_pairs

    with _pytest.raises(ValueError):
        simhash_pairs(None, max_hamming=64)


def test_pii_scrub_patterns(spark):
    """Each PII class is masked; clean text passes through untouched."""
    from ram_datapipeline_spark.operators.text_ops import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@sub.example.co.uk please"),
            (2, "ssn 078-05-1120 leaked"),
            (3, "call +1 555 867-5309 now"),
            (4, "host 192.168.0.1 down"),
            (5, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert "<EMAIL>" in out[1]["clean_text"] and "@" not in out[1]["clean_text"]
    assert "<SSN>" in out[2]["clean_text"] and "078" not in out[2]["clean_text"]
    assert "<PHONE>" in out[3]["clean_text"] and "867" not in out[3]["clean_text"]
    assert "<IP>" in out[4]["clean_text"] and "192" not in out[4]["clean_text"]
    assert out[5]["clean_text"] == "no pii here at all"
    assert out[5]["removed_chars"] == 0
    assert all(out[i]["removed_chars"] > 0 for i in (1, 2, 3, 4))


def test_repetition_ratio_bounds(spark):
    """Fully repeated text → high ratio; all-distinct text → 0; short text
    (< n tokens) → null ratio with zero grams."""
    from ram_datapipeline_spark.operators.text_ops import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c a b c"),
            (2, "one two three four five six"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_ratio(df).collect()}
    assert out[1]["repetition"] > 0.5
    assert out[2]["repetition"] == 0.0
    assert out[3]["n_grams"] == 0 and out[3]["repetition"] is None


def test_kmv_estimate_accuracy_and_exact_fallback(spark):
    from pyspark.sql import functions as SF

    from ram_datapipeline_spark.operators.sketches import kmv_distinct_estimate

    # group "big": 5000 distinct values; group "small": 10 (< k)
    df = spark.range(5000).select(
        SF.lit("big").alias("g"), SF.col("id").alias("v")
    ).unionAll(
        spark.range(10).select(SF.lit("small").alias("g"), SF.col("id").alias("v"))
    )
    rows = {r.g: r for r in kmv_distinct_estimate(df, ["g"], "v", k=64).collect()}
    assert rows["small"].estimate == 10.0 and rows["small"].kth_u is None
    # KMV relative error ~ 1/sqrt(k-2) ≈ 13%; allow 3σ
    assert abs(rows["big"].estimate - 5000) / 5000 < 0.4
    assert rows["big"].n_exact == 5000


def test_kmv_sketch_merges_across_shards(spark):
    """The union sketch == k smallest of the concatenated shard minima:
    estimating the union from two shard sketches must equal the estimate
    computed over the union directly (mergeability, the property
    sketches exist for)."""
    from pyspark.sql import functions as SF

    from ram_datapipeline_spark.operators.sketches import (
        kmv_distinct_estimate,
        kmv_uniform,
    )

    k = 64
    shard1 = spark.range(0, 3000).select(SF.lit("g").alias("g"), SF.col("id").alias("v"))
    shard2 = spark.range(2000, 6000).select(SF.lit("g").alias("g"), SF.col("id").alias("v"))

    def minima(df):
        return [
            r.u
            for r in df.select(kmv_uniform(SF.col("v")).alias("u"))
            .distinct()
            .orderBy("u")
            .limit(k)
            .collect()
        ]

    merged = sorted(set(minima(shard1)) | set(minima(shard2)))[:k]
    est_merged = (k - 1) / merged[k - 1]

    direct = kmv_distinct_estimate(
        shard1.unionAll(shard2), ["g"], "v", k=k
    ).collect()[0]
    assert est_merged == direct.estimate  # bit-identical, not approximately


def test_quantile_sketch_merge_and_accuracy(spark):
    """Hash-sample quantile sketch: (1) merging shard sketches equals the
    global sketch (k smallest hashes of a union are among the shards' k
    smallest); (2) estimates sit within the ~1/sqrt(k) sample-quantile
    band of the exact quantiles."""
    from ram_datapipeline_spark.catalog import load_tables as _lt
    from ram_datapipeline_spark.operators.sketches import hash_quantile_sketch
    from tests.conftest import SF_DIR

    orders = _lt(spark, SF_DIR)["orders"].select(
        F.col("o_orderpriority").alias("g"),
        F.expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").alias("v"),
        "o_orderkey",
    )
    whole = {
        r["g"]: (r["p50"], r["p90"])
        for r in hash_quantile_sketch(orders, "g", "v", "o_orderkey").collect()
    }
    # shard split by key parity, sketch each, merge = sketch of the
    # union of both shards' SAMPLES (not raw rows)
    from pyspark.sql import functions as SF

    shards = [
        orders.filter(SF.col("o_orderkey") % 2 == p) for p in (0, 1)
    ]
    sampled = None
    for sh in shards:
        w = __import__("pyspark.sql.window", fromlist=["Window"]).Window
        win = w.partitionBy("g").orderBy(
            SF.md5(SF.col("o_orderkey").cast("string")), SF.col("o_orderkey")
        )
        s = sh.withColumn("_rn", SF.row_number().over(win)).filter(
            SF.col("_rn") <= 64
        ).drop("_rn")
        sampled = s if sampled is None else sampled.unionByName(s)
    merged = {
        r["g"]: (r["p50"], r["p90"])
        for r in hash_quantile_sketch(sampled, "g", "v", "o_orderkey").collect()
    }
    assert merged == whole
    exact = {
        r["g"]: (r["p50"], r["p90"])
        for r in orders.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.9)").alias("p90"),
        )
        .collect()
    }
    for g, (p50, p90) in whole.items():
        e50, e90 = exact[g]
        # generous band: 64-sample quantiles on ~skewless price data
        assert abs(p50 - e50) / e50 < 0.35, (g, p50, e50)
        assert abs(p90 - e90) / e90 < 0.35, (g, p90, e90)


def test_misra_gries_exact_on_zipf_with_bounded_summaries(spark):
    """Two-pass Misra-Gries heavy hitters: (1) output equals the plain
    groupBy/HAVING result on a Zipf key whose distinct count (~1000)
    far exceeds the summary capacity (k=20) — so the candidate pass
    genuinely compresses; (2) every per-partition summary stays ≤ k
    entries (the bound that lets 100 TB of keys stream past in O(k)
    memory)."""
    from ram_datapipeline_spark.operators.sketches import (
        misra_gries_heavy_hitters,
    )

    n, k = 200_000, 20
    df = (
        spark.range(1, n + 1, numPartitions=8)
        .select(
            F.expr(
                f"CAST(floor({n} / (id % {n} + 1)) AS BIGINT)"
            ).alias("key")
        )
    )
    n_distinct = df.distinct().count()
    assert n_distinct > 20 * k  # compression is real, not vacuous
    got = sorted(
        (r["key"], r["cnt"])
        for r in misra_gries_heavy_hitters(df, "key", k).collect()
    )
    want = sorted(
        (r["key"], r["cnt"])
        for r in df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * k > n)
        .collect()
    )
    assert got == want and len(got) > 0

    # summary bound: re-run the candidate kernel standalone per partition
    import pandas as pd

    def counted(batches):
        summary = {}
        for pdf in batches:
            for key, c in pdf["key"].dropna().value_counts().items():
                summary[key] = summary.get(key, 0) + int(c)
            if len(summary) > k:
                m = sorted(summary.values(), reverse=True)[k]
                summary = {key: c - m for key, c in summary.items() if c > m}
        yield pd.DataFrame({"n_entries": [len(summary)]})

    sizes = [
        r["n_entries"]
        for r in df.mapInPandas(counted, schema="n_entries long").collect()
    ]
    assert sizes and max(sizes) <= k, sizes


def test_dq_checks_semantics(spark):
    """Constructed table with known defects: null keys, duplicate ids,
    an out-of-bounds value, and an FK orphan — every metric exact."""
    from ram_datapipeline_spark.operators.quality import (
        completeness,
        dq_checks,
        max_bound,
        min_bound,
        referential,
        uniqueness,
    )

    df = spark.createDataFrame(
        [(1, 10, 5.0), (2, None, -1.0), (3, 30, 2.0), (3, 40, 99.0)],
        "id long, fk int, v double",
    )
    dim = spark.createDataFrame([(10,), (30,)], "k int")
    got = {
        r["check_name"]: (r["metric"], r["passed"])
        for r in dq_checks(
            df,
            [
                completeness("fk", threshold=1.0),
                uniqueness("id", threshold=1.0),
                min_bound("v", 0.0, threshold=0.9),
                max_bound("v", 50.0, threshold=0.5),
                referential("fk", dim, "k", threshold=0.6),
            ],
        ).collect()
    }
    assert got == {
        "completeness_fk": (0.75, False),       # 3 of 4 non-null
        "uniqueness_id": (0.75, False),         # ids {1,2,3} over 4 rows
        "min_bound_v": (0.75, False),           # -1.0 violates, 0.9 req
        "max_bound_v": (0.75, True),            # 99.0 violates, 0.5 req
        "referential_fk": (0.5, False),         # rows with fk in {10,30}
    }, got


def test_dq_checks_empty_list_raises(spark):
    from ram_datapipeline_spark.operators.quality import dq_checks

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="empty check list"):
        dq_checks(df, [])


def test_dq_checks_sketched_uniqueness_within_kmv_bound(spark):
    """sketched_uniqueness=True swaps the exact count-distinct for the
    KMV estimator with the check surface unchanged: same rows, same
    columns, metric within the ~1/sqrt(k) sketch bound of the exact
    fraction (deterministic — the randomness is the md5 hash order)."""
    import math

    from ram_datapipeline_spark.operators.quality import (
        completeness,
        dq_checks,
        uniqueness,
    )

    # 1500 distinct ids spread over 3000 rows (distinct >> k exercises
    # the (k-1)/U_k path, not the exact under-k fallback)
    df = spark.createDataFrame(
        [(i % 1500, i) for i in range(3000)], "id long, seq long"
    )
    checks = [uniqueness("id", threshold=0.6), completeness("seq")]
    k = 256
    exact = {
        r["check_name"]: r["metric"]
        for r in dq_checks(df, checks).collect()
    }
    sk = {
        r["check_name"]: r["metric"]
        for r in dq_checks(
            df, checks, sketched_uniqueness=True, kmv_k=k
        ).collect()
    }
    assert set(sk) == set(exact)
    assert sk["completeness_seq"] == exact["completeness_seq"] == 1.0
    rel = abs(sk["uniqueness_id"] - exact["uniqueness_id"]) / exact["uniqueness_id"]
    assert rel <= 4.0 / math.sqrt(k), (sk, exact, rel)


def test_dq_checks_sketched_under_k_is_exact(spark):
    """Fewer distinct values than k: the KMV under-k fallback reports the
    exact distinct count, so sketched == exact bit-for-bit."""
    from ram_datapipeline_spark.operators.quality import dq_checks, uniqueness

    df = spark.createDataFrame(
        [(i % 7, i) for i in range(40)], "id long, seq long"
    )
    checks = [uniqueness("id")]
    exact = dq_checks(df, checks).collect()[0]["metric"]
    sk = dq_checks(df, checks, sketched_uniqueness=True, kmv_k=64).collect()[0][
        "metric"
    ]
    assert sk == exact == 7 / 40


def test_count_min_sketch_bounds_and_zero_probe(spark):
    """CMS contract: exact ≤ est (one-sided), est exact for keys whose
    buckets never collide at this load, and a never-seen key whose
    buckets are all empty reports 0 (not a missing row)."""
    from collections import Counter

    from ram_datapipeline_spark.operators.sketches import count_min_sketch

    rows = [(i % 13,) for i in range(1300)] + [(99,)] * 7
    df = spark.createDataFrame(rows, "key long")
    probes = spark.createDataFrame(
        [(k,) for k in list(range(13)) + [99, 12345]], "key long"
    )
    got = {
        r["key"]: r["est"]
        for r in count_min_sketch(df, "key", probes, depth=4, width=512).collect()
    }
    exact = Counter(k for (k,) in rows)
    assert set(got) == set(list(range(13)) + [99, 12345])
    for k, ex in exact.items():
        assert got[k] >= ex, (k, got[k], ex)
    # wide sketch, 14 keys: overwhelmingly collision-free
    assert got[99] == 7
    assert got[12345] >= 0
    # NULL keys are dropped on both sides (round-7 ADVICE): md5(NULL)
    # is NULL, so corpus NULLs pooled in unreachable (r, NULL) cells
    # and a NULL probe reported est=0 despite NULLs in the corpus
    df_n = spark.createDataFrame([(1,), (None,), (None,)], "key long")
    probes_n = spark.createDataFrame([(1,), (None,)], "key long")
    got_n = {
        r["key"]: r["est"]
        for r in count_min_sketch(df_n, "key", probes_n, 4, 512).collect()
    }
    assert got_n == {1: 1}


def test_count_min_cell_table_is_additive_merge(spark):
    """Mergeability: the cell table of a union equals the elementwise
    sum of the shards' cell tables — the property that lets partition
    summaries combine map-side."""
    from ram_datapipeline_spark.operators.sketches import count_min_sketch

    a = spark.createDataFrame([(i % 5,) for i in range(50)], "key long")
    b = spark.createDataFrame([(i % 7,) for i in range(70)], "key long")
    probes = spark.createDataFrame([(k,) for k in range(7)], "key long")
    u = {
        r["key"]: r["est"]
        for r in count_min_sketch(a.union(b), "key", probes, 4, 512).collect()
    }
    ea = {
        r["key"]: r["est"]
        for r in count_min_sketch(a, "key", probes, 4, 512).collect()
    }
    eb = {
        r["key"]: r["est"]
        for r in count_min_sketch(b, "key", probes, 4, 512).collect()
    }
    # collision-free at this width: est == exact, so union est = sum
    for k in range(7):
        assert u[k] == ea[k] + eb[k], (k, u[k], ea[k], eb[k])


def test_winsorize_caps_exact_order_stats(spark):
    """Hand-computed caps: 20 values in one group, p5/p95 → ranks
    ceil(1)=1 and ceil(19)=19; NULLs excluded; n_below/n_above count
    strict outliers only."""
    from ram_datapipeline_spark.operators.quality import winsorize_caps

    vals = [float(i) for i in range(1, 21)]  # 1..20
    rows = [("g", v) for v in vals] + [("g", None)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = winsorize_caps(df, "grp", "v", 5, 95, 100).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 20
    assert r["lo_cap"] == 1.0     # rank ceil(0.05*20)=1
    assert r["hi_cap"] == 19.0    # rank ceil(0.95*20)=19
    assert r["n_below"] == 0      # nothing strictly below 1.0
    assert r["n_above"] == 1      # 20.0 strictly above 19.0


def test_winsorize_caps_rejects_bad_percentiles(spark):
    import pytest as _pytest

    from ram_datapipeline_spark.operators.quality import winsorize_caps

    df = spark.createDataFrame([("g", 1.0)], "grp string, v double")
    with _pytest.raises(ValueError, match="lo < hi"):
        winsorize_caps(df, "grp", "v", 95, 5, 100)


def test_keyword_search_all_semantics(spark):
    """AND semantics: only docs containing EVERY term survive; tf_total
    counts all query-term occurrences; matching is lowercase; empty term
    lists raise."""
    from ram_datapipeline_spark.operators.text_ops import keyword_search_all

    docs = spark.createDataFrame(
        [
            (1, "Scan join window scan"),       # all 3 terms? no 'stream'... use 3-term query
            (2, "scan join"),                   # missing 'window'
            (3, "window JOIN scan window"),     # all, mixed case
            (4, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["tf_total"]
        for r in keyword_search_all(docs, ("scan", "join", "window")).collect()
    }
    assert got == {1: 4, 3: 4}
    with pytest.raises(ValueError, match="empty term list"):
        keyword_search_all(docs, ())
    # duplicate terms collapse to the set (round-7 ADVICE): before the
    # fix, countDistinct could never reach len(terms)-with-dupes and
    # every query returned empty
    got_dup = {
        r["doc_id"]: r["tf_total"]
        for r in keyword_search_all(
            docs, ("scan", "SCAN", "join", "window", "scan")
        ).collect()
    }
    assert got_dup == {1: 4, 3: 4}


def test_keyword_search_ranked_semantics(spark):
    """Ranked retrieval: integer-exact scaled tf·idf — w(t) =
    (1000·N) div df_t, score = Σ tf·w — verified against a hand
    computation; any-mode admits partial matches, all-mode keeps the
    conjunctive filter; ties break by id ascending; bad args raise."""
    import pytest as _pytest

    from ram_datapipeline_spark.operators.text_ops import keyword_search_ranked

    docs = spark.createDataFrame(
        [
            (1, "scan join window scan"),  # scan×2, join, window
            (2, "scan join"),
            (3, "window JOIN scan window"),
            (4, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    # N=4; df: scan=3, join=3, window=2 → w: scan=1333, join=1333, window=2000
    got = {
        r["doc_id"]: (r["matched_terms"], r["score"])
        for r in keyword_search_ranked(
            docs, ("scan", "join", "window"), mode="any", k=10
        ).collect()
    }
    assert got == {
        1: (3, 2 * 1333 + 1333 + 2000),       # 5999
        2: (2, 1333 + 1333),                  # 2666
        3: (3, 1333 + 1333 + 2 * 2000),       # 6666
    }
    # all-mode drops the partial match
    got_all = {
        r["doc_id"]
        for r in keyword_search_ranked(
            docs, ("scan", "join", "window"), mode="all", k=10
        ).collect()
    }
    assert got_all == {1, 3}
    # k cuts on (score DESC, id ASC): doc 3 (6666) then doc 1 (5999)
    top = [
        r["doc_id"]
        for r in keyword_search_ranked(
            docs, ("scan", "join", "window"), mode="any", k=2
        ).collect()
    ]
    assert top == [3, 1]
    # tie-break: docs 1 and 2 tie on a symmetric single-term query
    tie = [
        r["doc_id"]
        for r in keyword_search_ranked(docs, ("join",), mode="any", k=1).collect()
    ]
    assert tie == [1]
    with _pytest.raises(ValueError, match="empty term list"):
        keyword_search_ranked(docs, ())
    with _pytest.raises(ValueError, match="unknown mode"):
        keyword_search_ranked(docs, ("scan",), mode="or")
    with _pytest.raises(ValueError, match="k must be positive"):
        keyword_search_ranked(docs, ("scan",), k=0)


def test_kmv_sketch_merge_is_bit_identical_to_direct_build(spark):
    """The merge theorem the rollup gate rests on: sketches built at
    the FINE key (nation) and merged upward equal — array for array —
    a sketch built directly at the COARSE key (region) from raw rows.
    Also: under-k sketches carry every distinct value (estimate exact),
    and a full sketch's estimate is (k-1)/U_k."""
    from ram_datapipeline_spark.operators.sketches import (
        kmv_merge_sketches,
        kmv_sketch_estimate,
        kmv_sketch_table,
    )

    t = load_tables(spark, SF_DIR)
    nation_region = (
        t["nation"]
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("n_nationkey").alias("c_nationkey"),
            F.col("r_name").alias("region"),
        )
    )
    k = 16
    fine = kmv_sketch_table(
        t["customer"], ["c_nationkey"], "c_custkey", k=k
    )
    merged = {
        r["region"]: r["minima"]
        for r in kmv_merge_sketches(
            fine.join(nation_region, "c_nationkey"), ["region"], k=k
        ).collect()
    }
    direct = {
        r["region"]: r["minima"]
        for r in kmv_sketch_table(
            t["customer"].join(
                nation_region.withColumnRenamed("c_nationkey", "nk"),
                F.col("c_nationkey") == F.col("nk"),
            ),
            ["region"],
            "c_custkey",
            k=k,
        ).collect()
    }
    assert merged == direct and len(merged) == 5
    # estimates: full sketch -> (k-1)/U_k; under-k sketch -> exact len
    est = {
        r["region"]: (r["minima"], r["estimate"])
        for r in kmv_sketch_estimate(
            kmv_merge_sketches(
                fine.join(nation_region, "c_nationkey"), ["region"], k=k
            ),
            k=k,
        ).collect()
    }
    for minima, estimate in est.values():
        if len(minima) >= k:
            assert estimate == (k - 1) / minima[k - 1]
        else:
            assert estimate == float(len(minima))


def test_partial_merge_equals_full_recompute_and_new_groups_pass(spark):
    """merge_partials(base, delta) == partial_aggregate(all), bit for
    bit — including a group that exists ONLY in the delta (union-
    groupBy passes it through; a join would need per-column null
    handling)."""
    from ram_datapipeline_spark.operators.incremental import (
        merge_partials,
        partial_aggregate,
    )

    rows = [
        ("a", 1.00, 10), ("a", 2.50, 11), ("b", 7.25, 12),
        ("a", 0.10, 20), ("c", 9.99, 21),  # 'c' is delta-only
    ]
    df = spark.createDataFrame(rows, "k string, price double, seq long")
    specs = {
        "n": ("count",),
        "cents": ("sum_cents", "price"),
        "lo": ("min", "seq"),
        "hi": ("max", "seq"),
    }
    base = partial_aggregate(df.where(F.col("seq") < 20), ["k"], specs)
    delta = partial_aggregate(df.where(F.col("seq") >= 20), ["k"], specs)
    merged = {
        r["k"]: (r["n"], r["cents"], r["lo"], r["hi"])
        for r in merge_partials(base, delta, ["k"], specs).collect()
    }
    full = {
        r["k"]: (r["n"], r["cents"], r["lo"], r["hi"])
        for r in partial_aggregate(df, ["k"], specs).collect()
    }
    assert merged == full
    assert merged["c"] == (1, 999, 21, 21)
    with pytest.raises(ValueError, match="unknown kind"):
        partial_aggregate(df, ["k"], {"x": ("median", "price")})


def test_kmv_intersection_accuracy_and_underk_exactness(spark):
    """Pairwise sketch-intersection estimates track the true overlap
    (within the KMV error band at k=128), and under-k sketches give
    EXACT intersection counts with theta == 1."""
    from ram_datapipeline_spark.operators.sketches import (
        kmv_pairwise_intersection,
        kmv_sketch_table,
    )

    t = load_tables(spark, SF_DIR)
    o = t["orders"]
    sk = kmv_sketch_table(
        o, ["o_orderpriority"], "o_custkey", k=128
    ).withColumnRenamed("o_orderpriority", "g")
    est = {
        (r["group_a"], r["group_b"]): r["est_shared"]
        for r in kmv_pairwise_intersection(sk, "g", k=128).collect()
    }
    a = o.select(F.col("o_orderpriority").alias("ga"), "o_custkey").distinct()
    b = o.select(F.col("o_orderpriority").alias("gb"), "o_custkey").distinct()
    truth = {
        (r["ga"], r["gb"]): r["n"]
        for r in a.join(b, ["o_custkey"])
        .where(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(est) == set(truth) and len(est) == 10
    for pair, e in est.items():
        tv = truth[pair]
        assert abs(e - tv) <= max(10.0, 0.35 * tv), (pair, e, tv)
    # under-k: a huge k makes every sketch complete -> exact, theta = 1
    sk_big = kmv_sketch_table(
        o, ["o_orderpriority"], "o_custkey", k=100_000
    ).withColumnRenamed("o_orderpriority", "g")
    exact = kmv_pairwise_intersection(sk_big, "g", k=100_000).collect()
    for r in exact:
        assert r["theta"] == 1.0
        assert r["n_common"] == truth[(r["group_a"], r["group_b"])]
        assert r["est_shared"] == float(r["n_common"])


def test_barriered_raw_draws_plan_hashes_survivors_only(spark):
    """r11 plan guard (VERDICT r10 #1 root cause): the distinct-raw-
    first subtree must hash DISTINCT values, not rows — without the
    physical repartition barrier, Catalyst pushes the md5 projection
    below the raw distinct and collapses the two aggregates into
    per-row md5 over the whole corpus (the plan the r9/r10 fallback
    was silently running). Pin the physical shape: the md5 projection
    sits ABOVE the repartition exchange, and nothing below that
    exchange computes md5."""
    from ram_datapipeline_spark.operators.quality import barriered_raw_draws

    df = spark.range(1000).select(
        F.concat(F.lit("s"), (F.col("id") % 5)).alias("s"),
        (F.col("id") % 3).cast("string").alias("t"),
    )
    plan = (
        barriered_raw_draws(df, ["s", "t"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "md5" in plan
    i_rep = plan.index("REPARTITION_BY_COL")
    below_barrier = plan[i_rep:]
    assert "md5" not in below_barrier, (
        "md5 collapsed below the repartition barrier — per-row hashing "
        "is back:\n" + plan
    )
    # draws equal a driver-side replay over the distinct value sets
    import hashlib

    def u(v: str) -> float:
        return int(hashlib.md5(v.encode()).hexdigest()[:13], 16) / 2.0**52

    got = {
        (r["_c"], r["_u"])
        for r in barriered_raw_draws(df, ["s", "t"]).collect()
    }
    want = {("s", u(f"s{i}")) for i in range(5)} | {
        ("t", u(str(i))) for i in range(3)
    }
    assert got == want


def test_profile_table_counts_nulls_distincts_bounds(spark):
    """profile_table on a hand corpus: null counts, exact distincts,
    numeric bounds for numeric columns, null bounds for strings, and a
    numeric_as override for a non-numeric column."""
    from ram_datapipeline_spark.operators.quality import profile_table

    rows = [
        (1, "x", 2.5, "07"),
        (2, None, None, "03"),
        (2, "y", -1.0, None),
        (None, "y", 4.0, "11"),
    ]
    df = spark.createDataFrame(rows, "a int, s string, v double, code string")
    prof = {
        r["col_name"]: r
        for r in profile_table(
            df, numeric_as={"code": F.col("code").cast("double")}
        ).collect()
    }
    assert set(prof) == {"a", "s", "v", "code"}
    assert all(r["n_rows"] == 4 for r in prof.values())
    assert (prof["a"]["n_nulls"], prof["a"]["n_distinct"]) == (1, 2)
    assert (prof["a"]["min_num"], prof["a"]["max_num"]) == (1.0, 2.0)
    assert (prof["s"]["n_nulls"], prof["s"]["n_distinct"]) == (1, 2)
    assert prof["s"]["min_num"] is None and prof["s"]["max_num"] is None
    assert (prof["v"]["min_num"], prof["v"]["max_num"]) == (-1.0, 4.0)
    assert (prof["code"]["min_num"], prof["code"]["max_num"]) == (3.0, 11.0)


def test_canonical_pick_keeps_best_per_cluster(spark, cc_path):
    """Quality argmax per component (ties → lowest id); singletons keep
    themselves; exactly one is_kept per component."""
    from ram_datapipeline_spark.operators.dedup import (
        canonical_pick,
        connected_components,
    )

    cc_path.gate(3)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 5), (5, 7), (6, 7), (7, 1)],
        "doc_id long, n_chars long",
    )
    comps = connected_components(pairs, docs)
    out = canonical_pick(comps, docs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 7
    # cluster {1,2,3}: 2 and 3 tie on quality 99 → canonical 2
    assert {rows[i]["canonical_id"] for i in (1, 2, 3)} == {2}
    assert rows[2]["is_kept"] and not rows[1]["is_kept"] and not rows[3]["is_kept"]
    # cluster {5,6}: tie at 7 → canonical 5; singletons keep themselves
    assert rows[5]["is_kept"] and rows[6]["canonical_id"] == 5
    assert rows[4]["is_kept"] and rows[7]["is_kept"]
    kept_per_comp = {}
    for r in rows.values():
        kept_per_comp.setdefault(r["component"], 0)
        kept_per_comp[r["component"]] += int(r["is_kept"])
    assert all(v == 1 for v in kept_per_comp.values())


def test_profile_table_kmv_mode_bounds_and_exact_small(spark):
    """distinct_mode='kmv': columns with < k distincts report EXACT
    counts (the sketch saw every value); a high-cardinality column's
    estimate lands within the KMV error envelope; nulls/min/max equal
    the exact mode's; bad mode raises."""
    import pytest

    from ram_datapipeline_spark.operators.quality import profile_table

    df = spark.range(5000).select(
        F.col("id").alias("hi"),              # 5000 distincts >> k
        (F.col("id") % 7).alias("lo"),        # 7 distincts << k
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") % 3).alias("n"),
    )
    exact = {r["col_name"]: r for r in profile_table(df).collect()}
    kmv = {
        r["col_name"]: r
        for r in profile_table(df, distinct_mode="kmv", kmv_k=256).collect()
    }
    assert set(kmv) == set(exact)
    for c in exact:
        assert kmv[c]["n_rows"] == exact[c]["n_rows"]
        assert kmv[c]["n_nulls"] == exact[c]["n_nulls"]
        assert kmv[c]["min_num"] == exact[c]["min_num"]
        assert kmv[c]["max_num"] == exact[c]["max_num"]
    assert kmv["lo"]["n_distinct"] == 7.0     # exact below k
    assert kmv["n"]["n_distinct"] == 3.0
    hi = kmv["hi"]["n_distinct"]
    assert 5000 * 0.7 <= hi <= 5000 * 1.3, hi  # ±3/sqrt(k) ≈ ±19%
    with pytest.raises(ValueError, match="distinct_mode"):
        profile_table(df, distinct_mode="approx")


def test_profile_table_kmv_threshold_certify_and_fallback_exact(spark):
    """r8 kmv branch: with k small enough that the deterministic
    threshold prefilter engages (thr = 64k/n < 1), a near-unique int
    column goes through the CERTIFIED filtered path and a
    duplicate-heavy int column through the unfiltered fallback — and
    BOTH must equal a driver-side replay of the plain (unfiltered)
    LCG bottom-k computation, proving the threshold machinery changes
    nothing."""
    from ram_datapipeline_spark.operators.quality import profile_table

    n, k = 4000, 8  # thr = 64*8/4000 = 0.128 < 1
    df = spark.range(n).select(
        F.col("id").alias("hi"),          # 4000 distincts — certified path
        (F.col("id") % 3).alias("lo"),    # 3 distincts — fallback path
    )
    out = {
        r["col_name"]: r["n_distinct"]
        for r in profile_table(df, distinct_mode="kmv", kmv_k=k).collect()
    }

    def lcg_u(v: int) -> float:
        return ((v % 2**31 + 2**31) % 2**31 * 1103515245 + 12345) % 2**31 / 2.0**31

    def replay(values) -> float:
        us = sorted({lcg_u(v) for v in values})
        return float(len(us)) if len(us) < k else (k - 1) / us[k - 1]

    assert out["hi"] == replay(range(n))
    assert out["lo"] == replay([0, 1, 2]) == 3.0
    # sanity: the certified estimate is actually close to the truth
    assert n * 0.5 <= out["hi"] <= n * 2.0, out["hi"]


def test_profile_table_auto_mode_switches_on_plan_size(spark):
    """distinct_mode='auto' (the r8 default — VERDICT r7 #2) picks the
    branch from Catalyst's metadata size estimate: below the threshold
    the output is row-identical to exact mode (long n_distinct), above
    it row-identical to kmv mode (double estimate) — no job runs to
    decide."""
    from ram_datapipeline_spark.operators.quality import (
        plan_size_bytes,
        profile_table,
    )

    df = spark.range(2000).select(
        F.col("id").alias("hi"), (F.col("id") % 5).alias("lo")
    )
    size = plan_size_bytes(df)
    assert size is not None and size > 0

    def rows(d):
        return sorted(d.collect(), key=lambda r: r["col_name"])

    exact = rows(profile_table(df, distinct_mode="exact"))
    kmv = rows(profile_table(df, distinct_mode="kmv", kmv_k=64))
    assert rows(
        profile_table(df, distinct_mode="auto", auto_threshold_bytes=size)
    ) == exact  # at-or-below threshold → exact
    assert rows(
        profile_table(
            df, distinct_mode="auto", kmv_k=64, auto_threshold_bytes=size - 1
        )
    ) == kmv  # above threshold → sketched


def test_prefix_filter_equals_inverted_index_join(spark):
    """The PPJoin-style prefix-filtered exact join returns EXACTLY the
    rows of the full inverted-index Jaccard join — candidate
    completeness, at two thresholds, on the fixture corpus."""
    from ram_datapipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    docs = load_tables(spark, SF_DIR)["documents"]
    for t in (0.5, 0.8):
        full = {
            (r["doc_a"], r["doc_b"], r["inter"], r["union_n"])
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"], r["inter"], r["union_n"])
            for r in prefix_filter_pairs(docs, threshold=t).collect()
        }
        assert pref == full, (t, len(pref), len(full))
        assert full, f"fixture yields no pairs at t={t}: vacuous test"


def test_positional_filter_prunes_impossible_candidates(spark):
    """The r8 positional filter must reject a candidate pair whose
    first shared prefix token sits too DEEP on both sides to reach the
    minimum overlap — here docs 1/2 share only their rarest shingle
    (prefix-joinable) but can't reach Jaccard 0.5, so the pair must be
    absent from the output AND the positional bound alone (not the
    verification step) must already cut it: α = ⌈0.5·(n_a+n_b)/1.5⌉ =
    ⌈0.5·12/1.5⌉ = 4 > 1 + min(n−i*) when the shared token is last in
    both prefixes. Output equality with the full join is asserted too,
    so the filter can only ever prune, never drop."""
    from ram_datapipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    rows = [
        # 6 shingles each (8 words), exactly one shared rare shingle
        # ("x y z" appears in both, nothing else overlaps)
        (1, "a1 a2 a3 a4 a5 x y z"),
        (2, "b1 b2 b3 b4 b5 x y z"),
        # an actual near-dup pair to keep the test non-vacuous
        (3, "c1 c2 c3 c4 c5 c6 c7 c8"),
        (4, "c1 c2 c3 c4 c5 c6 c7 c9"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_pairs(df, threshold=0.5).collect()
    }
    assert pref == full
    assert (3, 4) in pref
    assert (1, 2) not in pref


def test_prefix_filter_edges_threshold_one_and_short_docs(spark):
    """threshold=1.0 (prefix shrinks to the single rarest shingle) still
    finds exact-duplicate pairs; docs too short to shingle vanish
    silently from both algorithms."""
    from ram_datapipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),   # exact dup of 1
        (3, "alpha beta gamma delta zeta"),      # near dup
        (4, "one two"),                          # too short for 3-shingles
        (5, "totally different words here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r["doc_a"], r["doc_b"]) for r in
             prefix_filter_pairs(df, threshold=1.0).collect()}
    assert exact == {(1, 2)}
    full = {(r["doc_a"], r["doc_b"]) for r in
            ngram_jaccard_pairs(df, threshold=0.3).collect()}
    pref = {(r["doc_a"], r["doc_b"]) for r in
            prefix_filter_pairs(df, threshold=0.3).collect()}
    assert pref == full and (1, 3) in pref


def test_equiwidth_histogram_edges_and_degenerate_group(spark):
    """Bin arithmetic is integer-exact: min lands in bin 0, max in the
    last bin, and a constant group collapses into bin 0."""
    from pyspark.sql import functions as F

    from ram_datapipeline_spark.operators.quality import equiwidth_histogram

    df = spark.createDataFrame(
        [("a", v) for v in [0, 1, 5, 9, 10]] + [("b", 7), ("b", 7)],
        "g string, v long",
    )
    out = equiwidth_histogram(
        df, F.col("v"), ["g"], bins=5, value_name="lo_edge"
    ).collect()
    a = {r["bin"]: (r["lo_edge"], r["cnt"]) for r in out if r["g"] == "a"}
    # span (0..10) -> width 11/5: bins 0:[0,2] 1:[3,4] 2:[5,6] 3:[7,8] 4:[9,10]
    assert a[0] == (0, 2) and a[2] == (4, 1) and a[4] == (8, 2)
    b = {r["bin"]: r["cnt"] for r in out if r["g"] == "b"}
    assert b == {0: 2}


def test_robust_outlier_stats_odd_even_and_flags(spark):
    """Odd group: med2 = 2x middle; even group: sum of the two middles;
    the 3*MAD flag uses the exact cross-multiplied rule."""
    from pyspark.sql import functions as F

    from ram_datapipeline_spark.operators.quality import robust_outlier_stats

    df = spark.createDataFrame(
        # odd group: values 1,2,3,4,100 -> median 3, MAD over |x-3| =
        # {2,1,0,1,97} sorted {0,1,1,2,97} -> MAD 1; only 100 breaks 3*MAD
        [("odd", v) for v in [1, 2, 3, 4, 100]]
        # even group: 1,2,4,8 -> med2 = 2+4 = 6 (median 3);
        # dev = |2x-6| = {4,2,2,10} sorted -> mad2 = 2+4 = 6 (MAD 1.5);
        # flag 2*dev > 3*mad2=18 -> only x=8 (dev 10 -> 20 > 18)
        + [("even", v) for v in [1, 2, 4, 8]],
        "g string, v long",
    )
    out = {r["g"]: r for r in robust_outlier_stats(df, F.col("v"), ["g"]).collect()}
    assert (out["odd"]["n"], out["odd"]["med2"], out["odd"]["mad2"]) == (5, 6, 4)
    assert out["odd"]["n_outliers"] == 1
    assert (out["even"]["n"], out["even"]["med2"], out["even"]["mad2"]) == (4, 6, 6)
    assert out["even"]["n_outliers"] == 1


def test_weighted_median_hand_cases(spark):
    from ram_datapipeline_spark.operators.quality import weighted_median

    df = spark.createDataFrame(
        [
            # group a: values 1 (w=1), 2 (w=1), 3 (w=2) -> W=4,
            # cum at 2 = 2 -> 2*2 >= 4 -> median 2 (lower median)
            ("a", 1, 1), ("a", 2, 1), ("a", 3, 2),
            # group b: one dominant weight -> median is that value
            ("b", 10, 1), ("b", 20, 100), ("b", 30, 1),
            # group c: duplicate values merge at the (group, value) grain
            ("c", 5, 1), ("c", 5, 1), ("c", 7, 1),
        ],
        "g string, v int, w int",
    )
    out = {
        r.g: r
        for r in weighted_median(
            df, ["g"], value=F.col("v"), weight=F.col("w")
        ).collect()
    }
    assert (out["a"].w_total, out["a"].w_median) == (4, 2)
    assert (out["b"].w_total, out["b"].w_median) == (102, 20)
    assert (out["c"].w_total, out["c"].w_median) == (3, 5)


def test_corr_components_exact_sums(spark):
    from ram_datapipeline_spark.operators.quality import corr_components

    df = spark.createDataFrame(
        [("g", 1, 2), ("g", 2, 4), ("g", 3, 6)], "k string, x int, y int"
    )
    r = corr_components(df, ["k"], F.col("x"), F.col("y")).collect()[0]
    assert (r.n, r.sx, r.sy) == (3, 6, 12)
    assert (r.sxx, r.syy, r.sxy) == (14, 56, 28)
    # perfectly correlated: corr_num^2 == varx*vary (cross-multiplied)
    num = r.n * r.sxy - r.sx * r.sy
    assert num * num == (r.n * r.sxx - r.sx**2) * (r.n * r.syy - r.sy**2)


def test_quantile_buckets_exact_cutoffs_and_ties(spark):
    from ram_datapipeline_spark.operators.quality import quantile_buckets

    # 10 distinct values 1..10, k=5 -> buckets of exactly 2
    df = spark.createDataFrame([(v,) for v in range(1, 11)], "v int")
    out = {
        r.v: r.bucket
        for r in quantile_buckets(df, F.col("v"), 5).collect()
    }
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 3, 6: 3, 7: 4, 8: 4,
                   9: 5, 10: 5}
    # ties share a bucket: eight equal values + two larger
    tied = spark.createDataFrame(
        [(5,)] * 8 + [(9,), (10,)], "v int"
    )
    outt = {
        (r.v, r.bucket)
        for r in quantile_buckets(tied, F.col("v"), 5).collect()
    }
    # all the 5s land in ONE bucket (1) — with 80% of mass on the value
    # 5, every cutoff IS 5, so anything above it takes the top bucket
    assert {(5, 1), (9, 5), (10, 5)} == outt


def test_rfm_scores_hand_case(spark):
    import datetime as dt

    from ram_datapipeline_spark.operators.quality import rfm_scores

    def e(uid, day, n, amount):
        return [
            (uid, dt.datetime(2024, 1, day, i), "purchase", amount, i)
            for i in range(n)
        ]

    # u1: recent, frequent, big. u2: old, rare, small. u3-u5 in between.
    rows = (
        e(1, 20, 5, 100.0) + e(2, 1, 1, 1.0) + e(3, 10, 2, 10.0)
        + e(4, 12, 3, 20.0) + e(5, 15, 4, 50.0)
    )
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, "
        "value double, event_id long",
    )
    out = {
        r.user_id: r
        for r in rfm_scores(
            events, event_filter=F.col("event_type") == "purchase"
        ).collect()
    }
    # 5 users, k=5, all metrics distinct & aligned -> scores = rank
    assert (out[1].r_score, out[1].f_score, out[1].m_score) == (5, 5, 5)
    assert out[1].rfm == 555
    assert (out[2].r_score, out[2].f_score, out[2].m_score) == (1, 1, 1)
    assert out[3].rfm == 222 and out[4].rfm == 333 and out[5].rfm == 444


def test_asof_join_forward_inclusive_and_unmatched(spark):
    import datetime as dt

    from ram_datapipeline_spark.operators.temporal import asof_join_forward

    def _t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame(
        [(1, _t(0), 10), (1, _t(5), 11), (1, _t(30), 12), (2, _t(0), 13)],
        "user_id long, ts timestamp, view_id long",
    )
    right = spark.createDataFrame(
        [(1, _t(5), 500), (1, _t(20), 600)],
        "user_id long, ts timestamp, cents long",
    )
    out = {
        r.view_id: r
        for r in asof_join_forward(
            left, right, on="user_id", right_cols=["cents"]
        ).collect()
    }
    assert out[10].cents == 500            # earliest future right
    assert out[11].cents == 500            # equal ts matches (inclusive)
    assert out[11].ts_right == _t(5)
    assert out[12].cents is None           # nothing after 00:30
    assert out[13].cents is None           # key with no right rows


def test_asof_join_nearest_directions_and_tie(spark):
    import datetime as dt

    from ram_datapipeline_spark.operators.temporal import asof_join_nearest

    def _t(m, s=0):
        return dt.datetime(2024, 1, 1, 0, m, s)

    left = spark.createDataFrame(
        [(1, _t(10), 1), (1, _t(21), 2), (1, _t(15), 3), (2, _t(0), 4)],
        "user_id long, ts timestamp, view_id long",
    )
    right = spark.createDataFrame(
        [(1, _t(12), 500), (1, _t(18), 600)],
        "user_id long, ts timestamp, cents long",
    )
    out = {
        r.view_id: r
        for r in asof_join_nearest(
            left, right, on="user_id", right_cols=["cents"]
        ).collect()
    }
    assert out[1].cents == 500   # 10 -> nearest is 12 (forward, 2 min)
    assert out[2].cents == 600   # 21 -> nearest is 18 (backward, 3 min)
    # 15 is equidistant from 12 and 18 -> tie goes to the EARLIER row
    assert out[3].cents == 500 and out[3].ts_right == _t(12)
    assert out[4].cents is None  # key with no right rows


def test_asof_family_tolerance_bounds(spark):
    import datetime as dt

    from ram_datapipeline_spark.operators.temporal import (
        asof_join,
        asof_join_forward,
        asof_join_nearest,
    )

    def _t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame(
        [(1, _t(30), 1)], "user_id long, ts timestamp, view_id long"
    )
    right = spark.createDataFrame(
        [(1, _t(10), 500), (1, _t(33), 600)],
        "user_id long, ts timestamp, cents long",
    )
    five_min = 5 * 60 * 1_000_000

    # backward: match at 00:10 is 20 min behind -> rejected at 5 min
    b = asof_join(
        left, right, on="user_id", right_cols=["cents"],
        tolerance_us=five_min,
    ).collect()[0]
    assert b.cents is None and b.ts_right is None
    # ...but accepted with a wide-enough bound
    b2 = asof_join(
        left, right, on="user_id", right_cols=["cents"],
        tolerance_us=30 * 60 * 1_000_000,
    ).collect()[0]
    assert b2.cents == 500

    # forward: 00:33 is 3 min ahead -> inside 5 min
    f = asof_join_forward(
        left, right, on="user_id", right_cols=["cents"],
        tolerance_us=five_min,
    ).collect()[0]
    assert f.cents == 600
    f2 = asof_join_forward(
        left, right, on="user_id", right_cols=["cents"],
        tolerance_us=2 * 60 * 1_000_000,
    ).collect()[0]
    assert f2.cents is None

    # nearest: the NEARER candidate (backward, 20 min) is out of bounds;
    # the farther-direction forward match (3 min) must still win — the
    # bound applies per direction BEFORE the nearer-pick
    n = asof_join_nearest(
        left, right, on="user_id", right_cols=["cents"],
        tolerance_us=five_min,
    ).collect()[0]
    assert n.cents == 600
    n2 = asof_join_nearest(
        left, right, on="user_id", right_cols=["cents"],
        tolerance_us=60 * 1_000_000,
    ).collect()[0]
    assert n2.cents is None


def test_asof_family_intra_ts_tiebreak_deterministic(spark):
    import datetime as dt

    from ram_datapipeline_spark.operators.temporal import (
        asof_join,
        asof_join_forward,
        asof_join_nearest,
    )

    def _t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame(
        [(1, _t(20), 1)], "user_id long, ts timestamp, view_id long"
    )
    # three right rows on the SAME (key, ts) — without a tiebreak the
    # carried payload depends on shuffle order; with tiebreak_col the
    # greatest order_id must win in every direction, repeatably
    right = spark.createDataFrame(
        [(1, _t(20), 100, 7), (1, _t(20), 200, 9), (1, _t(20), 300, 8)],
        "user_id long, ts timestamp, cents long, order_id long",
    ).repartition(8)
    for fn in (asof_join, asof_join_forward, asof_join_nearest):
        for _ in range(3):
            r = fn(
                left, right, on="user_id", right_cols=["cents"],
                tiebreak_col="order_id",
            ).collect()[0]
            assert r.cents == 200, fn.__name__


def test_asof_tiebreak_duplicate_tiebreak_values_still_deterministic(spark):
    """ADVICE r9: rows sharing (key, ts, tiebreak) but differing in
    payload must resolve deterministically — the dedupe window now
    extends its sort over the remaining orderable payload columns, so
    the greatest payload wins repeatably under any shuffle order."""
    import datetime as dt

    from ram_datapipeline_spark.operators.temporal import asof_join

    t = dt.datetime(2024, 1, 1, 0, 20)
    left = spark.createDataFrame(
        [(1, t, 1)], "user_id long, ts timestamp, view_id long"
    )
    right = spark.createDataFrame(
        [(1, t, 100, 9), (1, t, 300, 9), (1, t, 200, 9)],
        "user_id long, ts timestamp, cents long, order_id long",
    ).repartition(8)
    for _ in range(3):
        r = asof_join(
            left, right, on="user_id", right_cols=["cents"],
            tiebreak_col="order_id",
        ).collect()[0]
        assert r.cents == 300


def test_quantile_buckets_k_edge_cases(spark):
    import pytest

    from ram_datapipeline_spark.operators.quality import quantile_buckets

    df = spark.createDataFrame([(v,) for v in range(1, 11)], "v int")
    # k=1: every row in bucket 1, layout preserved, no AttributeError
    out = quantile_buckets(df, F.col("v"), 1).collect()
    assert len(out) == 10 and all(r.bucket == 1 for r in out)
    with pytest.raises(ValueError, match="k >= 1"):
        quantile_buckets(df, F.col("v"), 0)


def test_quantile_buckets_single_cutoff_aggregate_plan(spark):
    """ADVICE r8: cutoffs must come from ONE conditional aggregate over
    the staged cumulative table, not k-1 unioned re-evaluations of the
    counts+window subtree. At k=5 the old shape had 4 separate
    HashAggregate->Window chains; the new plan has no Union at all."""
    from ram_datapipeline_spark.operators.quality import quantile_buckets

    df = spark.createDataFrame([(v,) for v in range(1, 101)], "v int")
    plan = (
        quantile_buckets(df, F.col("v"), 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Union" not in plan, plan


def test_rrf_fuse_hand_case_and_validation(spark):
    import pytest

    from ram_datapipeline_spark.operators.text_ops import rrf_fuse

    a = spark.createDataFrame(
        [(1, 100), (2, 90), (3, 80)], "doc_id long, score long"
    )
    b = spark.createDataFrame(
        [(3, 7), (2, 5), (4, 3)], "doc_id long, score long"
    )
    out = {r.doc_id: r for r in rrf_fuse([a, b], k=10).collect()}
    S = 1_000_000_000_000
    # ranks: a -> 1:1, 2:2, 3:3 ; b -> 3:1, 2:2, 4:3
    assert out[2].rrf_score == S // 62 + S // 62
    assert out[3].rrf_score == S // 63 + S // 61
    assert out[1].rrf_score == S // 61 and out[1].n_systems == 1
    assert out[4].rrf_score == S // 63 and out[4].n_systems == 1
    # reciprocal sums are convex: a 1st+3rd (doc 3) edges out a
    # 2nd+2nd (doc 2); both dominate the single-system docs
    order = [
        r.doc_id
        for r in rrf_fuse([a, b], k=10)
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .collect()
    ]
    assert order[:2] == [3, 2] and set(order[2:]) == {1, 4}
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


def test_pareto_front_2d_hand_cases(spark):
    from ram_datapipeline_spark.operators.relational import pareto_front_2d

    rows = [
        # (id, x, y)
        (1, 10, 1),   # front (best x)
        (2, 8, 5),    # front
        (3, 8, 3),    # dominated by 2 (same x, lower y)
        (4, 5, 5),    # dominated by 2 (lower x, same y)
        (5, 3, 9),    # front
        (6, 3, 9),    # duplicate pair of 5 -> BOTH kept (no strict)
        (7, 1, 8),    # dominated by 5/6
        (8, None, 99),  # null x -> dropped
        (9, 99, None),  # null y -> dropped
    ]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r.id for r in pareto_front_2d(df, "x", "y").collect()}
    assert got == {1, 2, 5, 6}

    # brute-force cross-check on a deterministic blob
    import itertools

    pts = [(i, (i * 37) % 101, (i * 61) % 97) for i in range(200)]
    df2 = spark.createDataFrame(pts, "id long, x long, y long")
    got2 = {r.id for r in pareto_front_2d(df2, "x", "y", n_partitions=5).collect()}
    want2 = {
        i for i, x, y in pts
        if not any(
            qx >= x and qy >= y and (qx > x or qy > y)
            for _, qx, qy in pts
        )
    }
    assert got2 == want2


def test_global_prefix_max_matches_window_replay(spark):
    from pyspark.sql import Window

    from ram_datapipeline_spark.operators.layout import global_prefix_max

    df = spark.createDataFrame(
        [(i, (i * 53) % 211, (i * 29) % 83) for i in range(500)],
        "id long, k long, v long",
    )
    got = {
        r.id: r.pm
        for r in global_prefix_max(
            df, [F.col("k").desc(), F.col("id").desc()], "v",
            n_partitions=7, out_col="pm",
        ).collect()
    }
    w = (
        Window.orderBy(F.col("k").desc(), F.col("id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r.id: r.pm
        for r in df.select("id", F.max("v").over(w).alias("pm")).collect()
    }
    assert got == want


def test_profile_table_kmv_string_routes_match_md5_replay(spark):
    """r10: string columns go through the HLL router — a near-unique
    string column takes the threshold-CERTIFIED path (map-side filter,
    no raw-value exchange), a 3-value string column skips certification
    entirely (its md5-per-row draw was measured pure waste at the 64x
    probe) — and BOTH estimates must equal the driver-side md5 bottom-k
    replay, proving route choice changes nothing."""
    import hashlib

    from ram_datapipeline_spark.operators.quality import profile_table

    n, k = 4000, 8  # thr = 64*8/4000 = 0.128 < 1
    df = spark.range(n).select(
        F.col("id").cast("string").alias("hi"),         # near-unique
        (F.col("id") % 3).cast("string").alias("lo"),   # 3 distincts
    )
    out = {
        r["col_name"]: r["n_distinct"]
        for r in profile_table(df, distinct_mode="kmv", kmv_k=k).collect()
    }

    def md5_u(v: str) -> float:
        return int(hashlib.md5(v.encode()).hexdigest()[:13], 16) / 2.0**52

    def replay(values) -> float:
        us = sorted({md5_u(v) for v in values})
        return float(len(us)) if len(us) < k else (k - 1) / us[k - 1]

    assert out["hi"] == replay(str(i) for i in range(n))
    assert out["lo"] == replay(["0", "1", "2"]) == 3.0
    assert n * 0.5 <= out["hi"] <= n * 2.0, out["hi"]


def test_ks_one_vs_rest_identical_and_disjoint(spark):
    """Two groups with IDENTICAL value multisets are indistinguishable
    from their rest (ks_num = 0); a group fully shifted off the rest's
    support attains the supremum D = 1 (ks_num = ks_den)."""
    from ram_datapipeline_spark.operators.quality import ks_one_vs_rest

    rows = []
    for i, v in enumerate([1.0, 2.0, 3.0, 4.0]):
        rows.append(("a", v, i))
        rows.append(("b", v, 100 + i))
    for i, v in enumerate([10.0, 11.0, 12.0, 13.0]):
        rows.append(("c", v, 200 + i))
    df = spark.createDataFrame(rows, "g string, value double, i long")
    out = {
        r.g: r
        for r in ks_one_vs_rest(
            df, "g", F.floor(F.col("value") * 100.0 + 0.5)
        ).collect()
    }
    # c is disjoint from a∪b: D = 1
    assert out["c"].ks_num == out["c"].ks_den and out["c"].ks_d == 1.0
    # a's rest is b (identical) + c (shifted above): the ECDF gap below
    # v=400 is cum_a*(8) - cum_rest*4 = 4*cum_a - ... hand value:
    # at v=400: cum_a=4, cum_rest=4 -> |4*8 - 4*4| = 16 over den 32
    assert out["a"].ks_den == 4 * 8
    assert out["a"].ks_num == 16 and out["a"].ks_d == 0.5
    assert out["a"].n_g == 4 and out["a"].n_rest == 8


def test_ks_one_vs_rest_zero_for_proportional_groups(spark):
    """A group whose distribution equals the rest's EXACTLY (same
    values, proportional counts) has D = 0."""
    from ram_datapipeline_spark.operators.quality import ks_one_vs_rest

    rows = []
    i = 0
    for v in [5.0, 7.0]:
        rows.append(("x", v, i)); i += 1
        for _ in range(2):  # rest has the same distribution, 2x mass
            rows.append(("y", v, i)); i += 1
    df = spark.createDataFrame(rows, "g string, value double, i long")
    out = {r.g: r for r in ks_one_vs_rest(df, "g", F.floor(F.col("value") * 100.0 + 0.5)).collect()}
    assert out["x"].ks_num == 0 and out["x"].ks_d == 0.0
    assert out["y"].ks_num == 0


def test_mann_whitney_orderings_and_ties(spark):
    """Hand-checkable AUC values: a group entirely below its rest has
    AUC 0, entirely above has AUC 1, and a group identical to its rest
    (all values tied) sits at exactly 0.5 via midranks — all reached
    through pure BIGINT arithmetic (u2 is twice the U statistic)."""
    from ram_datapipeline_spark.operators.quality import (
        mann_whitney_one_vs_rest,
    )

    rows = []
    for i, v in enumerate([1.0, 2.0]):
        rows.append(("lo", v, i))
    for i, v in enumerate([3.0, 4.0]):
        rows.append(("hi", v, 10 + i))
    df = spark.createDataFrame(rows, "g string, value double, i long")
    out = {
        r.g: r
        for r in mann_whitney_one_vs_rest(
            df, "g", F.floor(F.col("value") * 100.0 + 0.5)
        ).collect()
    }
    assert out["lo"].u2 == 0 and out["lo"].auc == 0.0
    assert out["hi"].u2 == out["hi"].u2_den and out["hi"].auc == 1.0

    tied = spark.createDataFrame(
        [("a", 5.0, 1), ("a", 5.0, 2), ("b", 5.0, 3), ("b", 5.0, 4)],
        "g string, value double, i long",
    )
    t = {r.g: r for r in mann_whitney_one_vs_rest(tied, "g", F.floor(F.col("value") * 100.0 + 0.5)).collect()}
    # midranks: every rank is (N+1)/2 = 2.5 -> 2R = 10, 2U = 10-6 = 4, den 8
    assert t["a"].u2 == 4 and t["a"].u2_den == 8 and t["a"].auc == 0.5


def test_funnel_latency_exact_median_and_counts(spark):
    """Three users complete signup->click with latencies 10s/20s/40s:
    median is the SELECTED middle (20s), mean the exact rational
    70/3 s; one of them converts to purchase, and a user who signs up
    but never clicks counts in n_entered only."""
    import datetime as dt

    from ram_datapipeline_spark import queries as Q

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(s):
        return base + dt.timedelta(seconds=s)

    rows = [
        # user 1: signup, click +10s, purchase +15s
        (1, at(0), 1, "signup", 1.0, "{}"),
        (2, at(10), 1, "click", 1.0, "{}"),
        (3, at(25), 1, "purchase", 1.0, "{}"),
        # user 2: signup, click +20s
        (4, at(0), 2, "signup", 1.0, "{}"),
        (5, at(20), 2, "click", 1.0, "{}"),
        # user 3: signup, click +40s
        (6, at(0), 3, "signup", 1.0, "{}"),
        (7, at(40), 3, "click", 1.0, "{}"),
        # user 4: signup only
        (8, at(0), 4, "signup", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        # the builder loads from a sf_dir; replay through a temp fixture
        events.write.parquet(d + "/events.parquet")
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"]:
            spark.range(0).write.parquet(d + f"/{t}.parquet")
        out = {
            r.stage: r
            for r in Q.REGISTRY["ev_funnel_latency"].builder(spark, d).collect()
        }
    sc = out["signup_to_click"]
    assert (sc.n_entered, sc.n_converted) == (4, 3)
    assert sc.min_us == 10_000_000 and sc.max_us == 40_000_000
    assert sc.med2_us == 40_000_000 and sc.median_us == 20_000_000.0
    assert sc.mean_us == 70_000_000.0 / 3.0
    cp = out["click_to_purchase"]
    assert (cp.n_entered, cp.n_converted) == (3, 1)
    assert cp.med2_us == 2 * 15_000_000


def test_cramers_v_perfect_and_independent(spark):
    """Hand 2x2 cases: a perfectly-associated table reaches V = 1
    (chi2_fp = 16 at n=4 via the per-cell fixed-point terms including
    the empty cells' exact expectation contribution); a proportional
    table is exactly independent (chi2_fp = 0, V = 0)."""
    from ram_datapipeline_spark.operators.quality import cramers_v_assoc

    perfect = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2), ("b", 2)], "g string, h int"
    )
    row = cramers_v_assoc(perfect, F.col("g"), F.col("h").cast("long")).collect()[0]
    assert (row.n, row.r_levels, row.c_levels) == (4, 2, 2)
    assert row.chi2_fp == 16 and row.chi2 == 4.0 and row.cramers_v == 1.0

    indep = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 2),
         ("b", 1), ("b", 2), ("a", 1), ("a", 2)],
        "g string, h int",
    )
    row = cramers_v_assoc(indep, F.col("g"), F.col("h").cast("long")).collect()[0]
    assert row.chi2_fp == 0 and row.cramers_v == 0.0


def test_spearman_survives_int64_overflow_scale(spark):
    """r11 regression (256x probe finding): one key with 1.4M ranked
    rows pushes the doubled-midrank sum-of-squares past 2^63
    (4n^3/3 at n=1.4e6 is ~3.7e18... with the doubled ranks' factor it
    crosses; the int64 accumulators threw ARITHMETIC_OVERFLOW at the
    256x probe). The DECIMAL(38,0) accumulators must deliver the exact
    rho = 1.0 for a strictly monotone series instead of throwing."""
    from ram_datapipeline_spark.operators.quality import spearman_corr

    n = 1_400_000
    df = spark.range(1, n + 1).select(
        F.lit("k").alias("g"),
        F.col("id").alias("a"),
        (F.col("id") * 2).alias("b"),
    )
    out = spearman_corr(df, ["g"], F.col("a"), F.col("b")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == n
    # strictly increasing both sides: rho exactly 1.0
    assert r["rho"] == 1.0
    # the sufficient statistics exceeded int64: vxn = n*Sxx - Sx^2 with
    # Sxx ~ 4n^3/3 > 2^63 — reaching here without ARITHMETIC_OVERFLOW
    # is the regression assertion; sanity-check the moment is real
    assert r["vxn"] > float(2**63)


def test_spearman_monotone_reversed_and_ties(spark):
    """rho = +1 under any monotone map (values 1,2,3 -> 10,100,1000),
    -1 when reversed, and NULL when one side is constant (zero rank
    variance); midranks keep ties exact."""
    from ram_datapipeline_spark.operators.quality import spearman_corr

    rows = [
        ("up", 1, 10), ("up", 2, 100), ("up", 3, 1000),
        ("down", 1, 1000), ("down", 2, 100), ("down", 3, 10),
        ("flat", 1, 7), ("flat", 2, 7), ("flat", 3, 7),
    ]
    df = spark.createDataFrame(rows, "g string, a long, b long")
    out = {
        r.g: r
        for r in spearman_corr(df, ["g"], F.col("a"), F.col("b")).collect()
    }
    assert out["up"].rho == 1.0
    assert out["down"].rho == -1.0
    assert out["flat"].vyn == 0 and out["flat"].rho is None


def test_gini_equal_and_concentrated(spark):
    """All-equal values give G = 0 exactly; one holder owning
    everything gives G = (n-1)/n (0.75 at n=4) — the textbook
    extremes, reached via the exact integer numerator."""
    from ram_datapipeline_spark.operators.quality import gini_coefficient

    rows = [("eq", 5.0, i) for i in range(4)] + [
        ("conc", 0.0, 10), ("conc", 0.0, 11), ("conc", 0.0, 12),
        ("conc", 1.0, 13),
    ]
    df = spark.createDataFrame(rows, "g string, value double, i long")
    out = {
        r.g: r
        for r in gini_coefficient(
            df, ["g"], F.floor(F.col("value") * 100.0 + 0.5), "i"
        ).collect()
    }
    assert out["eq"].gini_num == 0 and out["eq"].gini == 0.0
    assert out["conc"].gini_num == 300 and out["conc"].gini_den == 400
    assert out["conc"].gini == 0.75


def test_power_users_pareto_hand_case(spark):
    """Four users with cent totals 7000/2000/900/100: top-1% clamps to
    the single biggest user (share 0.7), top-50% takes two users
    (share 0.9), top-10% also clamps to one."""
    import datetime as dt
    import tempfile

    from ram_datapipeline_spark import queries as Q

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid, total in [(1, 70.0), (2, 20.0), (3, 9.0), (4, 1.0)]:
        rows.append((eid, base, uid, "click", total, "{}"))
        eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        events.write.parquet(d + "/events.parquet")
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"]:
            spark.range(0).write.parquet(d + f"/{t}.parquet")
        out = {
            r.pct: r
            for r in Q.REGISTRY["ev_power_users_pareto"].builder(spark, d).collect()
        }
    assert out[1].k_users == 1 and out[1].top_cents == 7000
    assert out[1].share == 0.7
    assert out[10].k_users == 1 and out[10].share == 0.7
    assert out[50].k_users == 2 and out[50].top_cents == 9000
    assert out[50].share == 0.9


def test_benford_perfect_and_uniform(spark):
    """A multiset exactly matching the 1e-9 fixed-point Benford weights
    is impossible at small n, but a single-digit degenerate group is a
    clean extreme: all values starting with 9 give mad_num =
    n*(1e9 - exp_fp_9)... checked directly; and the digit extraction
    skips zero values."""
    from ram_datapipeline_spark.operators.quality import (
        BENFORD_FP,
        benford_deviation,
    )

    rows = [("nines", 9.0, 1), ("nines", 95.0, 2), ("nines", 0.0, 3)]
    df = spark.createDataFrame(rows, "g string, value double, i long")
    out = benford_deviation(
        df, "g", F.floor(F.col("value") * 100.0 + 0.5)
    ).collect()[0]
    assert out.n == 2  # the zero row is excluded
    # digit 9 observed twice: |2e9 - 2*exp_9| vs worst over other digits
    # |0 - 2*exp_1| = 2*301029996 < |2e9 - 2*45757491| = 1908485018
    assert out.mad_num == 2 * (10**9 - BENFORD_FP[8])
    assert abs(out.mad - out.mad_num / 2e9) < 1e-15


def test_anova_f_identical_vs_shifted(spark):
    """Identical group means give SSB = 0 (F = 0); a clean shift with
    zero within-variance gives SSW = 0 (F NULL by the guard); the
    hand case with within-variance matches the textbook value."""
    from ram_datapipeline_spark.operators.quality import anova_f_oneway

    same = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 3.0, 2), ("b", 1.0, 3), ("b", 3.0, 4)],
        "g string, value double, i long",
    )
    r = anova_f_oneway(same, "g", F.floor(F.col("value") * 100.0 + 0.5)).collect()[0]
    assert r.ssb == 0 and r.f_stat == 0.0

    # groups (100,300) and (300,500): SSB = 4*100^2 = 40000 cents^2?
    shifted = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 3.0, 2), ("b", 3.0, 3), ("b", 5.0, 4)],
        "g string, value double, i long",
    )
    r = anova_f_oneway(shifted, "g", F.floor(F.col("value") * 100.0 + 0.5)).collect()[0]
    # means 200 vs 400, grand 300: ssb = 2*(100^2)*2 = 40000
    assert r.ssb == 40000
    # ssw = per group sum (x-mean)^2 = 2*10000 + 2*10000 = 40000
    assert r.ssw == 40000
    # F = (40000/1) / (40000/2) = 2.0
    assert r.f_stat == 2.0


def test_drift_screens_null_value_discipline(spark):
    """Review-find regressions: NULL values must be excluded CONSISTENTLY
    (counts, sums, and grid mass). A NULL-valued row changes nothing in
    KS, Mann-Whitney, Gini, or ANOVA."""
    from ram_datapipeline_spark.operators.quality import (
        anova_f_oneway,
        gini_coefficient,
        ks_one_vs_rest,
        mann_whitney_one_vs_rest,
    )

    clean = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 2), ("b", 3.0, 3), ("b", 4.0, 4)],
        "g string, value double, i long",
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [("a", None, 9), ("b", None, 10)], "g string, value double, i long"
        )
    )
    cents = F.floor(F.col("value") * 100.0 + 0.5)
    for op in (ks_one_vs_rest, mann_whitney_one_vs_rest):
        want = sorted(map(tuple, op(clean, "g", cents).collect()))
        got = sorted(map(tuple, op(dirty, "g", cents).collect()))
        assert got == want, op.__name__
    want = sorted(map(tuple, gini_coefficient(clean, ["g"], cents, "i").collect()))
    got = sorted(map(tuple, gini_coefficient(dirty, ["g"], cents, "i").collect()))
    assert got == want
    assert (
        anova_f_oneway(dirty, "g", cents).collect()
        == anova_f_oneway(clean, "g", cents).collect()
    )


def test_anova_ssb_clamped_nonnegative(spark):
    """Review find: identical group means with odd S^2/n remainders used
    to emit ssb = -1 (F = -1.0, out of domain). Clamped to 0 now."""
    from ram_datapipeline_spark.operators.quality import anova_f_oneway

    df = spark.createDataFrame(
        [("a", 0.01, 1), ("a", 0.02, 2), ("b", 0.01, 3), ("b", 0.02, 4)],
        "g string, value double, i long",
    )
    r = anova_f_oneway(df, "g", F.floor(F.col("value") * 100.0 + 0.5)).collect()[0]
    assert r.ssb == 0 and r.f_stat == 0.0


def test_funnel_latency_zero_conversion_stage_present(spark):
    """Review find: a stage with zero conversions must still appear with
    n_converted = 0 and NULL latency stats."""
    import datetime as dt
    import tempfile

    from ram_datapipeline_spark import queries as Q

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "signup", 1.0, "{}"),
        (2, base + dt.timedelta(seconds=5), 1, "click", 1.0, "{}"),
        # nobody purchases
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        events.write.parquet(d + "/events.parquet")
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"]:
            spark.range(0).write.parquet(d + f"/{t}.parquet")
        out = {
            r.stage: r
            for r in Q.REGISTRY["ev_funnel_latency"].builder(spark, d).collect()
        }
    cp = out["click_to_purchase"]
    assert (cp.n_entered, cp.n_converted) == (1, 0)
    assert cp.med2_us is None and cp.mean_us is None


def test_interval_merge_equal_timestamp_determinism(spark):
    """Review find: two events at the SAME timestamp after a gap must
    both land in the same new island regardless of shuffle order."""
    import datetime as dt
    import tempfile

    from ram_datapipeline_spark import queries as Q

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "a", 1.0, "{}"),
        (5, base + dt.timedelta(seconds=300), 1, "a", 1.0, "{}"),
        (6, base + dt.timedelta(seconds=300), 1, "a", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        events.write.parquet(d + "/events.parquet")
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"]:
            spark.range(0).write.parquet(d + f"/{t}.parquet")
        got = sorted(
            (r.island, r.n_intervals)
            for r in Q.REGISTRY["ts_interval_merge"].builder(spark, d).collect()
        )
    assert got == [(0, 1), (1, 2)]
