"""Corpus-assembly operators: semantic properties + plan shapes.

Oracle parity for the four gated queries lives in test_oracle_parity.py
(registry-wide); these tests pin the properties the oracles can't see —
sampling monotonicity, packing contiguity, plan broadcast/shuffle shapes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ram_datapipeline_spark.catalog import load_tables
from ram_datapipeline_spark.operators import corpus as C
from tests.conftest import SF_DIR
from tests.test_plan_properties import n_data_shuffles, n_ops, plan_text


def test_decontaminate_excludes_benchmark_and_hits_are_real(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    out = C.decontaminate(docs, benchmark_source="src0", n=4)
    rows = out.collect()
    assert rows, "fixture is known to contain contaminated docs at n=4"
    assert all(r.source != "src0" for r in rows)

    # every flagged doc genuinely shares a 4-gram with some src0 doc
    def grams(text: str) -> set[str]:
        w = text.split(" ")
        return {" ".join(w[i : i + 4]) for i in range(len(w) - 3)}

    bench = set()
    for r in docs.filter(F.col("source") == "src0").select("text").collect():
        bench |= grams(r.text)
    flagged_ids = [r.doc_id for r in rows]
    texts = {
        r.doc_id: r.text
        for r in docs.filter(F.col("doc_id").isin(flagged_ids)).collect()
    }
    for r in rows:
        shared = grams(texts[r.doc_id]) & bench
        assert len(shared) == r.hit_grams


def test_decontaminate_plan_broadcasts_benchmark(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    plan_df = C.decontaminate(docs, benchmark_source="src0", n=4)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    p = buf.getvalue()
    assert n_ops(p, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in p


def test_hash_sample_monotone_and_deterministic(spark):
    docs = load_tables(spark, SF_DIR)["documents"].select("doc_id", "source")
    small = {r.doc_id for r in C.hash_sample(docs, "doc_id", 0.2).collect()}
    large = {r.doc_id for r in C.hash_sample(docs, "doc_id", 0.7).collect()}
    assert small <= large  # raising the rate only ADDS rows
    again = {r.doc_id for r in C.hash_sample(docs, "doc_id", 0.2).collect()}
    assert small == again  # no RNG state: identical across runs
    n_total = docs.count()
    assert 0 < len(small) < len(large) < n_total


def test_stratified_sample_zero_shuffle_plan(spark):
    docs = load_tables(spark, SF_DIR)["documents"].select("doc_id", "source")
    df = C.stratified_sample(
        docs, "doc_id", "source", rates={"src0": 0.5}, default_rate=0.1
    )
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert n_data_shuffles(buf.getvalue()) == 0  # pure filter, no exchange


def test_sequence_packing_contiguous_per_shard(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    rows = C.sequence_packing(docs, budget=512).collect()
    by_shard: dict[str, list] = {}
    for r in rows:
        by_shard.setdefault(r.source, []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        expect = 0
        for r in shard_rows:
            assert r.tok_offset == expect  # docs laid end-to-end, no gaps
            assert r.offset_in_bin == r.tok_offset % 512
            assert r.bin_first == r.tok_offset // 512
            assert r.bin_first <= r.bin_last
            expect += r.n_tokens


def test_tfidf_topk_shape_and_rank_bounds(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    out = C.tfidf_topk(docs, k=3)
    # plan asserted pre-execution (post-collect explain shows the AQE final
    # plan AND the original, double-counting operators)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert n_ops(buf.getvalue(), "BroadcastHashJoin") == 1  # df table broadcast

    rows = out.collect()
    n_docs = docs.count()
    assert len(rows) == 3 * n_docs  # vocab is dense enough: 3 terms everywhere
    assert all(1 <= r.rnk <= 3 for r in rows)


# --- vector ops ---------------------------------------------------------------


def test_normalize_units_and_zero_guard(spark):
    from ram_datapipeline_spark.operators import vectors as V

    emb = load_tables(spark, SF_DIR)["embeddings"]
    rows = V.normalize(emb).select("vec_id", "nrm", "unit").collect()
    for r in rows[:50]:
        if r.nrm > 0:
            s = sum(x * x for x in r.unit)
            assert abs(s - 1.0) < 1e-9
        else:
            assert r.unit is None


def test_quantize_int8_bounds_and_dequant_error(spark):
    from ram_datapipeline_spark.operators import vectors as V

    emb = load_tables(spark, SF_DIR)["embeddings"]
    out = V.quantize_int8(emb).select("embedding", "scale_min", "scale_max", "q")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert n_data_shuffles(buf.getvalue()) == 0  # pure map

    for r in out.collect()[:50]:
        assert all(0 <= c <= 255 for c in r.q)
        span = r.scale_max - r.scale_min
        if span > 0:
            step = span / 255.0
            for x, c in zip(r.embedding, r.q):
                dequant = r.scale_min + c * step
                assert abs(dequant - x) <= step + 1e-12


def test_label_centroids_shape_and_exact_mean(spark):
    from ram_datapipeline_spark.operators import vectors as V

    emb = load_tables(spark, SF_DIR)["embeddings"]
    n_labels = emb.select("label").distinct().count()
    dim = len(emb.first().embedding)
    rows = V.label_centroids(emb).collect()
    assert len(rows) == n_labels * dim
    for r in rows[:20]:
        assert r.mean_q == r.sum_q / r.n  # single exact division


def test_segment_dedup_first_occurrence_and_rebuild(spark):
    from ram_datapipeline_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # segments: "a b c d", "e f g h"
            (2, "a b c d x y z w"),          # first segment duplicates doc 1
            (3, "a b c d e f g h"),          # fully duplicated
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in C.segment_dedup(docs, seg_words=4).collect()}
    assert out[1].kept_segments == 2 and out[1].text_dedup == "a b c d e f g h"
    assert out[2].kept_segments == 1 and out[2].text_dedup == "x y z w"
    assert out[3].kept_segments == 0 and out[3].text_dedup == ""
    assert all(out[i].n_segments == 2 for i in (1, 2, 3))


def test_segment_dedup_drops_on_fixture(spark):
    from ram_datapipeline_spark.operators import corpus as C

    docs = load_tables(spark, SF_DIR)["documents"]
    agg = (
        C.segment_dedup(docs, seg_words=4)
        .agg(
            F.sum("n_segments").alias("total"),
            F.sum("kept_segments").alias("kept"),
        )
        .first()
    )
    # the 4-word segment space over the ~30-word vocabulary collides at
    # fixture scale: dedup must drop something, but never a majority
    assert 0 < agg.kept < agg.total
    assert agg.kept > agg.total * 0.5


def test_kmeans_q8_assignment_contract(spark):
    from ram_datapipeline_spark.operators import vectors as V

    emb = load_tables(spark, SF_DIR)["embeddings"]
    n = emb.count()
    out = V.kmeans_q8(emb, k=4)
    rows = out.collect()
    assert len(rows) == n  # every vector assigned exactly once
    assert {r.cluster for r in rows} <= {0, 1, 2, 3}
    assert all(r.dist >= 0.0 for r in rows)
    # hash-stratified seeding on real data should populate every cluster
    assert len({r.cluster for r in rows}) == 4


def test_chunk_with_overlap_boundaries(spark):
    from ram_datapipeline_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"), (2, "a b")],
        "doc_id long, text string",
    )
    out = C.chunk_with_overlap(docs, chunk_words=8, overlap_words=2)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # doc 1: 10 words, stride 6 → chunks [0..7] and [6..9]
    assert rows[(1, 0)].chunk_text == "w0 w1 w2 w3 w4 w5 w6 w7"
    assert rows[(1, 1)].chunk_text == "w6 w7 w8 w9"
    assert rows[(1, 1)].chunk_words_n == 4
    assert rows[(1, 0)].n_chunks == 2
    # short doc: exactly one (short) chunk
    assert rows[(2, 0)].chunk_text == "a b" and rows[(2, 0)].n_chunks == 1
    # consecutive chunks overlap by exactly overlap_words
    a, b = rows[(1, 0)].chunk_text.split(), rows[(1, 1)].chunk_text.split()
    assert a[-2:] == b[:2]


def test_quality_funnel_monotone_single_job(spark):
    from ram_datapipeline_spark.operators import corpus as C

    docs = load_tables(spark, SF_DIR)["documents"]
    rows = (
        C.quality_funnel(
            docs,
            [
                ("len", F.col("n_chars") >= 100),
                ("lang", F.col("lang").isin("en", "de", "fr")),
            ],
        )
        .orderBy("stage_idx")
        .collect()
    )
    assert [r.stage for r in rows] == ["len", "lang"]
    # funnel algebra: each stage's input is the previous stage's output
    assert rows[1].n_in == rows[0].n_out
    assert all(r.n_out <= r.n_in and r.n_dropped == r.n_in - r.n_out for r in rows)
    assert rows[0].n_in == docs.count()


def test_snapshot_diff_statuses(spark):
    from ram_datapipeline_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(2, 20.0), (3, 99.0), (4, 40.0)], "k long, v double"
    )
    out = {r.k: r for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert out[1].status == "removed" and out[1].new_v is None
    assert 2 not in out  # unchanged filtered
    assert out[3].status == "changed" and (out[3].old_v, out[3].new_v) == (30.0, 99.0)
    assert out[4].status == "added" and out[4].old_v is None
    withu = snapshot_diff(old, new, ["k"], ["v"], include_unchanged=True)
    assert withu.filter(F.col("status") == "unchanged").count() == 1


def test_domain_quota_caps_and_tiebreak(spark):
    from ram_datapipeline_spark.operators.corpus import domain_quota

    rows = [
        # source a: 3 docs, two tied on length (ids 2 < 5 break the tie)
        (1, "a", 100), (2, "a", 50), (5, "a", 50),
        # source b: under quota
        (7, "b", 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = {r.doc_id: r.domain_rank
           for r in domain_quota(df, quota=2).collect()}
    assert out == {1: 1, 2: 2, 7: 1}  # id 5 loses the tie and the quota


def test_pq_codes_matches_numpy_replay(spark):
    import numpy as np

    from ram_datapipeline_spark.operators.vectors import pq_codes

    rng = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(10)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    got = {(r.vec_id, r.subspace): (r.code, r.dist)
           for r in pq_codes(df, m=2, k=3).collect()}

    # independent replay: global q8, md5-ordered seeds, per-subspace argmin
    import hashlib

    vecs = {i: np.array(v, dtype=np.float64) for i, v in rng}
    gmn = min(v.min() for v in vecs.values())
    gmx = max(v.max() for v in vecs.values())
    codes = {
        i: np.minimum(np.floor((v - gmn) * 255.0 / (gmx - gmn)), 255).astype(np.int64)
        for i, v in vecs.items()
    }
    seed_ids = sorted(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:3]
    for (vid, sub), (code, dist) in got.items():
        cands = []
        for cid, sid in enumerate(seed_ids):
            d = int(((codes[vid][sub * 4:(sub + 1) * 4]
                      - codes[sid][sub * 4:(sub + 1) * 4]) ** 2).sum())
            cands.append((d, cid))
        assert (dist, code) == min(cands)


def test_label_propagation_two_cliques(spark, lpa_path):
    from ram_datapipeline_spark.operators.graph import label_propagation

    # two triangles {1,2,3} and {10,11,12} bridged by 3-10
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    df = spark.createDataFrame(edges, "u long, v long")
    lpa_path.gate(len(edges))
    got = {r.node: r.community
           for r in label_propagation(df, rounds=2).collect()}
    assert lpa_path.spark_calls == (1 if lpa_path.mode == "spark" else 0)

    # hand replay of 2 synchronous rounds, (max count, min label) tie-break
    sym = {}
    for a, b in edges:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    lbl = {n: n for n in sym}
    for _ in range(2):
        nxt = {}
        for n, nbrs in sym.items():
            cnt = {}
            for x in nbrs:
                cnt[lbl[x]] = cnt.get(lbl[x], 0) + 1
            nxt[n] = min(cnt, key=lambda l: (-cnt[l], l))
        lbl = nxt
    assert got == lbl


def test_label_propagation_local_equals_distributed(spark, monkeypatch):
    """The driver-local rounds reproduce the distributed loop exactly,
    schema included, for rounds 0-3 on a graph with count ties,
    self-loops, duplicate and reversed edges and a null endpoint. The ids
    are ``int``, so the shipped schema follows the input's integral type
    (``bigint`` is the two-cliques test)."""
    from ram_datapipeline_spark.operators import graph

    edges = [
        (1, 2), (1, 3), (2, 4), (3, 4),  # 4-cycle: every vote a 1-1 tie
        (4, 5), (5, 6), (6, 4),          # triangle on the cycle
        (2, 1), (1, 2), (5, 4),          # reversed and duplicate edges
        (6, 6), (7, 7),                  # self-loops; 7 has no other edge
        (8, None), (None, 9),            # null endpoints
        (8, 9), (9, 10), (10, 8), (10, 11),
    ]
    df = spark.createDataFrame(edges, "u int, v int")
    gate = graph.LOCAL_LPA_MAX_EDGES
    local_calls = []
    real_local = graph._label_propagation_local
    monkeypatch.setattr(
        graph, "_label_propagation_local",
        lambda *a: local_calls.append(a[2]) or real_local(*a),
    )
    for rounds in range(4):
        monkeypatch.setattr(graph, "LOCAL_LPA_MAX_EDGES", gate)
        local = graph.label_propagation(df, rounds=rounds)
        monkeypatch.setattr(graph, "LOCAL_LPA_MAX_EDGES", 0)
        dist = graph.label_propagation(df, rounds=rounds)
        assert local.schema == dist.schema
        assert sorted(local.collect()) == sorted(dist.collect())
    assert local_calls == [0, 1, 2, 3]
    assert {r.node for r in local.collect()} == {1, 2, 3, 4, 5, 6, 8, 9, 10, 11}


def test_repeated_spans_semantics(spark):
    """Constructed corpus: (1) a substring shared by two docs yields one
    maximal span in each, with exact token bounds; (2) text repeated only
    WITHIN one document is not flagged (min_docs=2 counts DISTINCT
    docs); (3) unique text yields nothing."""
    from ram_datapipeline_spark.operators.dedup import repeated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            # shared run at tokens 3..10
            (1, "one two " + shared + " tail1 tail2"),
            # same shared run at tokens 1..8
            (2, shared + " other words here"),
            # 8-token run repeated twice inside ONE doc only
            (3, "p q r s t u v w " + "p q r s t u v w"),
            (4, "entirely unique words that appear nowhere else at all"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in repeated_spans(docs, w=8, min_docs=2).collect()
    }
    assert got == {1: (3, 10, 1), 2: (1, 8, 1)}, got


def test_repeated_spans_merges_overlapping_windows(spark):
    """A 10-token shared run = three overlapping 8-token windows -> ONE
    span covering the whole run, n_windows=3."""
    from ram_datapipeline_spark.operators.dedup import repeated_spans

    run = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    docs = spark.createDataFrame(
        [(1, run + " xx yy"), (2, "zz " + run)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in repeated_spans(docs, w=8, min_docs=2).collect()
    }
    assert got == {1: (1, 10, 3), 2: (2, 11, 3)}, got


def _bpe_reference(word_freqs: dict[str, int], n_merges: int):
    """Independent pure-Python BPE trainer (dict-and-loop formulation —
    a genuinely different algorithm structure from the Spark fold and
    the DuckDB string replay; agreement of all three is the strongest
    oracle form per the repo's exactness rules)."""
    vocab = {tuple(w) + ("</w>",): f for w, f in word_freqs.items()}
    merges = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, l, r, l + r, cnt))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_learn_matches_independent_trainer(spark):
    """bpe_learn vs the skip-pointer reference trainer on the real
    fixture corpus — every merge decision and pair count identical."""
    from collections import Counter

    from ram_datapipeline_spark.catalog import load_tables
    from ram_datapipeline_spark.operators.corpus import bpe_learn
    from tests.conftest import SF_DIR

    docs = load_tables(spark, SF_DIR)["documents"]
    got = [
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_learn(docs, n_merges=8).collect()
    ]
    freqs = Counter(
        w
        for row in docs.select("text").collect()
        for w in row["text"].split(" ")
        if w
    )
    assert got == _bpe_reference(dict(freqs), 8)


def test_bpe_learn_sequential_self_overlap_and_collision_exact(spark):
    """Regression (round-7 ADVICE corpus.py:757, extended): sequential
    mode must stay bit-identical to one-merge-per-round training even
    when (1) an admitted pair has l == r — its created pairs (aa, a)
    have the admitted pair itself as junction pre-pair, which c_bound
    never covered, so r6 code admitted (b,</w>)=8 ahead of the
    sequential argmax (aa,a)=11 — and (2) a merged product collides
    with an existing symbol. Corpora found by randomized search against
    the reference trainer; each diverged under the r6 admission rule."""
    from ram_datapipeline_spark.operators.corpus import bpe_learn

    corpora = [
        ({"b": 2, "aaab": 6, "baaa": 5}, 3),
        ({"aaab": 4, "bb": 4, "aaa": 4}, 3),
        ({"baaa": 1, "b": 6, "aaa": 6, "aaab": 8}, 6),
    ]
    for freqs, n in corpora:
        text = " ".join(
            w for word, f in sorted(freqs.items()) for w in [word] * f
        )
        docs = spark.createDataFrame([(text,)], ["text"])
        got = [
            (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
            for r in bpe_learn(docs, n_merges=n).collect()
        ]
        assert got == _bpe_reference(freqs, n), (freqs, n, got)


def test_bpe_segment_roundtrip(spark):
    """Segmenting with the learned merges reproduces each document's
    words when subword symbols are re-concatenated (</w> marks word
    ends) — no token lost or invented."""
    from ram_datapipeline_spark.operators.corpus import bpe_learn, bpe_segment

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        ["doc_id", "text"],
    )
    merges = [
        (r["lhs"], r["rhs"]) for r in bpe_learn(docs, n_merges=5).collect()
    ]
    seg = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_segment(docs, merges).collect()
    }
    for row in docs.collect():
        joined = "".join(seg[row["doc_id"]])
        assert joined == "".join(
            w + "</w>" for w in row["text"].split(" ") if w
        )


def _bpe_batched_reference(
    word_freqs: dict[str, int], n_merges: int, window: int = 192
):
    """Independent pure-Python replay of the BATCHED admission spec:
    rank pairs (count DESC, lhs, rhs), window the top ``window``, scan
    down the ranking admitting a pair iff its {l, r, l+r} symbol set is
    disjoint from every ALREADY-ADMITTED pair's, cap at the merges
    still needed, apply the batch (non-interacting merges commute),
    repeat."""
    vocab = {tuple(w) + ("</w>",): f for w, f in word_freqs.items()}
    merges = []
    rounds = 0
    while len(merges) < n_merges:
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        rounds += 1
        ranked = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[:window]
        batch, used = [], set()
        for (l, r), cnt in ranked:
            s = {l, r, l + r}
            if not (s & used):
                batch.append((l, r, cnt))
                used |= s
                if len(batch) == n_merges - len(merges):
                    break
        for l, r, cnt in batch:
            merges.append((len(merges) + 1, l, r, l + r, cnt))
        new_vocab: dict[tuple, int] = {}
        for syms, f in vocab.items():
            out = list(syms)
            for l, r, _ in batch:
                nxt, i = [], 0
                while i < len(out):
                    if i + 1 < len(out) and out[i] == l and out[i + 1] == r:
                        nxt.append(l + r)
                        i += 2
                    else:
                        nxt.append(out[i])
                        i += 1
                out = nxt
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges, rounds


def test_bpe_learn_sequential_64_matches_reference(spark):
    """Sequential mode stays bit-identical to one-merge-per-round
    Sennrich training even at 64 merges (the c_bound batching rule is
    provably exact)."""
    from collections import Counter

    from ram_datapipeline_spark.catalog import load_tables
    from ram_datapipeline_spark.operators.corpus import bpe_learn
    from tests.conftest import SF_DIR

    docs = load_tables(spark, SF_DIR)["documents"]
    got = [
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_learn(docs, n_merges=64).collect()
    ]
    freqs = Counter(
        w
        for row in docs.select("text").collect()
        for w in row["text"].split(" ")
        if w
    )
    assert got == _bpe_reference(dict(freqs), 64)
    assert len(got) == 64


def test_bpe_learn_batched_64_few_rounds(spark):
    """VERDICT r5 #3: batched mode trains a 64-merge vocabulary in a
    handful of Spark rounds, matching the independent pure-Python
    replay of the batched admission spec decision-for-decision."""
    from collections import Counter

    from ram_datapipeline_spark.catalog import load_tables
    from ram_datapipeline_spark.operators.corpus import bpe_learn
    from tests.conftest import SF_DIR

    docs = load_tables(spark, SF_DIR)["documents"]
    got = [
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_learn(docs, n_merges=64, mode="batched").collect()
    ]
    rounds = bpe_learn.last_n_rounds
    freqs = Counter(
        w
        for row in docs.select("text").collect()
        for w in row["text"].split(" ")
        if w
    )
    ref, ref_rounds = _bpe_batched_reference(dict(freqs), 64)
    assert got == ref
    assert len(got) == 64
    assert rounds == ref_rounds
    assert rounds <= 12, f"batching ineffective: {rounds} rounds for 64 merges"


def test_bpe_learn_batched_exhaustion_rounds(spark):
    """VERDICT r6 #7: batched training at a beyond-gate vocabulary
    request (512). The fixture corpus exhausts — every word fully
    merges — at well under 512 merges (113 on current fixtures; the
    cap is corpus entropy, identical across scale factors), and the
    batching must sustain ≫1 merge/round all the way to exhaustion."""
    from ram_datapipeline_spark.catalog import load_tables
    from ram_datapipeline_spark.operators.corpus import bpe_learn
    from tests.conftest import SF_DIR

    docs = load_tables(spark, SF_DIR)["documents"]
    learned = bpe_learn(docs, n_merges=512, mode="batched").collect()
    rounds = bpe_learn.last_n_rounds
    assert 64 < len(learned) < 512, len(learned)  # exhaustion, not cap
    assert rounds <= max(12, len(learned) // 3), (rounds, len(learned))
    # exhaustion means the final vocabulary state has no adjacent pairs
    # left to merge — every learned step is distinct and well-formed
    assert len({(r["lhs"], r["rhs"]) for r in learned}) == len(learned)


def test_bpe_segment_production_vocab_scale(spark):
    """VERDICT r6 #4: segmenting with ≥4096 learned merges must keep
    plan depth AND wall time bounded. The literal-array fold stays
    constant-DEPTH but Catalyst pays ~30 s analysis/codegen on the 12k-
    literal expression (measured round 7, documented in bpe_segment),
    so `auto` switches to the broadcast+Arrow kernel above
    `literal_max`. Correctness at scale: 4088 padding pairs use
    symbols that can never occur, so the 4096-merge arrow result must
    equal the fold result of the 8 real merges alone."""
    import time

    from ram_datapipeline_spark.catalog import load_tables
    from ram_datapipeline_spark.operators.corpus import bpe_learn, bpe_segment
    from tests.conftest import SF_DIR

    docs = load_tables(spark, SF_DIR)["documents"]
    real = [
        (r["lhs"], r["rhs"]) for r in bpe_learn(docs, n_merges=8).collect()
    ]
    big = real + [(f"x{i}", f"y{i}") for i in range(4096 - len(real))]
    t0 = time.perf_counter()
    df = bpe_segment(docs, big)  # auto → arrow at this size
    plan = df._jdf.queryExecution().analyzed().numberedTreeString()
    got = {r["doc_id"]: r["bpe_tokens"] for r in df.collect()}
    wall = time.perf_counter() - t0
    assert plan.count("\n") < 10, plan[:1000]
    assert wall < 30, f"4096-merge segmentation took {wall:.1f}s"
    want = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_segment(docs, real, engine="fold").collect()
    }
    assert got == want


def test_bpe_segment_engines_agree_on_adversarial_merges(spark):
    """fold and arrow engines are output-identical on merge tables with
    self-overlap (l==r), chained products, product collisions, and
    duplicate pairs — the cases where the arrow kernel's monotone
    cursor must mirror the in-order greedy fold exactly."""
    from ram_datapipeline_spark.operators.corpus import bpe_segment

    docs = spark.createDataFrame(
        [
            (1, "aaaa aab abab baaa"),
            (2, "abc aabbcc cab ba"),
            (3, "a b ab ba aa bb"),
        ],
        "doc_id long, text string",
    )
    tables = [
        [("a", "a"), ("aa", "a"), ("aa", "aa")],          # self-overlap chain
        [("a", "b"), ("ab", "c"), ("a", "bc"), ("b", "c")],  # collision-y
        [("a", "b"), ("a", "b"), ("ab", "ab")],           # duplicate pair
        [("b", "a"), ("a", "</w>"), ("ba", "a</w>")],     # terminal marker
    ]
    for merges in tables:
        a = {
            r["doc_id"]: r["bpe_tokens"]
            for r in bpe_segment(docs, merges, engine="fold").collect()
        }
        b = {
            r["doc_id"]: r["bpe_tokens"]
            for r in bpe_segment(docs, merges, engine="arrow").collect()
        }
        assert a == b, (merges, a, b)


def test_bpe_segment_constant_plan_depth(spark):
    """The segment replay is one aggregate over a merges-array literal:
    64 merges and 4 merges produce plans of the same (small) depth — no
    per-merge expression nesting."""
    from ram_datapipeline_spark.operators.corpus import bpe_segment

    docs = spark.createDataFrame([(1, "aa ab ba bb")], ["doc_id", "text"])
    merges_64 = [(f"x{i}", f"y{i}") for i in range(64)]
    plan = bpe_segment(docs, merges_64)._jdf.queryExecution().analyzed().numberedTreeString()
    # the whole replay must collapse into a bounded number of plan nodes
    assert plan.count("\n") < 60, plan[:2000]
    # and it still executes (Catalyst can optimize + codegen it)
    assert bpe_segment(docs, merges_64).collect()[0]["bpe_tokens"][0] == "a"


def test_dsir_importance_ranks_target_like_docs_first(spark):
    """DSIR accuracy contract: documents drawn from the target
    vocabulary outscore documents from the background vocabulary, and
    the logweights match a NumPy replay of the smoothed bucket LMs to
    fixed-point (1e-9) granularity. Also: determinism across two runs."""
    import hashlib

    import numpy as np

    from ram_datapipeline_spark.operators.corpus import dsir_importance

    tgt_words = ["spark", "shuffle", "partition", "catalyst"]
    bg_words = ["cow", "meadow", "barn", "tractor"]
    mk = lambda ws, k: " ".join(ws[i % len(ws)] for i in range(k))  # noqa: E731
    raw_rows = [
        (1, mk(tgt_words, 30)),       # target-like
        (2, mk(bg_words, 30)),        # background-like
        (3, mk(tgt_words + bg_words, 30)),  # mixed
    ]
    target_rows = [(100 + i, mk(tgt_words, 40)) for i in range(3)]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")

    out = {
        r.doc_id: r for r in dsir_importance(raw, target, n_buckets=64).collect()
    }
    assert out[1].logweight > out[3].logweight > out[2].logweight

    # NumPy replay with the same md5 bucketing
    B, K = 64, 1.0

    def buckets(text, n=2):
        toks = text.split(" ")
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        return [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B for g in grams
        ]

    raw_counts = np.zeros(B)
    tgt_counts = np.zeros(B)
    per_doc = {}
    for did, text in raw_rows:
        bs = buckets(text)
        per_doc[did] = bs
        for b in bs:
            raw_counts[b] += 1
    for _, text in target_rows:
        for b in buckets(text):
            tgt_counts[b] += 1
    lam = np.log((tgt_counts + K) / (tgt_counts.sum() + K * B)) - np.log(
        (raw_counts + K) / (raw_counts.sum() + K * B)
    )
    lam_fp = np.floor(lam * 1e9)
    for did, bs in per_doc.items():
        want = sum(lam_fp[b] for b in bs) / 1e9
        assert abs(out[did].logweight - want) < 1e-12, did

    again = {
        r.doc_id: r.logweight_fp
        for r in dsir_importance(raw, target, n_buckets=64).collect()
    }
    assert again == {d: out[d].logweight_fp for d in out}


def test_dsir_importance_scores_short_documents(spark):
    """Review find: documents with fewer than n tokens must still be
    scored (zero features, zero weight), not silently dropped."""
    from ram_datapipeline_spark.operators.corpus import dsir_importance

    raw = spark.createDataFrame(
        [(1, "spark shuffle partition"), (2, "solo")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "spark shuffle spark shuffle")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dsir_importance(raw, target, n_buckets=16).collect()}
    assert set(out) == {1, 2}
    assert out[2].n_feats == 0 and out[2].logweight == 0.0
