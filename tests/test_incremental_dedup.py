"""Incremental cross-snapshot dedup (VERDICT r9 #7): a new batch is
deduped against a persisted, bucketed corpus band index without
re-minhashing the corpus; the result must be IDENTICAL to running
full-corpus LSH from scratch and restricting to the batch."""

from __future__ import annotations

from pyspark.sql import functions as F

from ram_datapipeline_spark.operators.dedup import (
    incremental_lsh_dedup,
    minhash_band_index,
    minhash_lsh_pairs,
    write_minhash_index,
)

# ids 1-3 corpus, 11-15 batch, 100 corpus (LARGER than every batch id —
# proves corpus partners qualify regardless of id order)
_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "how vexingly quick daft zebras jump today"),
    (100, "sphinx of black quartz judge my vow now"),
    (11, "the quick brown fox jumps over the lazy dog"),   # dup of corpus 1
    (12, "a completely unique batch document about spark"),
    (13, "a completely unique batch document about spark"),  # dup of batch 12
    (14, "sphinx of black quartz judge my vow now"),       # dup of corpus 100
    (15, "short"),                                          # < 3 tokens: no shingles
]
def _batch_pred():
    return F.col("doc_id").between(11, 15)


def _setup(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    corpus = docs.where(~_batch_pred())
    batch = docs.where(_batch_pred())
    write_minhash_index(
        minhash_band_index(corpus), "tmp_inc_dedup_idx", n_buckets=4
    )
    return docs, batch, spark.table("tmp_inc_dedup_idx")


def test_incremental_matches_full_corpus_lsh(spark):
    docs, batch, idx = _setup(spark)
    got = {
        r.doc_id: (r.is_dup, r.dup_of)
        for r in incremental_lsh_dedup(batch, idx).collect()
    }
    # full-corpus replay: LSH pairs over corpus ∪ batch, restricted to
    # batch docs with corpus partners (any) or earlier batch partners
    pairs = minhash_lsh_pairs(docs).collect()
    batch_ids = {d for d, _ in _DOCS if 11 <= d <= 15}
    partners: dict[int, list[int]] = {}
    for p in pairs:
        for new, other in ((p.doc_a, p.doc_b), (p.doc_b, p.doc_a)):
            if new in batch_ids and (
                other not in batch_ids or other < new
            ):
                partners.setdefault(new, []).append(other)
    want = {
        d: (d in partners, min(partners[d]) if d in partners else None)
        for d in batch_ids
    }
    assert got == want
    # and the hand-known verdicts hold
    assert got[11] == (True, 1)
    assert got[13] == (True, 12)
    assert got[14] == (True, 100)
    assert got[12][0] is False and got[15][0] is False


def test_incremental_bucketed_smj_no_corpus_rehash(spark):
    """With broadcast off, the probe join is a sort-merge join that
    exploits the index's bucketed layout (Bucketed: true on the corpus
    scan — the corpus side never exchanges), and the plan computes no
    md5 at probe time (batch hashing ran once into the checkpoint)."""
    _, batch, idx = _setup(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = incremental_lsh_dedup(batch, idx, broadcast_batch=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "md5" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_empty_corpus_and_empty_batch(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    corpus = docs.where(~_batch_pred())
    batch = docs.where(_batch_pred())
    # empty corpus: only intra-batch dups remain
    write_minhash_index(
        minhash_band_index(corpus.limit(0)), "tmp_inc_dedup_idx0", n_buckets=4
    )
    got = {
        r.doc_id: (r.is_dup, r.dup_of)
        for r in incremental_lsh_dedup(
            batch, spark.table("tmp_inc_dedup_idx0")
        ).collect()
    }
    assert got[13] == (True, 12)
    assert all(not got[d][0] for d in (11, 12, 14, 15))
    # empty batch: empty result frame with the right schema
    write_minhash_index(
        minhash_band_index(corpus), "tmp_inc_dedup_idx1", n_buckets=4
    )
    empty = incremental_lsh_dedup(
        batch.limit(0), spark.table("tmp_inc_dedup_idx1")
    )
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "is_dup", "dup_of"]


def test_incremental_components_bridge_merges_corpus_clusters(spark, cc_path):
    """The hard case: a single batch document collides with TWO standing
    corpus clusters — incremental maintenance must merge them (and
    relabel the losing cluster's members) exactly as a full recompute
    over corpus ∪ batch does. At the ``boundary`` gate the batch's mini
    graph sits exactly at the gate while the full recompute is over it,
    so the two paths are compared against each other."""
    from ram_datapipeline_spark.operators.dedup import (
        connected_components,
        incremental_components,
        incremental_lsh_candidates,
        write_labels_table,
    )

    a_txt = (
        "apple banana cherry date elderberry fig grape honeydew imbe "
        "jackfruit kiwi lemon"
    )
    b_txt = (
        "mango nectarine orange papaya quince raspberry strawberry "
        "tangerine ugli vanilla walnut ximenia"
    )
    docs = spark.createDataFrame(
        [(1, a_txt), (2, a_txt), (3, b_txt), (4, b_txt),
         (11, a_txt + " " + b_txt), (12, "zeppelin yacht xylophone")],
        "doc_id long, text string",
    )
    corpus = docs.where(F.col("doc_id") <= 4)
    batch = docs.where(F.col("doc_id") >= 11)
    write_minhash_index(
        minhash_band_index(corpus), "tmp_inc_cc_idx", n_buckets=4
    )
    edges = incremental_lsh_candidates(batch, spark.table("tmp_inc_cc_idx"))
    cc_path.gate(edges.count())  # the mini graph keeps one edge per pair
    write_labels_table(
        connected_components(minhash_lsh_pairs(corpus), corpus),
        "tmp_inc_cc_lab",
    )
    got = {
        r.doc_id: r.component
        for r in incremental_components(
            spark.table("tmp_inc_cc_lab"), batch.select("doc_id"), edges
        ).collect()
    }
    want = {
        r.doc_id: r.component
        for r in connected_components(
            minhash_lsh_pairs(docs), docs
        ).collect()
    }
    # the bridge really merged the two corpus clusters, and the isolated
    # batch doc stays its own component
    assert got == want == {1: 1, 2: 1, 3: 1, 4: 1, 11: 1, 12: 12}
    # loop runs among: corpus labels, mini graph, full recompute
    want_loops = {"local": 0, "boundary": 1, "loop": 3}[cc_path.mode]
    assert cc_path.loop_calls == want_loops


def _reference_minhashes(text: str, n_perms: int = 16) -> list[int] | None:
    """Pure-Python MinHash of one document, the contract of
    ``minhash_signatures``: distinct word 3-gram shingles, one md5 per
    shingle split into two 10-hex-digit halves (h1, h2), and per
    permutation p the minimum of ``(h1 + p*h2) mod 2^40``. None when the
    document has fewer than 3 tokens (no shingles, no signature row)."""
    import hashlib

    toks = text.split(" ")
    grams = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    if not grams:
        return None
    halves = []
    for g in grams:
        hx = hashlib.md5(g.encode()).hexdigest()
        halves.append((int(hx[:10], 16), int(hx[10:20], 16)))
    return [
        min((h1 + p * h2) % (1 << 40) for h1, h2 in halves)
        for p in range(n_perms)
    ]


def test_minhash_builders_match_python_reference(spark):
    """Golden values for the SQL-expression builders: every signature
    slot and every ``bkey`` equals a pure-Python md5 replay, with the
    column names and types unchanged. The documents cover a short doc
    (< 3 tokens: absent from both outputs), repeated shingles (counted
    once), and a near-copy (another doc plus " dup")."""
    from ram_datapipeline_spark.operators.dedup import minhash_signatures

    base = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, base),
        (2, "to be or not to be or not to be"),
        (3, "too short"),
        (4, base + " dup"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = {d: _reference_minhashes(t) for d, t in rows}
    ref = {d: h for d, h in ref.items() if h is not None}
    assert set(ref) == {1, 2, 4}

    sigs = minhash_signatures(docs)
    assert [(f.name, f.dataType.simpleString()) for f in sigs.schema] == [
        ("doc_id", "bigint"), *((f"h{p}", "bigint") for p in range(16))
    ]
    assert {r[0]: list(r[1:]) for r in sigs.collect()} == ref

    index = minhash_band_index(docs)
    assert [(f.name, f.dataType.simpleString()) for f in index.schema] == [
        ("doc_id", "bigint"), ("bkey", "string")
    ]
    want = sorted(
        (d, f"{b}:{h[2 * b]}-{h[2 * b + 1]}")
        for d, h in ref.items()
        for b in range(8)
    )
    assert sorted((r.doc_id, r.bkey) for r in index.collect()) == want


def _num_buckets(spark, table: str) -> int:
    info = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    return int(info["Num Buckets"])


def test_index_buckets_follow_parallelism_and_stay_colocated(spark):
    """Without ``n_buckets`` the index gets one bucket per core
    (``defaultParallelism``), and a ``bkey`` self-join of it still
    plans no Exchange on either side: the bucket co-location holds at
    the derived count."""
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    write_minhash_index(minhash_band_index(docs), "tmp_inc_dedup_idx_dp")
    assert _num_buckets(spark, "tmp_inc_dedup_idx_dp") == (
        spark.sparkContext.defaultParallelism
    )
    idx = spark.table("tmp_inc_dedup_idx_dp")
    a = idx.select(F.col("doc_id").alias("doc_a"), "bkey")
    b = idx.select(F.col("doc_id").alias("doc_b"), "bkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = a.join(b, "bkey")._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    assert "Exchange" not in plan


def test_append_minhash_index_keeps_table_bucket_spec(spark):
    """``append_minhash_index`` appends with the table's own bucket
    spec, whatever count the table was seeded with."""
    from ram_datapipeline_spark.operators.dedup import append_minhash_index

    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    corpus = docs.where(~_batch_pred())
    write_minhash_index(
        minhash_band_index(corpus), "tmp_inc_dedup_idx_app", n_buckets=3
    )
    append_minhash_index(
        minhash_band_index(docs.where(_batch_pred())), "tmp_inc_dedup_idx_app"
    )
    assert _num_buckets(spark, "tmp_inc_dedup_idx_app") == 3
    got = sorted(
        (r.doc_id, r.bkey) for r in spark.table("tmp_inc_dedup_idx_app").collect()
    )
    assert got == sorted(
        (r.doc_id, r.bkey) for r in minhash_band_index(docs).collect()
    )


def test_minhash_band_index_py4j_round_trips(spark):
    """Building the band index plan is a bounded number of driver-to-JVM
    round trips (one per output column, not one per expression node):
    at most 250 over a 3-row frame. The Column-API builders it replaced
    made ~2,500-3,000."""
    import py4j.clientserver as cs

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, "a b c d e dup")],
        "doc_id long, text string",
    )
    minhash_band_index(docs)  # first build pays one-off class lookups
    real = cs.ClientServerConnection.send_command
    calls = [0]

    def counting(self, command):
        calls[0] += 1
        return real(self, command)

    cs.ClientServerConnection.send_command = counting
    try:
        minhash_band_index(docs)
    finally:
        cs.ClientServerConnection.send_command = real
    assert 0 < calls[0] <= 250
