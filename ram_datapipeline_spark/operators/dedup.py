"""Deduplication operators for training-data pipelines (beyond-reference).

Four tiers, each a declarative Spark plan:

- **exact**: md5(content) group — one shuffle on the hash.
- **n-gram Jaccard**: distinct-shingle inverted index self-joined on the
  shingle, intersection counts vs set sizes — the exact pairwise similarity
  restricted to pairs sharing ≥1 shingle (no O(n²) cross join).
- **MinHash + LSH**: per-doc minhash signatures — ONE md5 per shingle split
  into two 40-bit halves, then a Carter-Wegman permutation family
  ``(h1 + p*h2) mod 2^40`` evaluated as 16 conditional-min aggregates in a
  single groupBy (no per-permutation row explosion, no per-permutation
  hashing) — banded into buckets; candidate pairs = bucket self-join.
  Scales to billions of docs: cost is O(shingles) hashing + bucket-local
  joins, never pairwise.
- **SimHash**: 64-bit sign-aggregated fingerprint from token md5 digits
  (two ±1 votes per hex digit); near-dups = small Hamming distance,
  blocked on max_hamming+1 disjoint 16-bit words (2¹⁶ buckets per band).

All hashing is md5-hex (engine-portable, deterministic); signature
minima/maxima operate on fixed-width lower-hex strings where lexicographic
order ≡ numeric order.

At 100 TB: the shingle explode multiplies rows ~token-count×, so every
downstream agg uses map-side partial aggregation (groupBy on (doc, perm));
the bucket join shuffles only (band, sig) keys — skew (a hot bucket) is
handled by AQE skew-join splitting. The one driver collect is the
connected-components gate: ``session.bounded_collect`` of at most
``LOCAL_CC_MAX_EDGES + 1`` rows of the pair list, never more. At or under
the gate the components come from a driver-side union-find; over it the
distributed pointer-jumping loop runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ram_datapipeline_spark.operators.text_ops import shingles

N_PERMS = 16
BAND_ROWS = 2  # perms per band → 8 bands
PERM_MOD = 1 << 40  # 40-bit hash space: p*h2 + h1 < 2^45, no bigint overflow


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup groups: (text_hash, keep_id, dup_count); keep the min id
    per group (deterministic survivor policy)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact cross-document repeated-substring spans — the substring-level
    dedup signal of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL'22), re-expressed for Spark: instead of
    a corpus-global suffix array (their single-node construction), every
    ``w``-token window is hashed in place, windows whose hash occurs in
    ≥ ``min_docs`` DISTINCT documents are flagged, and per document the
    flagged window starts merge into maximal spans (gaps-and-islands)
    whenever consecutive starts overlap or touch (start − prev ≤ w).

    Output: (id_col, span_start, span_end, n_windows) with token-index
    span bounds (1-based, end inclusive).

    Plan shape at 100 TB: the window explode is map-side (~tokens× rows,
    same budget as the shingle dedups above); ONE hash-keyed exchange
    finds multi-document hashes (partial count-distinct collapses
    same-doc repeats map-side); the flagged subset — duplicate text
    only, a tiny fraction of a real corpus — is what the semi-join and
    the per-document island window touch. No suffix array, no global
    sort, nothing corpus-sized on the driver."""
    arr = f"split({text_col}, ' ')"
    # Spark's sequence(1, 0) is DESCENDING — short docs must be filtered
    # before the window generator runs.
    windows = (
        df.where(F.expr(f"size({arr}) >= {w}"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({arr}) - {w} + 1), "
                    f"i -> struct(i AS start, "
                    f"md5(array_join(slice({arr}, i, {w}), ' ')) AS h))"
                )
            ).alias("s"),
        )
        .select(id_col, F.col("s.start").alias("start"), F.col("s.h").alias("h"))
        # referenced twice (multi-doc hash aggregate + the flagged-window
        # semi-join probe): unpersisted, BOTH references re-ran the window
        # explode and its per-window md5 — the dominant cost of this
        # operator (r14; guide §2.4). MEMORY_AND_DISK by default, so a
        # corpus-sized window table spills rather than evicts; lifetime
        # contract as the graph operators (driver clears between queries).
        .persist()
    )
    dup_hashes = (
        windows.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    hits = windows.join(dup_hashes, "h", "leftsemi")
    wdoc = Window.partitionBy(id_col).orderBy("start")
    flagged = hits.withColumn(
        "_new",
        F.when(F.col("start") - F.lag("start").over(wdoc) <= w, F.lit(0))
        .otherwise(F.lit(1)),
    ).withColumn(
        "_island",
        F.sum("_new").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy(id_col, "_island")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + F.lit(w - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_perms: int = N_PERMS
) -> DataFrame:
    """Wide MinHash signatures: (id, h0..h{n-1}) in ONE aggregation.

    Per distinct shingle: one md5, split into two 40-bit integer halves
    (h1, h2); permutation p's hash is ``(h1 + p*h2) mod 2^40`` (universal
    family), minimized per doc with n_perms conditional-min aggregate
    expressions — a single shuffle carrying one row per doc, zero row
    multiplication, one hash invocation per shingle.

    The plan is built from SQL expression strings, one py4j call per
    output column: built node by node through the Column API, the same
    expressions cost one driver-to-JVM round trip per expression NODE
    (thousands per band index), a fixed cost that dominates the build
    for a small refresh batch."""
    sh = shingles(df, id_col, text_col)
    v = sh.selectExpr(
        f"`{id_col}`",
        "CAST(conv(substring(md5(shingle), 1, 10), 16, 10) AS BIGINT) AS _h1",
        "CAST(conv(substring(md5(shingle), 11, 10), 16, 10) AS BIGINT) AS _h2",
    )
    mins = [
        F.expr(f"min((_h1 + {p} * _h2) % {PERM_MOD}) AS h{p}")
        for p in range(n_perms)
    ]
    return v.groupBy(id_col).agg(*mins)


def minhash_bands(sigs: DataFrame, id_col: str = "doc_id", band_rows: int = BAND_ROWS) -> DataFrame:
    """Band signatures: (id, band, sig) — one stacked row per band, sig =
    dash-joined minhash values (fixed slot order). The stack is a cheap
    JVM-side ``inline`` of n_bands precomputed structs, written as one
    SQL expression."""
    n_perms = sum(1 for c in sigs.columns if c != id_col)
    n_bands = n_perms // band_rows
    structs = ", ".join(
        f"named_struct('band', {b}, 'sig', concat_ws('-', "
        + ", ".join(f"h{b * band_rows + r}" for r in range(band_rows))
        + "))"
        for b in range(n_bands)
    )
    return sigs.selectExpr(f"`{id_col}`", f"inline(array({structs}))")


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_perms: int = N_PERMS, band_rows: int = BAND_ROWS,
) -> DataFrame:
    """LSH candidate pairs: (doc_a, doc_b) distinct, doc_a < doc_b —
    documents sharing at least one band bucket."""
    bands = minhash_bands(minhash_signatures(df, id_col, text_col, n_perms), id_col, band_rows)
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "sig")
    b = bands.select(F.col(id_col).alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])  # bucket-local join
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle:
    (doc_a, doc_b, inter, union_n, jaccard ≥ threshold).

    jaccard = |A∩B| / (|A| + |B| - |A∩B|) — all-integer until one final
    division, so the comparison is engine-exact."""
    sh = shingles(df, id_col, text_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("_na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("_nb"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("union_n", F.col("_na") + F.col("_nb") - F.col("inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("union_n"))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "inter", "union_n", "jaccard")


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (SSJoin/PPJoin family,
    Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08) — the
    candidate-COMPLETE scale path the banded MinHash tier can't give:

    1. Order each doc's shingles by a global canonical order (document
       frequency asc, shingle — rarest first).
    2. Keep each doc's PREFIX of ``n − ⌈t·n⌉ + 1`` rarest shingles: any
       pair with Jaccard ≥ t MUST share a prefix shingle (pigeonhole
       under the shared global order), so joining on prefix shingles
       loses no true pair.
    3. Length filter: J ≥ t forces ``min(n_a,n_b) ≥ t·max(n_a,n_b)``.
    4. Exact verification of the surviving candidates only — intersect
       counts, one final division.

    Same output contract as :func:`ngram_jaccard_pairs` (doc_a, doc_b,
    inter, union_n, jaccard) and provably the same ROWS — the gated
    query exploits that as an independent-algorithm check. The scale
    win: the candidate exchange carries only RARE-shingle postings
    (the inverted-index join's cost is exactly its hottest, most
    frequent shingles — those never enter a prefix).

    ``⌈t·n⌉`` is computed in INTEGER arithmetic (t as p/1000:
    ``(n·p + 999) div 1000``) — a float ceil would misround exactly at
    the boundary (0.8·5 reads 4.000000000000000222 in IEEE, ceiling to
    5) and silently shrink prefixes on both engines differently.

    Step 3½ (r8 — VERDICT r7 #5) is PPJoin's POSITIONAL filter (Xiao
    et al. WWW'08 §3.2), applied inside the same exchange: prefix
    ranks ``rk`` ride the posting join, and for each candidate pair
    the FIRST shared prefix token's positions (i*, j*) — the min rank
    on each side, the same token on both by the shared global order —
    bound the whole intersection at ``1 + min(n_a−i*, n_b−j*)``
    (nothing before i*/j* is common, else it would be the first).
    Candidates whose bound can't reach the minimum overlap
    ``α = ⌈t·(n_a+n_b)/(1+t)⌉`` are dropped BEFORE verification —
    all-integer (cross-multiplied by 1000+p), so the cut is exact and
    the output provably unchanged."""
    p = int(round(threshold * 1000))
    sh = shingles(df, id_col, text_col)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    ranked = sh.join(freq, "shingle")
    w = Window.partitionBy(id_col).orderBy("df_", "shingle")
    wn = Window.partitionBy(id_col)
    pre = (
        ranked.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .withColumn(
            "prefix_len",
            F.expr(f"n - CAST((n * {p} + 999) DIV 1000 AS BIGINT) + 1"),
        )
        .filter(F.col("rk") <= F.col("prefix_len"))
        .select(F.col(id_col).alias("_id"), "shingle", "n", "rk")
    )
    a = pre.select(
        F.col("_id").alias("doc_a"), "shingle",
        F.col("n").alias("_na"), F.col("rk").alias("_rka"),
    )
    b = pre.select(
        F.col("_id").alias("doc_b"), "shingle",
        F.col("n").alias("_nb"), F.col("rk").alias("_rkb"),
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("_na", "_nb") * 1000
            >= F.greatest("_na", "_nb") * F.lit(p)
        )
        .groupBy("doc_a", "doc_b", "_na", "_nb")
        .agg(F.min("_rka").alias("_ia"), F.min("_rkb").alias("_ib"))
        # positional filter: (1 + min(n_a−i*, n_b−j*)) ≥ α, cross-
        # multiplied by (1000+p) so α's ceil never materializes
        .filter(
            (F.lit(1) + F.least(
                F.col("_na") - F.col("_ia"), F.col("_nb") - F.col("_ib")
            )) * F.lit(1000 + p)
            >= (F.col("_na") + F.col("_nb")) * F.lit(p)
        )
        .select("doc_a", "doc_b", "_na", "_nb")
    )
    sh_a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.withColumn("union_n", F.col("_na") + F.col("_nb") - F.col("inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("union_n"))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "inter", "union_n", "jaccard")


def near_dedup_survivors(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", threshold: float = 0.8
) -> DataFrame:
    """Greedy near-dedup: drop any document that duplicates (jaccard ≥
    threshold) a lower-id document — one anti-join against the pair list.
    (A transitive-closure dedup would iterate connected components; the
    greedy lower-id policy is the standard single-pass choice.)"""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, threshold)
    return df.join(
        pairs.select(F.col("doc_b").alias(id_col)).distinct(), id_col, "left_anti"
    )


# At or below this many (induced) edges, connected components run as a
# driver-side union-find over ONE bounded collect of the pair list: the
# pointer-jumping loop below scheduled 14-21 jobs (2-3 s) even on 8- and
# 21-edge graphs, all per-round overhead, while the union-find over 10^5
# random edges takes ~0.3 s of Python (4-vCPU Xeon host). Above the gate
# the distributed loop runs (same components).
LOCAL_CC_MAX_EDGES = 100_000


def _local_cc_relabel(pairs: DataFrame) -> DataFrame | None:
    """Driver-side components of a SMALL pair graph, or None over the gate.

    ``bounded_collect`` pulls at most ``LOCAL_CC_MAX_EDGES + 1``
    (doc_a, doc_b) rows as one Arrow table; more than
    ``LOCAL_CC_MAX_EDGES`` means the graph is over the gate and the
    caller must run the distributed loop. Otherwise rows with a null
    endpoint are dropped (as the loop's join skips them), the ids become
    dense indices in id order (``graph.dense_edge_index``), and a min-root
    union-find over those indices (the smaller root always wins a union,
    so every root is its component's minimum id) gives each endpoint its
    component. The result is (node, component) for the endpoints whose
    component is NOT their own id — every other id maps to itself, which
    callers restore with ``coalesce(component, id)``. The relabel rows
    ship as an Arrow-backed local relation (``LocalTableScan``, also when
    empty), so broadcasting them costs no Python worker."""
    from ram_datapipeline_spark.operators.graph import dense_edge_index
    from ram_datapipeline_spark.session import bounded_collect, local_rows_df

    table = bounded_collect(pairs.select("doc_a", "doc_b"), LOCAL_CC_MAX_EDGES)
    if table is None:
        return None
    ids, a, b = dense_edge_index(table)
    parent = list(range(len(ids)))

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    ids = ids.tolist()
    roots = [find(x) for x in range(len(ids))]
    id_type = pairs.schema["doc_a"].dataType.simpleString()
    return local_rows_df(
        pairs.sparkSession,
        [(ids[x], ids[r]) for x, r in enumerate(roots) if r != x],
        f"node {id_type}, component {id_type}",
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Transitive-closure duplicate clusters: (id, component) where
    component = min id reachable through the pair graph induced on
    ``nodes`` (an edge with an endpoint outside ``nodes`` is ignored);
    one row per distinct non-null id.

    The pair list is first restricted to the induced subgraph (two
    semi-joins against ``nodes``) and handed to the gate
    (:func:`_local_cc_relabel`, one bounded collect). At or under
    ``LOCAL_CC_MAX_EDGES`` edges the result is the distinct ``nodes``
    left-joined to the broadcast relabel map, ``coalesce(component,
    id)`` — no iteration, no further driver round trip. Over the gate
    the distributed pointer-jumping loop
    (:func:`_pointer_jumping_components`) runs on the original pairs.
    """
    ids = nodes.select(F.col(id_col)).where(F.col(id_col).isNotNull())
    induced = pairs.join(
        ids.select(F.col(id_col).alias("doc_a")), "doc_a", "leftsemi"
    ).join(ids.select(F.col(id_col).alias("doc_b")), "doc_b", "leftsemi")
    relab = _local_cc_relabel(induced)
    if relab is None:
        return _pointer_jumping_components(pairs, nodes, id_col, max_iters)
    rmap = relab.select(F.col("node").alias("_old"), F.col("component").alias("_new"))
    id_type = nodes.schema[id_col].dataType
    return ids.distinct().join(
        F.broadcast(rmap), F.col(id_col) == F.col("_old"), "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("_new").cast(id_type), F.col(id_col)).alias("component"),
    )


def _pointer_jumping_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Distributed form of :func:`connected_components`, for pair graphs
    over the driver gate.

    Iterative min-label propagation: each round every node adopts the
    smallest label in its neighborhood (including its own); convergence
    when no label changes. Rounds needed ≈ graph diameter — near-dup
    graphs are shallow (dup clusters are cliques or short chains), so this
    terminates in a handful of rounds; ``max_iters`` bounds the loop like
    the reference bounds its adaptive buffer (tasks.js:73-87). Each round
    is one join + one aggregate — all distributed, nothing but the
    convergence COUNT ever reaches the driver; intermediate results are
    cached and replaced round-over-round to keep lineage flat.
    """
    sym = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    )

    def propagate(lbl: DataFrame) -> DataFrame:
        # ONE join + ONE aggregate per hop (r14; was join + agg + left
        # join): the neighbor label stream and the node's own row meet
        # in a single union-aggregate — min(label) over (neighbors ∪
        # own) is exactly least(own, neighbor_min), and the previous
        # label rides along as the aggregate of the unique own row, so
        # the convergence check stays a filter on THIS result with no
        # second corpus-sized join
        neighbor = lbl.join(sym, lbl["node"] == sym["src"]).select(
            F.col("dst").alias("node"), "label", F.lit(False).alias("_own")
        )
        own = lbl.select("node", "label", F.lit(True).alias("_own"))
        return (
            neighbor.unionByName(own)
            .groupBy("node")
            .agg(
                F.max(F.when(F.col("_own"), F.col("label"))).alias(
                    "old_label"
                ),
                F.min("label").alias("label"),
            )
            # a dst node with no own label row is outside the node set —
            # the pre-r14 left join dropped it; keep that contract
            .where(F.col("old_label").isNotNull())
            .select("node", "old_label", "label")
        )

    # POINTER JUMPING (r10): after each hop, shortcut label ← label[label]
    # over the PERSISTED hop result (the self-join reads the cache twice;
    # an unpersisted composition would re-run the hop's join+agg). A
    # label is always the id of a node REACHABLE from its owner, so the
    # composition is also reachable and ≤ the current label — the
    # fixpoint (component min) is unchanged, but a chain of length d
    # converges in O(log d) rounds instead of d (the r10 bench caught a
    # 21-node chain costing ~20 rounds of fixed job overhead on a
    # 1,019-edge graph: 14 s for 1,019 edges, all scheduling).
    def jump(stepped: DataFrame) -> DataFrame:
        j = stepped.select(
            F.col("node").alias("_jn"), F.col("label").alias("_jl")
        )
        return stepped.join(
            j, stepped["label"] == j["_jn"], "left"
        ).select(
            "node",
            "old_label",
            F.coalesce("_jl", F.col("label")).alias("label"),
        )

    # Each round localCheckpoints its two frames: the jump is a
    # self-join, so an un-truncated lineage would DOUBLE in size every
    # round (measured: 2^k plan growth put round 3's Catalyst analysis
    # at 89 s on a 2,038-edge graph), and the checkpoint blocks are
    # freed by the ContextCleaner as each round's handles go out of
    # scope — no persist/unpersist bookkeeping, same property the
    # layout operators rely on (_range_layout). The checkpoints are
    # LAZY (r13): the returned frame is LogicalRDD-backed (flat plan)
    # either way, so lineage truncation is unchanged, but eager=False
    # defers materialization to the convergence count — ONE scheduled
    # job per round instead of three (guide §1/§2: the per-round cost
    # of an iterative driver loop is job barriers, not bytes).
    # Convergence is checked every SECOND round (r14, VERDICT r13 #3):
    # the count action is the only scheduled job per round, and pointer
    # jumping converges most dup graphs in 2-3 hops, so pairing rounds
    # halves the count jobs at the cost of at most one wasted round of
    # bounded (identity) work past the fixpoint. Rounds past the
    # fixpoint are the identity, so the emitted labels are unchanged.
    sym.persist()  # released in the finally, also when a round raises
    try:
        r = 0
        while r < max_iters:
            stepped = propagate(labels).localCheckpoint(eager=False)
            new_labels = jump(stepped).localCheckpoint(eager=False)
            labels = new_labels.select("node", "label")
            r += 1
            if r % 2 == 0 or r >= max_iters:
                changed = new_labels.filter(
                    F.col("label") != F.col("old_label")
                ).count()
                if changed == 0:
                    break
    finally:
        sym.unpersist()
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("component"))


def canonical_pick(
    components: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Quality-aware survivor policy over duplicate clusters: for every
    connected component keep the HIGHEST-quality member (ties broken by
    lowest id), not the lowest-id one — the production dedup policy when
    a quality score exists (greedy lower-id keeps whichever duplicate
    happened to be crawled first; this keeps the best copy).

    Input ``components`` is (id, component) from
    :func:`connected_components`. One hash exchange on ``component``
    (duplicate clusters are small — the window is bounded by cluster
    size, and WindowGroupLimit prunes rank>1 map-side for the canonical
    extraction), then the per-doc verdict rejoins on the same key, so
    the second join reuses the partitioning. Output: one row per doc —
    (id, component, canonical_id, is_kept).
    """
    scored = components.join(
        docs.select(F.col(id_col), F.col(quality_col)), id_col
    )
    w = Window.partitionBy("component").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    canon = (
        scored.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") == 1)
        .select("component", F.col(id_col).alias("canonical_id"))
    )
    return (
        components.join(canon, "component")
        .select(
            id_col,
            "component",
            "canonical_id",
            (F.col(id_col) == F.col("canonical_id")).alias("is_kept"),
        )
    )


SIMHASH_BITS = 64
# Bit 2i   of the fingerprint = high bit of md5 hex digit i   (digit ≥ 8);
# bit 2i+1 = second bit of the same digit (digit & 4). Two ±1 votes per
# digit × 32 digits = 64 bit positions from ONE md5 per token — identical
# in Spark (instr) and any SQL engine (strpos), so oracle-exact.
_BIT_SETS = ("89abcdef", "4567cdef")


SIMHASH_WORD_BITS = 32


def simhash_word_cols(n_bits: int = SIMHASH_BITS) -> list[str]:
    """Column names of the packed fingerprint words :func:`simhash`
    emits: one BIGINT per 32 fingerprint bits, MSB-first within each
    word (bit 0 of the fingerprint is the high bit of ``simhash_w0``)."""
    n_words = (n_bits + SIMHASH_WORD_BITS - 1) // SIMHASH_WORD_BITS
    return [f"simhash_w{w}" for w in range(n_words)]


def _sh_word_bit_count(w: int, n_bits: int) -> int:
    """Number of fingerprint bits packed into word ``w``."""
    return min(SIMHASH_WORD_BITS, n_bits - w * SIMHASH_WORD_BITS)


def simhash_segment_specs(
    n_bits: int, max_hamming: int
) -> list[list[tuple[int, int, int]]]:
    """Arithmetic recipe for the pigeonhole block keys, shared by the
    engine and the SQL oracles (one source of truth — the
    ``lsh_plane_weights`` pattern): for each of the ``max_hamming + 1``
    disjoint ``width``-bit segments, the (word, div, mod) chunks whose
    MSB-first combination ``((chunk₀·2^len₁ + chunk₁)·…`` is the segment
    value, where ``chunk = (word DIV div) % mod``. All operands are
    nonnegative < 2³², so DIV/% are engine-identical exact integer ops
    (no arithmetic-vs-logical shift ambiguity, no sign bit in play)."""
    n_bands = max_hamming + 1
    width = n_bits // n_bands  # remainder bits stay unblocked, as before
    specs: list[list[tuple[int, int, int]]] = []
    for q in range(n_bands):
        a, b = q * width, (q + 1) * width
        chunks: list[tuple[int, int, int]] = []
        i = a
        while i < b:
            w = i // SIMHASH_WORD_BITS
            count_w = _sh_word_bit_count(w, n_bits)
            local_start = i - w * SIMHASH_WORD_BITS
            local_end = min(b - w * SIMHASH_WORD_BITS, count_w)
            div = 2 ** (count_w - local_end)
            mod = 2 ** (local_end - local_start)
            chunks.append((w, div, mod))
            i = w * SIMHASH_WORD_BITS + local_end
        specs.append(chunks)
    return specs


def _segment_col(cols: list[str], chunks: list[tuple[int, int, int]]) -> Column:
    """Spark expression for one pigeonhole segment from its chunk spec."""
    seg = None
    for w, div, mod in chunks:
        # div/mod are powers of two and the word is a nonnegative 32-bit
        # value, so floor-division is exact in any engine
        chunk = F.floor(F.col(cols[w]) / F.lit(div)).cast("long") % F.lit(mod)
        seg = chunk if seg is None else seg * F.lit(mod) + chunk
    assert seg is not None
    return seg


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """64-bit SimHash: per token, each md5 hex digit votes ±1 on two bit
    positions (its two high bits); the sign of the per-position sum is the
    fingerprint bit. Output: (id, simhash_w0, simhash_w1, …) — the
    fingerprint PACKED into one BIGINT per 32 bits (MSB-first; bit i is
    worth ``2^(count_w − 1 − i mod 32)`` in word ``i DIV 32``), the
    :func:`~ram_datapipeline_spark.operators.vectors.binary_sign_pack`
    representation (VERDICT r12 #2: the r1–r12 '0'/'1'-string output made
    every Hamming distance 64 per-character string compares; the packed
    words make it two ``bit_count(xor)`` ops, and DuckDB replays the
    integer packing exactly — ``vec_binary_hamming_topk``'s oracle proved
    it bit-for-bit, so 'numeric packing is engine-specific' was wrong).
    32-bit words so no sum ever approaches the int64 sign bit.

    Token multiplicity is preserved (explode, not distinct) — repeated
    tokens weigh more, the standard SimHash weighting. 64 bits keeps the
    collision rate workable at real corpus sizes (a 16-bit fingerprint
    saturates beyond ~10⁵ docs)."""
    from ram_datapipeline_spark.session import ensure_parallelism

    assert n_bits <= 64, "one md5 yields at most 64 vote positions (2/hex digit)"
    src = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    tok = src.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    tok = tok.withColumn("_h", F.md5(F.col("tok")))
    votes = [
        F.sum(
            F.when(
                F.instr(F.lit(_BIT_SETS[i % 2]), F.substring(F.col("_h"), i // 2 + 1, 1))
                > 0,
                1,
            ).otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(n_bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    cols = simhash_word_cols(n_bits)
    words = []
    for w, name in enumerate(cols):
        count_w = _sh_word_bit_count(w, n_bits)
        word = sum(
            (
                F.when(
                    F.col(f"_v{w * SIMHASH_WORD_BITS + j}") > 0,
                    F.lit(1 << (count_w - 1 - j)).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                for j in range(count_w)
            ),
            F.lit(0).cast("long"),
        )
        words.append(word.alias(name))
    return agg.select(F.col(id_col), *words)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pair generation is blocked on ``max_hamming + 1`` disjoint bit segments
    (pigeonhole: with ≤ ``max_hamming`` differing bits spread over
    ``max_hamming + 1`` disjoint segments, at least one segment matches
    exactly), so the join is bucket-local like LSH rather than O(n²).
    With the 64-bit default and max_hamming=3 the block key is a 16-bit
    integer segment → up to 4 × 2¹⁶ buckets, keeping buckets thin as the
    corpus grows. Precision is exact: candidates are re-filtered on the
    full Hamming distance — since r13 two ``bit_count(xor)`` word ops
    instead of 64 per-character string compares (VERDICT r12 #2: the
    string kernel was 26 s at sf0.1, the registry's #2 slowest; the
    packed kernel is the one ``binary_hamming_topk`` already proved
    oracle-exact), and the block keys are integers
    (:func:`simhash_segment_specs` — DIV/% chunks of the words, the
    identical arithmetic the SQL oracle replays)."""
    if not 0 <= max_hamming < n_bits:
        raise ValueError(f"max_hamming must be in [0, {n_bits}), got {max_hamming}")
    n_bands = max_hamming + 1
    width = n_bits // n_bands  # disjoint segments; remainder bits stay unblocked
    s = simhash(df, id_col, text_col, n_bits)
    cols = simhash_word_cols(n_bits)
    specs = simhash_segment_specs(n_bits, max_hamming)
    seg = s.select(
        F.col(id_col),
        *cols,
        F.explode(
            F.array(*[
                # q·2^width + segment: unique across bands (segment < 2^width)
                F.lit(q << width).cast("long") + _segment_col(cols, specs[q])
                for q in range(n_bands)
            ])
        ).alias("block"),
    )
    a = seg.select(
        F.col(id_col).alias("doc_a"),
        *(F.col(c).alias(f"_a{i}") for i, c in enumerate(cols)),
        "block",
    )
    b = seg.select(
        F.col(id_col).alias("doc_b"),
        *(F.col(c).alias(f"_b{i}") for i, c in enumerate(cols)),
        "block",
    )
    hamming = sum(
        F.bit_count(F.col(f"_a{i}").bitwiseXOR(F.col(f"_b{i}")))
        for i in range(len(cols))
    ).cast("int")
    return (
        a.join(b, "block")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            *(f"_a{i}" for i in range(len(cols))),
            *(f"_b{i}" for i in range(len(cols))),
        )
        .distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    block_col: Column,
    max_dist: int = 2,
) -> DataFrame:
    """Typo-duplicate candidate pairs by Levenshtein distance ≤
    ``max_dist``, restricted to a blocking key (data-cleaning staple:
    entity/name dedup).

    Blocking is what makes this survive scale: the self-join is an
    equi-join on ``block_col`` — per-block-local work instead of O(n²)
    all-pairs — and the edit distance only runs inside blocks (AQE splits
    skewed blocks). The metric is the exact integer edit distance,
    identical in every engine. Emits ``(name_a, name_b, dist)`` with
    ``name_a < name_b`` (each unordered pair once)."""
    names = df.select(F.col(text_col).alias("name")).distinct().withColumn(
        "block", block_col
    )
    a = names.select(F.col("name").alias("name_a"), "block")
    b = names.select(F.col("name").alias("name_b"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact ASYMMETRIC n-gram containment for ordered pairs sharing ≥1
    shingle: (doc_a, doc_b, inter, n_a, containment ≥ threshold), where

        containment(A → B) = |A ∩ B| / |A|

    The asymmetric companion to ``ngram_jaccard_pairs``: a short document
    quoted whole inside a much longer one scores containment ≈ 1 while
    its Jaccard ≈ |A|/|B| washes out toward 0 — the standard
    quotation/boilerplate/inclusion detector a dedup stack runs next to
    symmetric near-dup (both directions emitted, one ordered row each).

    Same scale shape as Jaccard: inverted-index equi-join on the shingle
    key (never all-pairs), integer counts, ONE final division. Hot
    shingles are the skew risk — AQE splits the skewed join partitions;
    at corpus scale drop stop-gram shingles above a document-frequency
    cap first.
    """
    sh = shingles(df, id_col, text_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    out = (
        inter.join(sa, "doc_a")
        .withColumn(
            "containment", F.col("inter").cast("double") / F.col("n_a")
        )
        .filter(F.col("containment") >= threshold)
    )
    return out.select("doc_a", "doc_b", "inter", "n_a", "containment")


# --- semantic (embedding-space) dedup ----------------------------------------


def semantic_dedup(
    emb: DataFrame,
    tau: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style embedding-space dedup: partition the corpus into
    LSH buckets (the deterministic stand-in for k-means clusters), then
    inside each bucket drop every vector that has a LOWER-id neighbor
    with cosine ≥ ``tau`` (the greedy leader criterion — the kept set is
    unique and order-independent because "lower id" is a total order).

    Emits one row per vector: (id, bucket, n_close_lower, kept) — the
    audit-friendly form: downstream filters ``kept``, analysts read the
    near-duplicate counts.

    Scale shape: the only corpus-sized exchange hashes on the bucket
    signature; pair work is bucket-local (LSH plane count scales as
    ⌈log2(n/64)⌉, keeping buckets ~64 vectors — never a global cross
    join). Same index determinism as ``similarity.cosine_topk_lsh``
    (md5-derived ±1 hyperplanes), so an ANSI-SQL oracle replays bucket
    membership, every cosine, and the kept set bit-for-bit.
    """
    from ram_datapipeline_spark.operators.similarity import (
        _dot,
        lsh_bucket_signature,
        scaled_plane_count,
        with_norm,
    )

    if n_planes is None:
        n_planes = scaled_plane_count(emb.count())
    c = with_norm(emb, vec_col).withColumn(
        "bucket", lsh_bucket_signature(F.col("_e"), n_planes, dim)
    )
    a = c.select(
        F.col(id_col).alias("_aid"), F.col("_e").alias("_ea"),
        F.col("_nrm").alias("_na"), "bucket",
    )
    b = c.select(
        F.col(id_col).alias("_bid"), F.col("_e").alias("_eb"),
        F.col("_nrm").alias("_nb"), "bucket",
    )
    cos = _dot(F.col("_ea"), F.col("_eb")) / (F.col("_na") * F.col("_nb"))
    close = (
        a.join(b, "bucket")
        .filter(F.col("_bid") < F.col("_aid"))
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= tau)
        .groupBy(F.col("_aid").alias(id_col))
        .agg(F.count("*").alias("n_close_lower"))
    )
    return (
        c.select(id_col, "bucket")
        .join(close, id_col, "left")
        .select(
            id_col,
            "bucket",
            F.coalesce("n_close_lower", F.lit(0)).alias("n_close_lower"),
            (F.coalesce("n_close_lower", F.lit(0)) == 0).alias("kept"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_len: int = 24,
    window: int = 3,
    threshold_num: int = 8,
    threshold_den: int = 10,
    n_partitions: int = 16,
) -> DataFrame:
    """Sorted-Neighborhood Method (SNM) blocking — the sort-based
    alternative to hash blocking (LSH bands, simhash words): sort the
    corpus once by a cheap blocking key (here the lowercased text
    prefix), then compare each record only to its ``window`` successors
    in that global order, verifying candidates with an exact
    distinct-token Jaccard at ``threshold_num/threshold_den``
    (integer cross-multiplication — no float similarity).

    Scale shape: the global order comes from
    :func:`~ram_datapipeline_spark.operators.layout.global_row_index`
    (one range exchange + a one-long-per-partition collect — never a
    single-partition window); the neighbor expansion is a bounded
    ``explode`` of ``window`` offsets joined back by rank EQUALITY
    (an equi-join Catalyst shuffles on the rank — no theta join, no
    corpus self-join); verification intersects the two carried
    distinct-token arrays JVM-side. Candidates are exactly
    ``window × N`` — linear in the corpus, the SNM guarantee.

    Output: (doc_a, doc_b, rank_gap, inter, uni) for pairs at or above
    the threshold, doc_a the earlier rank. Deterministic: the sort key
    is (prefix, id).
    """
    from ram_datapipeline_spark.operators.layout import global_row_index

    if window <= 0:
        raise ValueError("sorted_neighborhood_pairs: window must be positive")
    keyed = df.select(
        F.col(id_col),
        F.substring(F.lower(F.col(text_col)), 1, key_len).alias("_k"),
        F.array_sort(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("_toks"),
    )
    ranked = global_row_index(
        keyed, [F.col("_k"), F.col(id_col)], n_partitions, idx_col="_rn"
    ).select(id_col, "_rn", "_toks")
    probe = ranked.select(
        F.col(id_col).alias("doc_a"),
        F.col("_toks").alias("_ta"),
        F.col("_rn").alias("_ra"),
        F.explode(
            F.array(*[F.lit(i) for i in range(1, window + 1)])
        ).alias("_off"),
    ).withColumn("_rb", F.col("_ra") + F.col("_off"))
    cand = probe.join(
        ranked.select(
            F.col(id_col).alias("doc_b"),
            F.col("_toks").alias("_tb"),
            F.col("_rn").alias("_rb"),
        ),
        "_rb",
    )
    scored = cand.select(
        "doc_a",
        "doc_b",
        F.col("_off").cast("long").alias("rank_gap"),
        F.size(F.array_intersect("_ta", "_tb")).cast("long").alias("inter"),
        (
            F.size("_ta").cast("long")
            + F.size("_tb").cast("long")
            - F.size(F.array_intersect("_ta", "_tb")).cast("long")
        ).alias("uni"),
    )
    return scored.where(
        F.col("inter") * threshold_den >= threshold_num * F.col("uni")
    )


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perms: int = N_PERMS,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """The PERSISTABLE form of a corpus's banded MinHash signatures:
    (id, bkey) with ``bkey = band ':' sig`` — one composite string key
    per (doc, band) so the whole LSH bucket space is a single join
    column a table can be bucketed on. This is what a standing corpus
    stores so new snapshots can be deduped against it WITHOUT
    re-minhashing history (the refresh-time cost a real 100 TB corpus
    pays otherwise: re-shingling + 16 hash-min aggregations over the
    entire archive, per batch)."""
    bands = minhash_bands(
        minhash_signatures(df, id_col, text_col, n_perms), id_col, band_rows
    )
    return bands.selectExpr(
        f"`{id_col}`", "concat_ws(':', CAST(band AS STRING), sig) AS bkey"
    )


def _drop_stale_table(spark, table: str) -> None:
    """With the default in-memory catalog a managed table's LOCATION can
    survive from a previous session the catalog no longer knows about;
    saveAsTable then fails with LOCATION_ALREADY_EXISTS. Drop both the
    entry and any stale local directory (a Hive-metastore deployment
    never hits this branch — mode("overwrite") owns the location)."""
    import os
    import shutil
    import urllib.parse

    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    wh = urllib.parse.urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path
    if wh:
        shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)


def write_labels_table(labels: DataFrame, table: str) -> None:
    """Persist a standing (id, component) assignment as a plain parquet
    table — the state :func:`incremental_components` patches at the next
    snapshot refresh (the companion of :func:`write_minhash_index`)."""
    _drop_stale_table(labels.sparkSession, table)
    labels.write.mode("overwrite").format("parquet").saveAsTable(table)


def _write_bucketed_index(index: DataFrame, table: str, mode: str, n_buckets: int) -> None:
    """The one layout of a standing band index: parquet, bucketed and
    sorted on ``bkey``."""
    (
        index.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, "bkey")
        .sortBy("bkey")
        .saveAsTable(table)
    )


def write_minhash_index(
    index: DataFrame, table: str, n_buckets: int | None = None
) -> None:
    """Persist the band index BUCKETED on ``bkey`` (+ sorted within
    buckets): a later batch-vs-corpus probe joins on bkey, and the
    bucketed layout lets Spark scan the corpus side pre-partitioned —
    zero corpus-side exchange, zero re-hash. At 100 TB the index is
    ~n_bands rows × ~50 bytes per document (a few TB for a 100 TB
    corpus) and this bucketed write is the ONLY time it shuffles.

    ``n_buckets`` defaults to the session's ``defaultParallelism``: one
    bucket per core, so every scan of the index runs one task per core.
    Buckets beyond the core count add only per-file and per-task fixed
    cost (a small index's write ends in one task writing every bucket
    file). Later appends go through :func:`append_minhash_index`, which
    reuses the table's own count."""
    if n_buckets is None:
        n_buckets = index.sparkSession.sparkContext.defaultParallelism
    _drop_stale_table(index.sparkSession, table)
    _write_bucketed_index(index, table, "overwrite", n_buckets)


def append_minhash_index(index: DataFrame, table: str) -> None:
    """Append band rows to a standing index table written by
    :func:`write_minhash_index`, with the table's OWN bucket count read
    from the catalog (``DESCRIBE TABLE EXTENDED``): Spark rejects an
    append whose bucket spec differs from the table's, and one that
    leaves the spec out, so the appender must not carry a bucket count
    of its own."""
    info = {
        r.col_name: r.data_type
        for r in index.sparkSession.sql(
            f"DESCRIBE TABLE EXTENDED `{table}`"
        ).collect()
    }
    if "Num Buckets" not in info:
        raise ValueError(f"table {table!r} is not bucketed")
    _write_bucketed_index(index, table, "append", int(info["Num Buckets"]))


def incremental_lsh_dedup(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perms: int = N_PERMS,
    band_rows: int = BAND_ROWS,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus index without
    touching corpus text (VERDICT r9 #7 — incremental cross-snapshot
    dedup). A batch document is a duplicate iff it shares an LSH band
    bucket with ANY corpus document, or with an EARLIER (lower-id)
    document of the same batch — exactly the pairs full-corpus LSH
    (:func:`minhash_lsh_pairs` over corpus ∪ batch) would emit for it,
    which is the identity the oracle replays.

    Cost shape: only the batch is shingled/hashed (one ``md5`` subtree
    in the plan — the guard asserts the corpus side has none); the
    corpus index arrives as a pre-bucketed (id, bkey) scan. With
    ``broadcast_batch`` (the steady-state: batches are small next to
    the archive) the probe is a broadcast hash join — the corpus index
    streams through map tasks with NO exchange at all. For a
    rare giant batch, pass False: the batch side alone shuffles to the
    index's bucket layout (sort-merge bucket join), the corpus side
    still never moves.

    Output: one row per batch doc — (id, is_dup, dup_of) with
    ``dup_of`` = the smallest qualifying partner id (deterministic).

    The batch's band rows are needed on BOTH sides (as probes, and as
    intra-batch partners); they are computed ONCE and
    local-checkpointed — without it Catalyst would re-shingle and
    re-hash the batch per reference. ``eager=False`` defers only the
    checkpoint's final stage to the first action: under AQE, taking
    the plan's RDD already runs its shuffle-map stages, so THIS CALL
    schedules 2 jobs (the batch's round-robin repartition and the
    minhash aggregate's exchange; 0.4-0.7 s on a 4-core host at
    sf0.01). Corpus and intra-batch partners then resolve in a SINGLE
    bkey join against a tagged union (bucketed index scan ∪
    checkpointed batch bands): the corpus rows qualify
    unconditionally, the batch rows only when earlier.
    """
    bb = minhash_band_index(
        batch, id_col, text_col, n_perms, band_rows
    ).localCheckpoint(eager=False)
    probe = bb.select(F.col(id_col).alias("new_id"), "bkey")
    if broadcast_batch:
        probe = F.broadcast(probe)
    partner_side = index.select(
        F.col(id_col).alias("partner"), "bkey", F.lit(True).alias("_corpus")
    ).unionByName(
        bb.select(
            F.col(id_col).alias("partner"),
            "bkey",
            F.lit(False).alias("_corpus"),
        )
    )
    verdict = (
        partner_side.join(probe, "bkey")
        .where(F.col("_corpus") | (F.col("partner") < F.col("new_id")))
        .groupBy("new_id")
        .agg(F.min("partner").alias("dup_of"))
    )
    return (
        batch.select(id_col)
        .join(verdict, F.col(id_col) == F.col("new_id"), "left")
        .select(
            F.col(id_col),
            F.col("dup_of").isNotNull().alias("is_dup"),
            F.col("dup_of"),
        )
    )


def incremental_lsh_candidates(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perms: int = N_PERMS,
    band_rows: int = BAND_ROWS,
    broadcast_batch: bool = True,
) -> DataFrame:
    """ALL LSH candidate pairs incident to the batch — (doc_a, doc_b)
    distinct with doc_a < doc_b, where at least one side is a batch
    document — discovered against the persisted corpus band index with
    the same no-corpus-rehash shape as :func:`incremental_lsh_dedup`.
    This is the edge feed for incremental graph maintenance (components
    merging across snapshots), where direction/priority doesn't apply:
    every collision is an undirected edge.

    As there, the batch bands' ``localCheckpoint(eager=False)`` is not
    free at build time: under AQE this call runs the 2 shuffle-map jobs
    of the batch's repartition and minhash aggregate before returning."""
    bb = minhash_band_index(
        batch, id_col, text_col, n_perms, band_rows
    ).localCheckpoint(eager=False)
    probe = bb.select(F.col(id_col).alias("_nid"), "bkey")
    if broadcast_batch:
        probe = F.broadcast(probe)
    partner_side = index.select(
        F.col(id_col).alias("_pid"), "bkey"
    ).unionByName(bb.select(F.col(id_col).alias("_pid"), "bkey"))
    hits = partner_side.join(probe, "bkey").where(
        F.col("_pid") != F.col("_nid")
    )
    return hits.select(
        F.least("_pid", "_nid").alias("doc_a"),
        F.greatest("_pid", "_nid").alias("doc_b"),
    ).distinct()


def incremental_components(
    labels: DataFrame,
    batch_nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    component_col: str = "component",
    max_iters: int = 20,
) -> DataFrame:
    """Incrementally maintained duplicate clusters: fold a NEW batch
    (and its batch-incident edges) into a STANDING (id, component)
    assignment without recomputing history — the refresh-time
    counterpart of :func:`connected_components`, whose full recompute
    over a 100 TB archive is exactly what a snapshot refresh cannot
    afford.

    The trick is that the standing labels are already transitive: a
    corpus component can be collapsed to ONE super-node (its label =
    its min id), so the only graph that needs components is the
    batch-touched MINI graph ``e`` — the batch-incident edges with each
    corpus endpoint replaced by its label (batch-scale, not
    corpus-scale). Corpus components merged through a batch document
    (A — batch — B) fall out naturally: both labels land in one mini
    component. Every endpoint of ``e`` is a mini-graph node by
    construction, so ``e`` goes straight to the driver gate
    (:func:`_local_cc_relabel`, one bounded collect + a union-find);
    only a mini graph over ``LOCAL_CC_MAX_EDGES`` edges runs the
    distributed loop on its endpoints. Either way the result is a
    relabel map (old id → component), and the corpus-side patch and the
    batch verdict are broadcast joins of it — map-only, the corpus never
    shuffles.

    Identity: because LSH collisions are pairwise, the corpus-internal
    edge set at refresh time equals the one the standing labels were
    built from, so the result is EXACTLY ``connected_components`` over
    corpus ∪ batch (min reachable id) — the oracle replays that.

    ``edges`` must be batch-incident pairs (doc_a, doc_b) — e.g. from
    :func:`incremental_lsh_candidates`; ``labels`` is (id, component)
    with component = min id of the cluster (what
    :func:`connected_components` emits).
    """
    la = labels.select(
        F.col(id_col).alias("doc_a"), F.col(component_col).alias("_ca")
    )
    lb = labels.select(
        F.col(id_col).alias("doc_b"), F.col(component_col).alias("_cb")
    )
    e = (
        edges.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("_ca", F.col("doc_a")).alias("doc_a"),
            F.coalesce("_cb", F.col("doc_b")).alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
    )
    relab = _local_cc_relabel(e)
    if relab is None:
        ends = (
            e.select(F.col("doc_a").alias(id_col))
            .unionByName(e.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        relab = _pointer_jumping_components(e, ends, id_col, max_iters).select(
            F.col(id_col).alias("node"), "component"
        )
    rmap = F.broadcast(
        relab.select(F.col("node").alias("_old"), F.col("component").alias("_new"))
    )
    patched = labels.join(
        rmap, F.col(component_col) == F.col("_old"), "left"
    ).select(
        F.col(id_col),
        F.coalesce("_new", F.col(component_col)).alias(component_col),
    )
    batch_out = batch_nodes.select(F.col(id_col)).join(
        rmap, F.col(id_col) == F.col("_old"), "left"
    ).select(
        F.col(id_col),
        F.coalesce("_new", F.col(id_col)).alias(component_col),
    )
    return patched.unionByName(batch_out)
