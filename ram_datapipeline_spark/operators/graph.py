"""Distributed shortest-path closure for routing graphs (SURVEY U1/U4).

The reference answers ``osrm.table`` calls from a contraction hierarchy
built offline (osrm-extract/osrm-contract, SURVEY §2.9 U4). The Spark-first
analog keeps the heavy step distributed and declarative:

- **min-plus matrix squaring** (``min_plus_closure``): all-pairs shortest
  paths over an edge-list DataFrame in ⌈log2(diameter)⌉ rounds — each round
  is ONE self-join + ONE min-aggregate, both plain shuffles Catalyst/AQE
  can plan. After k rounds every shortest path of ≤ 2^k edges is final.
  This is the right distributed shape for the *contracted* (hub-level)
  graph: V_hub is small (one hub per admin slab / road-network cell), so
  V² closure rows broadcast to the routing kernel, while the full road
  network never needs all-pairs anything.
- **hub routing kernel** (``make_hub_routing_kernel``): a vectorized cost
  backend for ``operators.eta.routed_duration_matrix`` — duration =
  drive(origin → its hub) + closure[hub_o, hub_p] + drive(hub_p → poi).
  Every arithmetic step is IEEE-exact (sqrt/*/÷ only), so the whole routed
  query is reproducible bit-for-bit by a SQL oracle replaying the same
  squarings (suite/eta_queries.py::eta_routed_graph).

Why squaring and not per-round Bellman-Ford relaxation: BF needs
``diameter`` rounds of (join + agg); squaring needs ⌈log2(diameter)⌉ at
the cost of joining the (small) closure with itself instead of with the
edge list. For hub graphs (V ≤ 10⁴ even planet-wide at 30 km cells) the
closure fits comfortably in a shuffle, and round count — the driver-side
synchronization barrier — is what hurts at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def min_plus_closure(
    edges: DataFrame,
    n_squarings: int,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    materialize_rounds: bool = False,
) -> DataFrame:
    """All-pairs shortest-path distances by min-plus matrix squaring.

    ``edges``: directed (src, dst, w ≥ 0); vertices are inferred. Returns
    (src, dst, w) for every connected ordered pair, where w is the exact
    shortest-path cost over paths of at most ``2**n_squarings`` edges
    (choose n_squarings ≥ ⌈log2(graph diameter in hops)⌉ — simple shortest
    paths have ≤ V-1 edges, so ⌈log2(V-1)⌉ always suffices).

    Determinism: every output distance is a min over sums whose
    association order is fixed by the squaring sequence, so any engine
    replaying the same rounds produces bit-identical doubles.

    ``materialize_rounds``: with False (default) each round is persisted
    LAZILY — the self-join's two branches share one cached round, so the
    plan stays shallow (no 2^k branch duplication, cheap codegen) and no
    per-round job is scheduled; the cache fills during the first real
    action. Right for hub-scale graphs (a few thousand rows cached). Set
    True for LARGE closures: each round then materializes eagerly and
    unpersists its predecessor, bounding cached footprint to one round at
    the cost of one scheduling barrier per round.
    """
    verts = (
        edges.select(F.col(src).alias("_v"))
        .union(edges.select(F.col(dst).alias("_v")))
        .distinct()
    )
    d = (
        edges.select(src, dst, w)
        .union(
            verts.select(
                F.col("_v").alias(src), F.col("_v").alias(dst), F.lit(0.0).alias(w)
            )
        )
        .groupBy(src, dst)
        .agg(F.min(w).alias(w))
    )
    d = d.persist()
    if materialize_rounds:
        d.count()
    for _ in range(n_squarings):
        left = d.select(
            F.col(src).alias("_u"), F.col(dst).alias("_m"), F.col(w).alias("_w1")
        )
        right = d.select(
            F.col(src).alias("_m"), F.col(dst).alias("_v2"), F.col(w).alias("_w2")
        )
        nxt = (
            left.join(right, "_m")
            .select(
                F.col("_u").alias(src),
                F.col("_v2").alias(dst),
                (F.col("_w1") + F.col("_w2")).alias(w),
            )
            .groupBy(src, dst)
            .agg(F.min(w).alias(w))
        )
        nxt = nxt.persist()
        if materialize_rounds:
            nxt.count()  # materialize before dropping the previous round
            d.unpersist()
        d = nxt
    return d


def make_hub_routing_kernel(
    closure_rows: list,
    hub_rows: list,
    slab_deg: float = 14.4,
    km_per_deg: float = 111.0,
    speed_kmh: float = 120.0,
):
    """Vectorized cost backend for ``routed_duration_matrix``: routes every
    (origin, poi) pair through the hub graph.

    ``closure_rows``: [(src, dst, w_seconds)] — the collected min-plus
    closure (small by construction: hubs only). ``hub_rows``:
    [(hub_id, lon, lat)]. A point's hub is its lon slab index
    ``floor((lon + 180) / slab_deg)`` — no nearest-hub search needed, the
    hub tiling is the admin tiling.

    duration = leg(origin→hub_o) + closure[hub_o, hub_p] + leg(hub_p→poi),
    legs at drive speed; expression order mirrors the SQL oracle exactly.
    Unreachable hub pairs (absent from the closure) yield NaN → the caller
    treats them as unreachable (they never win a min).
    """
    import numpy as np

    n = max(h for h, _, _ in hub_rows) + 1
    hub_lon = np.zeros(n)
    hub_lat = np.zeros(n)
    for h, lon, lat in hub_rows:
        hub_lon[h] = lon
        hub_lat[h] = lat
    dist = np.full((n, n), np.nan)
    for s, t, cost in closure_rows:
        dist[s, t] = cost

    def kernel(olon, olat, plon, plat):
        ho = np.floor((olon + 180.0) / slab_deg).astype(np.int64)
        hp = np.floor((plon + 180.0) / slab_deg).astype(np.int64)
        dxo = olon - hub_lon[ho]
        dyo = olat - hub_lat[ho]
        leg_o = np.sqrt(dxo * dxo + dyo * dyo) * km_per_deg / speed_kmh * 3600.0
        dxp = plon - hub_lon[hp]
        dyp = plat - hub_lat[hp]
        leg_p = np.sqrt(dxp * dxp + dyp * dyp) * km_per_deg / speed_kmh * 3600.0
        return leg_o + dist[ho, hp] + leg_p

    return kernel


# Below this vertex count the closure is computed driver-side: the closure
# is ALREADY collected + broadcast to the routing kernel (the CH-style
# "contracted core in memory"), so a V×V numpy squaring is the same memory
# class with none of the per-round job-scheduling cost. Above it, the
# distributed squaring runs (same math, same results).
LOCAL_CLOSURE_MAX_VERTS = 512

# Byte budget of one row block's (rows, n, n) float64 candidate temporary
# in a driver-side squaring. Unblocked, the temporary is n³ doubles: 1 GB
# at LOCAL_CLOSURE_MAX_VERTS. A block holds at least one row.
CLOSURE_BLOCK_BYTES = 64 << 20


def min_plus_closure_rows(
    edge_rows: list, n_squarings: int
) -> list:
    """Driver-side replay of ``min_plus_closure`` for hub-scale graphs:
    identical squaring sequence on a dense matrix, so every output double
    is bit-identical to the distributed version (each path candidate is
    ONE a+b — the same correctly-rounded IEEE add — and min over
    candidates is order-independent; there is no accumulation anywhere).
    Each squaring runs in row blocks of at most ``CLOSURE_BLOCK_BYTES``
    of candidates, which changes no min. Absent pairs are +inf internally
    and omitted from the result, matching the join semantics."""
    import numpy as np

    verts = sorted({s for s, _, _ in edge_rows} | {d for _, d, _ in edge_rows})
    ix = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    d = np.full((n, n), np.inf)
    np.fill_diagonal(d, 0.0)
    for s, t, w in edge_rows:
        si, ti = ix[s], ix[t]
        if w < d[si, ti]:
            d[si, ti] = w
    block = max(1, CLOSURE_BLOCK_BYTES // (8 * n * n or 1))
    for _ in range(n_squarings):
        nxt = np.empty_like(d)
        for i in range(0, n, block):
            nxt[i : i + block] = np.min(
                d[i : i + block, :, None] + d[None, :, :], axis=1
            )
        d = nxt
    out = []
    for i in range(n):
        for j in range(n):
            if np.isfinite(d[i, j]):
                out.append((verts[i], verts[j], float(d[i, j])))
    return out


def hub_closure_rows(
    edges: DataFrame,
    n_squarings: int,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
) -> list:
    """Collected all-pairs closure rows [(src, dst, w)], choosing the
    execution strategy by graph size: numpy squaring under
    ``LOCAL_CLOSURE_MAX_VERTS`` vertices, the distributed
    ``min_plus_closure`` above (both produce bit-identical rows).
    Collecting the EDGE list is always admissible here because the caller
    is about to hold the (≥ E)-sized closure in memory anyway."""
    edge_rows = [
        (r[src], r[dst], r[w]) for r in edges.select(src, dst, w).collect()
    ]
    n_verts = len({s for s, _, _ in edge_rows} | {d for _, d, _ in edge_rows})
    if n_verts <= LOCAL_CLOSURE_MAX_VERTS:
        return min_plus_closure_rows(edge_rows, n_squarings)
    cl = min_plus_closure(edges, n_squarings, src=src, dst=dst, w=w)
    return [(r[src], r[dst], r[w]) for r in cl.collect()]


def _edge_triangle_lists(
    edges: DataFrame, u: str, v: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core of the triangle-based analytics: canonicalize an
    undirected edge list, orient it by the (degree, id) total order, and
    compute per-oriented-edge completion lists.

    Returns ``(canon, deg, per_edge)``:

    - ``canon``: distinct (cu < cv) canonical edges;
    - ``deg``: (node, deg) undirected degrees;
    Caching contract: canon, deg and the oriented edge list stay persisted
    until ``spark.catalog.clearCache()`` or session end; drivers running
    many operators in one session should clear between queries (bench.py
    and scripts/verify_driver_contract.py do).

    - ``per_edge``: (a, b, cs) — one row per oriented edge whose
      endpoints share ≥1 out-neighbor; ``cs`` is the array of common
      out-neighbors, i.e. exactly the third corners of the triangles
      whose (deg, id)-lowest edge is (a, b). Every triangle appears in
      exactly one row.
    """
    e = edges.select(F.col(u).alias("eu"), F.col(v).alias("ev")).where(
        F.col("eu") != F.col("ev")
    )
    # canon and deg are each referenced several times downstream (deg twice
    # in the orientation join, canon/deg again by the link-prediction
    # callers). Without the persists every reference re-executes the FULL
    # upstream edge derivation — for the co-order graph queries that meant
    # 54 lineitem scans / ~180 Exchanges in one physical plan (r13 plan
    # audit, plans/r13/graph_clustering_coeff_before.txt); with them the
    # edge derivation runs once (guide §2.4: remove shuffles outright).
    canon = (
        e.select(
            F.least("eu", "ev").alias("cu"), F.greatest("eu", "ev").alias("cv")
        )
        .distinct()
        .persist()
    )
    deg = (
        canon.select(F.col("cu").alias("node"))
        .unionAll(canon.select(F.col("cv").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    du = deg.select(F.col("node").alias("cu"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("cv"), F.col("deg").alias("dv"))
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("cu") < F.col("cv"))
    )
    oriented = (
        canon.join(du, "cu")
        .join(dv, "cv")
        .select(
            F.when(lo_first, F.col("cu")).otherwise(F.col("cv")).alias("src"),
            F.when(lo_first, F.col("cv")).otherwise(F.col("cu")).alias("dst"),
        )
        # referenced twice below (edge stream + adjacency build); without
        # a persist each reference recomputes the whole
        # canonicalize+degree+orient pipeline
        .persist()
    )
    # adj is referenced twice below (the a-side and b-side probes);
    # without a persist the collect_list aggregate — a full pass over
    # the oriented edge list — executed once per reference as two
    # ~1-1.4 s broadcast builds (r14 joblog)
    adj = oriented.groupBy("src").agg(
        F.collect_list("dst").alias("nbrs")
    ).persist()
    adj_a = adj.select(F.col("src").alias("a"), F.col("nbrs").alias("nbrs_a"))
    adj_b = adj.select(F.col("src").alias("b"), F.col("nbrs").alias("nbrs_b"))
    per_edge = (
        oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        # inner joins: an endpoint with no out-adjacency row closes no
        # triangle at this edge, so dropping the row is exact
        .join(adj_a, "a")
        .join(adj_b, "b")
        .select("a", "b", F.array_intersect("nbrs_a", "nbrs_b").alias("cs"))
        .where(F.size("cs") > 0)
    )
    # ONE materialization job before returning (r13 joblog finding): the
    # consuming query fires its broadcast-exchange builds CONCURRENTLY
    # (du/dv/adjacency futures), and with the persisted frames still cold
    # each future recomputes the full canonicalize+degree+orient pipeline —
    # measured job_spans ≈ 2× wall on graph_clustering_coeff, with four
    # 3-6 s broadcast stages all carrying the same derivation. Counting
    # ``adj`` (r14; was ``oriented``) fills the canon → deg → oriented →
    # adj caches in one fully parallel pass; every future then reads
    # InMemoryTableScans (guide §7.4: compute/cache the shared side
    # first), and the two adjacency probes can no longer race adj cold.
    adj.count()
    return canon, deg, per_edge


def triangle_counts(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    ``edges``: (u, v) pairs in either orientation, self-loops and
    duplicates tolerated. Returns (node, n_triangles) for every node in at
    least one triangle; each triangle contributes exactly one count to
    each of its three corners.

    Scale shape — degree-ordered orientation + adjacency-list
    intersection, with the global ordering expressed as a plain
    (degree, id) tuple comparison instead of a rank window, so NO global
    sort or single-partition stage exists anywhere in the plan:

    - canonicalize + distinct: one shuffle on the edge key;
    - degrees: one explode + count shuffle (map-side partial);
    - orient each edge from the (deg, id)-smaller endpoint to the larger:
      two hash joins against the degree table. Out-degree after this
      orientation is bounded by O(√m) — a node of degree d only keeps
      edges to neighbors of degree ≥ d, and there are at most 2√m nodes
      of degree ≥ √m;
    - out-adjacency lists: one collect_list shuffle. The O(√m) out-degree
      bound caps every list at √m elements, so rows stay bounded even on
      power-law graphs (at 10⁹ edges: ≤ ~30k-element arrays);
    - per-edge intersection: join each oriented edge (a, b) to the two
      adjacency lists and take ``array_intersect`` — the triangle
      {a, b, c} is found exactly once, at its (deg, id)-lowest edge.
      This replaces materializing the Σ out-deg² wedge set (the classic
      3-way self-join) with m rows carrying small arrays — the total work
      is the same O(Σ outdeg²) comparisons but runs inside whole-stage
      codegen per edge instead of shuffling a wedge row per candidate;
    - corners: a + b get the intersection size, each c one count — the
      explode is exactly #triangles rows; one final sum shuffle.

    Every step is an equi-join or aggregate Catalyst plans as ordinary
    shuffles; AQE splits any residual hot bucket. Deterministic: degree
    ties broken by node id, so the orientation — and therefore every
    intermediate — is a pure function of the edge set.
    """
    return triangle_counts_with_deg(edges, u, v)[1]


def triangle_counts_with_deg(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
) -> tuple[DataFrame, DataFrame]:
    """``triangle_counts`` plus the (node, deg) undirected degree table of
    the SAME canonical edge set, both built from one shared (persisted)
    edge derivation — for callers that need both (the clustering
    coefficient pairs triangles with deg·(deg−1)/2 wedges), so the edge
    list is not derived twice. Returns ``(deg, tri)``."""
    _, deg, per_edge = _edge_triangle_lists(edges, u, v)
    corners = (
        per_edge.select(F.col("a").alias("node"), F.size("cs").cast("long").alias("cnt"))
        .unionAll(
            per_edge.select(
                F.col("b").alias("node"), F.size("cs").cast("long").alias("cnt")
            )
        )
        .unionAll(
            per_edge.select(
                F.explode("cs").alias("node"), F.lit(1).cast("long").alias("cnt")
            )
        )
    )
    return deg, corners.groupBy("node").agg(F.sum("cnt").alias("n_triangles"))


def common_neighbor_counts(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Link-prediction features per existing edge: common-neighbor and
    neighborhood-union counts (the Jaccard numerator/denominator, kept as
    exact integers — the ratio is the caller's float).

    For each canonical edge (u < v) with ≥1 shared neighbor:
    (u, v, common_cnt, union_cnt), where common_cnt = |N(u) ∩ N(v)| and
    union_cnt = |N(u)| + |N(v)| − common_cnt (note u ∈ N(v) and v ∈ N(u),
    so both endpoints are counted in the union — the standard convention
    when Jaccard scores existing edges).

    Same scale shape as ``triangle_counts``: |N(u) ∩ N(v)| for an edge is
    exactly the number of triangles through that edge, so the per-edge
    completion lists from the degree-oriented adjacency intersection
    attribute each triangle to its three edges — one explode of
    #triangles rows, one sum shuffle, never a wedge-sized intermediate
    and never a full-neighborhood array (which power-law graphs make
    unbounded).
    """
    canon, deg, per_edge = _edge_triangle_lists(edges, u, v)
    k = F.size("cs").cast("long").alias("cnt")
    one = F.lit(1).cast("long").alias("cnt")
    with_c = per_edge.select("a", "b", F.explode("cs").alias("c"))
    contrib = (
        per_edge.select(
            F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y"), k
        )
        .unionAll(
            with_c.select(
                F.least("a", "c").alias("x"), F.greatest("a", "c").alias("y"), one
            )
        )
        .unionAll(
            with_c.select(
                F.least("b", "c").alias("x"), F.greatest("b", "c").alias("y"), one
            )
        )
    )
    common = contrib.groupBy("x", "y").agg(F.sum("cnt").alias("common_cnt"))
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("deg_y"))
    return (
        canon.join(
            common,
            (F.col("cu") == F.col("x")) & (F.col("cv") == F.col("y")),
        )
        .join(dx, "x")
        .join(dy, "y")
        .select(
            F.col("cu").alias(u),
            F.col("cv").alias(v),
            "common_cnt",
            (F.col("deg_x") + F.col("deg_y") - F.col("common_cnt")).alias(
                "union_cnt"
            ),
        )
    )


def pagerank_int(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-point integer PageRank over a directed edge list.

    Ranks are integers in units of 1/``scale``: R₀ = scale for every node
    with out-edges; each round
    ``R'(i) = base + (damp_num · Σ_j floor(R(j)/outdeg(j))) div damp_den``
    with ``base = (scale·(damp_den−damp_num)) div damp_den``. Every
    operation is integer division or integer summation — commutative and
    exact — so the result is a pure function of (edge set, iters),
    bit-reproducible by any SQL engine replaying the same rounds
    (unlike float PageRank, where shuffle-order addition drifts ULPs).

    Scale shape: the canonical distributed PageRank — per round ONE hash
    join (ranks ⋈ out-degree-annotated edges on src) + ONE sum aggregate
    on dst; the annotated edge list is computed once and persisted, ranks
    are the only per-round state. No driver-side data, no global sort;
    round count is fixed (a hyperparameter, not data-dependent), so there
    is no convergence COUNT action at all.

    Output-domain caveat (deliberate, oracle-replayed): after round 1 the
    rank table is rebuilt from the dst-side aggregate only, so ONLY nodes
    with at least one in-edge appear in the output, and source-only nodes
    (out-edges but no in-edges) stop contributing mass from round 2
    onward. This deviates from textbook PageRank on graphs with
    source-only nodes; left-join the result back onto the full node set
    with ``base`` if standard semantics are wanted. Isolated nodes (no
    edges) are out of scope — an edge list defines the graph.

    Caching contract: ``annotated`` stays persisted until
    ``spark.catalog.clearCache()`` or session end; drivers running many
    operators in one session should clear between queries (bench.py and
    scripts/verify_driver_contract.py do).
    """
    # e feeds BOTH the degree aggregate and the annotated join's probe
    # side; deg feeds both the annotated edge list and the round-0 rank
    # table. Without the persists every reference re-derives the full
    # edge list (for the co-order graph queries that is the expensive
    # corpus shuffle — guide §2.4); without the count barrier the
    # consuming job's concurrent stages race the cold caches and compute
    # the derivation 2-3× anyway (r13 joblog: job_spans ≈ 2× wall).
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    annotated = e.join(deg, "src").persist()
    annotated.count()  # one parallel pass fills e, deg and annotated
    # e is never referenced after deg/annotated are materialized — its
    # cached copy was dead weight held until session clearCache
    # (ADVICE r13; guide §5: unpersist when done)
    e.unpersist()
    base = (scale * (damp_den - damp_num)) // damp_den
    ranks = deg.select(F.col("src").alias("node"), F.lit(scale).cast("long").alias("r"))
    for _ in range(iters):
        contribs = annotated.join(
            ranks, annotated["src"] == ranks["node"]
        ).select(F.col("dst"), F.expr("r div outdeg").alias("c"))
        ranks = (
            contribs.groupBy("dst")
            .agg(
                F.expr(
                    f"CAST({base} AS BIGINT) + ({damp_num} * sum(c)) div {damp_den}"
                ).alias("r")
            )
            .select(F.col("dst").alias("node"), "r")
        )
    return ranks.select("node", F.col("r").alias("rank_fp"))


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """k-core peeling, ``rounds`` iterations: repeatedly drop nodes of
    degree < k (and their edges). Returns (node, core_deg) — the degree
    table of the surviving edge set. With rounds ≥ the peel depth this is
    the exact k-core; a fixed round count keeps the operator a pure
    function of (edge set, k, rounds) that a SQL oracle can replay
    unrolled. Full convergence needs peel-depth rounds — loop externally
    on the surviving-edge count if the exact core is required.

    Caching contract: the per-round lazy persists (see inline comment)
    live until ``spark.catalog.clearCache()`` or session end; clear
    between operators in long-lived sessions (bench.py and
    scripts/verify_driver_contract.py do).

    Scale shape (the third iterative pattern next to min-label
    propagation and PageRank — filter-refinement): each round is one
    count aggregate (map-side combined) + two semi joins of the edge list
    against the (node-sized) keep set; the edge list shrinks
    monotonically, rounds are a fixed hyperparameter, and no action or
    driver-side data exists anywhere.
    """
    e0 = edges.select(F.col(u).alias("a"), F.col(v).alias("b")).where(
        F.col("a") != F.col("b")
    )
    sym = (
        e0.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e0.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .persist()
    )
    # (r13: an explicit sym.count() materialization barrier here measured
    # ~0.5 s SLOWER at sf0.1 — the rounds consume sym serially enough that
    # the cache race never doubles work, so the extra job is pure cost)
    e = sym
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select(F.col("src").alias("node"))
        e = (
            e.join(keep.select(F.col("node").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("node").alias("dst")), "dst", "left_semi")
            # each round reads its predecessor TWICE (degree pass + the
            # semi-join filter); lazy per-round persist keeps the
            # recompute tree linear in rounds instead of 2^rounds
            .persist()
        )
    return e.groupBy("src").agg(F.count(F.lit(1)).alias("core_deg")).select(
        F.col("src").alias("node"), "core_deg"
    )


# At or below this many non-self-loop edge rows, label propagation runs on
# the driver over ONE bounded Arrow collect. Warm, 2 rounds, 4-vCPU Xeon
# host: sf0.01's 119k co-order edges take 0.8-1.0 s against the
# distributed loop's 3.4-3.9 s (~12 jobs, nearly all per-round
# overhead), and sf0.1's 1.2M take 2.9-3.0 s against 12-13 s, of which
# the numpy rounds and the ship back are ~0.9 s. 2M edge rows are ~32 MB
# of Arrow on the driver. Above the gate the distributed loop runs (same
# labels).
LOCAL_LPA_MAX_EDGES = 2_000_000


def dense_edge_index(table) -> tuple:
    """``(ids, a, b)`` for a two-column Arrow edge table: rows with a null
    endpoint are dropped, ``ids`` are the sorted distinct endpoint ids,
    and ``a``/``b`` are each row's endpoints as int64 indices into
    ``ids`` — so index order is id order, and a min over indices is a
    min over ids."""
    import numpy as np
    import pyarrow.compute as pc

    table = table.filter(
        pc.and_(pc.is_valid(table.column(0)), pc.is_valid(table.column(1)))
    )
    m = table.num_rows
    ids, inv = np.unique(
        np.concatenate(
            [table.column(0).to_numpy(), table.column(1).to_numpy()]
        ),
        return_inverse=True,
    )
    inv = inv.astype(np.int64)
    return ids, inv[:m], inv[m:]


def label_propagation(
    edges: DataFrame,
    rounds: int = 2,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Synchronous label propagation (community detection), ``rounds``
    fixed iterations: labels start as node ids; each round every node
    adopts its neighbors' most frequent label, ties broken by the
    SMALLEST label — a total order, so the result is a pure function of
    (edge set, rounds) any SQL engine can replay unrolled (float-free by
    construction; the standard async/random LPA is neither deterministic
    nor oracle-checkable). Self-loops and rows with a null endpoint are
    ignored; nodes are edge-defined (isolated nodes are out of scope).

    Two paths, same labels:

    - *driver-local* (:func:`_label_propagation_local`): when both id
      columns share one integral type and the non-self-loop edge list
      passes ``bounded_collect`` under ``LOCAL_LPA_MAX_EDGES`` rows, the
      rounds run in numpy over that one Arrow collect and the labels ship
      back as a local relation.
    - *distributed* (:func:`_label_propagation_distributed`): any other
      id type, or a graph over the gate.

    Emits ``(node, community)``.
    """
    from pyspark.sql.types import IntegralType

    from ram_datapipeline_spark.session import bounded_collect

    e0 = edges.select(F.col(u).alias("a"), F.col(v).alias("b")).where(
        F.col("a") != F.col("b")
    )
    id_type = e0.schema["a"].dataType
    if isinstance(id_type, IntegralType) and e0.schema["b"].dataType == id_type:
        table = bounded_collect(e0, LOCAL_LPA_MAX_EDGES)
        if table is not None:
            return _label_propagation_local(
                edges.sparkSession, table, rounds, id_type.simpleString()
            )
    return _label_propagation_distributed(e0, rounds)


def _label_propagation_local(spark, table, rounds: int, id_type: str) -> DataFrame:
    """:func:`label_propagation` over a collected (a, b) edge table.

    Nodes are dense indices over the sorted distinct ids, so the
    smallest-label tie-break is the smallest index. The distinct
    symmetric pairs are one int64 key ``src*n + dst``; a round counts
    the distinct ``(src, lbl[dst])`` keys, which ``np.unique`` returns
    sorted by (src, lbl), and keeps per src the first row whose count is
    the src's maximum — the first row in (src, −cnt, lbl) order, i.e.
    the Spark path's ``min_by(lbl, struct(-cnt, lbl))``, found in linear
    time instead of by a sort. Every node has a neighbor, so the src
    groups are exactly the nodes 0..n−1 and every round relabels all
    n nodes."""
    import numpy as np

    from ram_datapipeline_spark.session import local_rows_df

    ids, a, b = dense_edge_index(table)
    n = len(ids)
    pairs = np.unique(np.concatenate([a * n + b, b * n + a]))
    src, dst = pairs // n, pairs % n
    lbl = np.arange(n)
    for _ in range(rounds):
        votes, cnt = np.unique(src * n + lbl[dst], return_counts=True)
        v_src, v_lbl = votes // n, votes % n
        top = np.maximum.reduceat(cnt, np.flatnonzero(np.diff(v_src, prepend=-1)))
        hit = np.flatnonzero(cnt == top[v_src])
        lbl = v_lbl[hit[np.diff(v_src[hit], prepend=-1) != 0]]
    return local_rows_df(
        spark,
        list(zip(ids.tolist(), ids[lbl].tolist())),
        f"node {id_type}, community {id_type}",
    )


def _label_propagation_distributed(e0: DataFrame, rounds: int) -> DataFrame:
    """:func:`label_propagation` as a Spark loop over the (a, b) edge
    list with self-loops already filtered out: per round ONE equi-join of
    the symmetric edge list against the (node-sized) label table + ONE
    count aggregate + ONE min_by hash aggregate picking the winner per
    node over the (−cnt, lbl) order (map-side partials, no sort anywhere
    — r13 replaced the per-node rank window). No driver-side data, no
    convergence action."""
    sym = (
        e0.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e0.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .persist()  # read once per round; caching contract as pagerank_int
    )
    # (r13: a sym.count() barrier before round 1 measured flat here — the
    # round-0 label build and the vote join overlap without doubling the
    # derivation — so the extra job is not paid; contrast khop_reach.
    # r14 re-measured: still flat — 3-rep medians 7.1-7.3 s both ways —
    # kept out.)
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(rounds):
        votes = sym.join(
            labels.select(F.col("node").alias("dst"), "lbl"), "dst"
        )
        counts = votes.groupBy("src", "lbl").agg(F.count(F.lit(1)).alias("cnt"))
        # winner per node = most frequent label, ties to the SMALLEST label
        # — as a min_by over the (−cnt, lbl) order, which is a plain hash
        # aggregate with map-side partials instead of the r12 sort window
        # (same winner: lbl is distinct within the group, so the order has
        # a unique minimum; guide §2: aggregate before you shuffle, no sort)
        labels = (
            counts.groupBy("src")
            .agg(
                F.expr("min_by(lbl, struct(-cnt, lbl))").alias("lbl")
            )
            .select(F.col("src").alias("node"), "lbl")
        )
    return labels.select("node", F.col("lbl").alias("community"))


def khop_reach(
    edges: DataFrame,
    hops: int = 2,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Bounded k-hop reachability: for every node of an undirected
    simple graph, the number of DISTINCT other nodes reachable in at
    most ``hops`` edges — the neighborhood-growth statistic behind
    influence/coverage scoring and the degrees-of-separation profile
    (the fifth iterative pattern in this module; hop expansion is the
    BFS frontier as a join, unrolled a FIXED number of times so a SQL
    oracle can replay it).

    Per hop: ONE self-equi-join of the symmetric edge list against the
    current reach set on the frontier key + a distinct — the exchange
    carries the (node, reached) pair set, which is exactly the output
    being built (candidate-bounded, wedge-sized at hops=2; for larger
    hops the set itself is the cost, as in any transitive closure).
    ``hops`` is a small fixed constant by contract — this is NOT an
    unbounded closure (``min_plus_closure`` handles that shape with
    doubling).

    Emits ``(node, reach_k)`` with self excluded.
    """
    if hops < 1:
        raise ValueError("khop_reach: hops must be >= 1")
    e0 = edges.select(F.col(u).alias("a"), F.col(v).alias("b")).where(
        F.col("a") != F.col("b")
    )
    sym = (
        e0.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e0.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        # referenced once per hop plus as the hop-0 seed — persist so the
        # edge derivation runs once (caching contract as label_propagation)
        .persist()
    )
    # hop-1 joins sym against itself: two concurrent map stages racing
    # the cold cache re-run the edge derivation (r13 joblog; guide §7.4)
    sym.count()
    reach = sym
    for _ in range(hops - 1):
        ext = (
            reach.select(F.col("src"), F.col("dst").alias("mid"))
            .join(
                sym.select(F.col("src").alias("mid"), F.col("dst")), "mid"
            )
            .select("src", "dst")
            .where(F.col("src") != F.col("dst"))
        )
        reach = reach.unionAll(ext).distinct()
    return reach.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias(f"reach_{hops}")
    )


def resource_allocation_scores(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Resource-allocation link-prediction index per existing edge
    (Zhou, Lü & Zhang 2009, public-domain graph analytics): for edge
    (u, v), RA = Σ_{z ∈ N(u)∩N(v)} 1/deg(z) — the common-neighbor count
    upgraded so a promiscuous shared neighbor certifies less than a
    selective one (the division-free sibling of Adamic–Adar, whose
    1/log(deg) weight is NOT engine-portable).

    FIXED-POINT EXACT: each shared neighbor contributes the BIGINT
    ``scale DIV deg(z)`` (integer division — identical in any engine),
    summed exactly; ``ra`` is the one IEEE division by ``scale`` at the
    end. No float accumulates, no transcendental.

    Scale shape: identical to ``common_neighbor_counts`` — the shared
    neighbors of an edge are exactly the third corners of its
    triangles, so the degree-oriented adjacency-intersection machinery
    attributes each triangle to its three edges with the opposite
    corner carried; one explode of #triangles rows, a degree join
    keyed on the corner, one sum shuffle. Never a wedge-sized
    intermediate, never a full-neighborhood array.
    """
    canon, deg, per_edge = _edge_triangle_lists(edges, u, v)
    with_c = per_edge.select("a", "b", F.explode("cs").alias("c"))
    contrib = (
        with_c.select(
            F.least("a", "b").alias("x"),
            F.greatest("a", "b").alias("y"),
            F.col("c").alias("z"),
        )
        .unionAll(
            with_c.select(
                F.least("a", "c").alias("x"),
                F.greatest("a", "c").alias("y"),
                F.col("b").alias("z"),
            )
        )
        .unionAll(
            with_c.select(
                F.least("b", "c").alias("x"),
                F.greatest("b", "c").alias("y"),
                F.col("a").alias("z"),
            )
        )
    )
    dz = deg.select(F.col("node").alias("z"), F.col("deg").alias("_dz"))
    weighted = contrib.join(dz, "z").select(
        "x",
        "y",
        F.expr(f"CAST({scale} DIV _dz AS BIGINT)").alias("_w"),
    )
    scored = weighted.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("common_cnt"),
        F.sum("_w").cast("long").alias("ra_fp"),
    )
    return (
        canon.join(
            scored,
            (F.col("cu") == F.col("x")) & (F.col("cv") == F.col("y")),
        )
        .select(
            F.col("cu").alias(u),
            F.col("cv").alias(v),
            "common_cnt",
            "ra_fp",
            (F.col("ra_fp").cast("double") / F.lit(float(scale))).alias("ra"),
        )
    )
