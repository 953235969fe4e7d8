"""Graph analytics over relationship graphs derived from the fixtures
(beyond-reference: the co-occurrence / similarity graphs a training-data
pipeline builds get mined for structure — triangle counts are the standard
clustering-coefficient / community-density primitive).

The routing-closure graph machinery lives in ``operators/graph.py``; this
module registers the oracle-gated analytic queries built on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ram_datapipeline_spark.catalog import load_tables
from ram_datapipeline_spark.operators.graph import (
    common_neighbor_counts,
    khop_reach,
    label_propagation,
    kcore_peel,
    pagerank_int,
    triangle_counts,
    triangle_counts_with_deg,
)
from ram_datapipeline_spark.registry import query


@query(
    "graph_triangle_count",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.pk AS cu, b.pk AS cv
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT cu AS node FROM edges UNION ALL SELECT cv AS node FROM edges)
      GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.cu < e.cv)
                  THEN e.cu ELSE e.cv END AS src,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.cu < e.cv)
                  THEN e.cv ELSE e.cu END AS dst
      FROM edges e
      JOIN deg du ON e.cu = du.node
      JOIN deg dv ON e.cv = dv.node
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1
      JOIN oriented e2 ON e1.dst = e2.src
      JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node AS part_key, count(*) AS n_triangles
    FROM corners GROUP BY node
    """,
    survey="graph analytics: per-node triangle counts on the co-order part graph (beyond ref)",
    tags=("graph",),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts that co-occur in an order form an undirected edge; triangles
    are triples of parts pairwise co-ordered. Degree-ordered orientation
    (``operators/graph.py::triangle_counts``) keeps the wedge join
    sub-quadratic — the oracle replays the identical (deg, id) orientation
    so both engines enumerate exactly the same triangle set."""
    return triangle_counts(_co_order_edges(spark, sf_dir)).select(
        F.col("node").alias("part_key"), "n_triangles"
    )


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-order part graph: (u < v) pairs of parts sharing an
    order (a pair may repeat across orders — consumers dedup).

    ONE shuffle: collect_set per order, then pair generation as an array
    transform inside codegen — the equi-self-join formulation shuffles the
    items table twice (distinct, then join re-shuffle) for the same pairs.
    Safe here because group size is bounded (an order has a handful of
    line items); for unbounded group sizes use the self-join form, whose
    per-row output AQE can split."""
    t = load_tables(spark, sf_dir)
    sets = (
        t["lineitem"]
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("pks"))
    )
    return sets.select(
        F.explode(
            F.expr(
                "flatten(transform(pks, (x, i) -> "
                "transform(slice(pks, i + 2, size(pks)), "
                "y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")


@query(
    "graph_pagerank",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    und AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ),
    edges AS (
      SELECT u AS src, v AS dst FROM und
      UNION ALL SELECT v AS src, u AS dst FROM und
    ),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    ae AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src),
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
    r1 AS (SELECT ae.dst AS node,
                  CAST(150000 + (85 * sum(r0.r // ae.outdeg)) // 100 AS BIGINT) AS r
           FROM ae JOIN r0 ON ae.src = r0.node GROUP BY ae.dst),
    r2 AS (SELECT ae.dst AS node,
                  CAST(150000 + (85 * sum(r1.r // ae.outdeg)) // 100 AS BIGINT) AS r
           FROM ae JOIN r1 ON ae.src = r1.node GROUP BY ae.dst),
    r3 AS (SELECT ae.dst AS node,
                  CAST(150000 + (85 * sum(r2.r // ae.outdeg)) // 100 AS BIGINT) AS r
           FROM ae JOIN r2 ON ae.src = r2.node GROUP BY ae.dst)
    SELECT node AS part_key, r AS rank_fp FROM r3
    """,
    survey="graph analytics: fixed-point integer PageRank, 3 rounds (beyond ref)",
    tags=("graph",),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round damped PageRank on the (symmetrized) co-order part graph in
    exact integer fixed-point — rank units of 1e-6, every step an integer
    div/sum, so Spark and the SQL oracle replaying the identical rounds
    agree bit-for-bit (float PageRank can't hash-match across engines:
    shuffle-order addition drifts ULPs). One join + one agg per round
    (``operators/graph.py::pagerank_int``)."""
    # distinct here, not just in the operator: edge multiplicity would
    # weight the contribution sums (the oracle's `und` is DISTINCT too)
    und = _co_order_edges(spark, sf_dir).distinct()
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    return pagerank_int(edges, iters=3).select(
        F.col("node").alias("part_key"), "rank_fp"
    )


@query(
    "graph_common_neighbors",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.pk AS cu, b.pk AS cv
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT cu AS node FROM edges UNION ALL SELECT cv AS node FROM edges)
      GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.cu < e.cv)
                  THEN e.cu ELSE e.cv END AS src,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.cu < e.cv)
                  THEN e.cv ELSE e.cu END AS dst
      FROM edges e
      JOIN deg du ON e.cu = du.node
      JOIN deg dv ON e.cv = dv.node
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1
      JOIN oriented e2 ON e1.dst = e2.src
      JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    contrib AS (
      SELECT least(a, b) AS x, greatest(a, b) AS y FROM tri
      UNION ALL SELECT least(a, c), greatest(a, c) FROM tri
      UNION ALL SELECT least(b, c), greatest(b, c) FROM tri
    ),
    common AS (SELECT x, y, count(*) AS common_cnt FROM contrib GROUP BY x, y)
    SELECT c.x AS part_a, c.y AS part_b, c.common_cnt,
           du.d + dv.d - c.common_cnt AS union_cnt
    FROM common c
    JOIN deg du ON c.x = du.node
    JOIN deg dv ON c.y = dv.node
    """,
    survey="graph analytics: per-edge common-neighbor / Jaccard counts (link prediction, beyond ref)",
    tags=("graph",),
)
def q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction features on the co-order part graph: for each
    co-ordered part pair with a shared co-order neighbor, the exact
    integer Jaccard numerator (common neighbors = triangles through the
    edge) and denominator (neighborhood union). Reuses the degree-oriented
    triangle machinery — never a full-neighborhood array, never a
    wedge-sized shuffle (``operators/graph.py::common_neighbor_counts``)."""
    return common_neighbor_counts(_co_order_edges(spark, sf_dir)).select(
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        "common_cnt",
        "union_cnt",
    )


@query(
    "graph_kcore",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    und AS (
      SELECT DISTINCT a.pk AS cu, b.pk AS cv
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ),
    e0 AS (
      SELECT cu AS src, cv AS dst FROM und
      UNION ALL SELECT cv AS src, cu AS dst FROM und
    ),
    k1 AS (SELECT src AS node FROM e0 GROUP BY src HAVING count(*) >= 90),
    e1 AS (SELECT e.src, e.dst FROM e0 e
           JOIN k1 a ON e.src = a.node JOIN k1 b ON e.dst = b.node),
    k2 AS (SELECT src AS node FROM e1 GROUP BY src HAVING count(*) >= 90),
    e2 AS (SELECT e.src, e.dst FROM e1 e
           JOIN k2 a ON e.src = a.node JOIN k2 b ON e.dst = b.node),
    k3 AS (SELECT src AS node FROM e2 GROUP BY src HAVING count(*) >= 90),
    e3 AS (SELECT e.src, e.dst FROM e2 e
           JOIN k3 a ON e.src = a.node JOIN k3 b ON e.dst = b.node)
    SELECT src AS part_key, count(*) AS core_deg FROM e3 GROUP BY src
    """,
    survey="graph analytics: k-core peeling, 3 rounds (beyond ref)",
    tags=("graph",),
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-community extraction: three rounds of degree-<90 peeling on
    the co-order part graph, surviving nodes with their in-core degree.
    Fixed round count ⇒ a pure function of the edge set the unrolled-CTE
    oracle replays exactly (``operators/graph.py::kcore_peel``)."""
    return kcore_peel(_co_order_edges(spark, sf_dir), k=90, rounds=3).select(
        F.col("node").alias("part_key"), "core_deg"
    )


@query(
    "graph_clustering_coeff",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.pk AS cu, b.pk AS cv
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT cu AS node FROM edges UNION ALL SELECT cv AS node FROM edges)
      GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.cu < e.cv)
                  THEN e.cu ELSE e.cv END AS src,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.cu < e.cv)
                  THEN e.cv ELSE e.cu END AS dst
      FROM edges e
      JOIN deg du ON e.cu = du.node
      JOIN deg dv ON e.cv = dv.node
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1
      JOIN oriented e2 ON e1.dst = e2.src
      JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    tc AS (SELECT node, count(*) AS n_triangles FROM corners GROUP BY node)
    SELECT d.node AS part_key,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(d.d * (d.d - 1) // 2 AS BIGINT) AS n_wedges
    FROM deg d LEFT JOIN tc t ON d.node = t.node
    """,
    survey="graph analytics: local clustering coefficient as exact integer pair (beyond ref)",
    tags=("graph",),
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient kept exact: per node, triangle count
    and wedge count (deg·(deg−1)/2) as integers — the coefficient is the
    caller's division, so the gate stays bit-exact. Every node appears,
    zero-triangle nodes included (LEFT join against the triangle table)."""
    # deg comes from the same shared (persisted) canonical edge set the
    # triangle pass uses — re-deriving it here cost a second full edge
    # derivation (r13: 54 lineitem scans in one plan before the reuse)
    deg, tri = triangle_counts_with_deg(_co_order_edges(spark, sf_dir))
    return deg.join(tri, "node", "left").select(
        F.col("node").alias("part_key"),
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        F.expr("deg * (deg - 1) div 2").cast("long").alias("n_wedges"),
    )


@query(
    "graph_label_propagation",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    und AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ),
    sym AS (
      SELECT u AS src, v AS dst FROM und
      UNION
      SELECT v AS src, u AS dst FROM und
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
    v1 AS (
      SELECT s.src, l.lbl, count(*) AS cnt
      FROM sym s JOIN l0 l ON s.dst = l.node
      GROUP BY s.src, l.lbl
    ),
    l1 AS (
      SELECT src AS node, lbl FROM (
        SELECT src, lbl,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cnt DESC, lbl) AS rn
        FROM v1
      ) WHERE rn = 1
    ),
    v2 AS (
      SELECT s.src, l.lbl, count(*) AS cnt
      FROM sym s JOIN l1 l ON s.dst = l.node
      GROUP BY s.src, l.lbl
    ),
    l2 AS (
      SELECT src AS node, lbl FROM (
        SELECT src, lbl,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cnt DESC, lbl) AS rn
        FROM v2
      ) WHERE rn = 1
    )
    SELECT node AS part_key, lbl AS community FROM l2
    """,
    survey=(
        "graph analytics: deterministic synchronous label propagation, 2 "
        "unrolled rounds (community detection; fourth iterative pattern)"
    ),
    tags=("graph",),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities on the co-order part graph by 2-round synchronous LPA
    with (max count, min label) tie-break — fully deterministic, the
    oracle replays both rounds unrolled
    (operators/graph.py::label_propagation). The integer part keys take
    the driver-local numpy rounds while the edge list is under
    ``graph.LOCAL_LPA_MAX_EDGES`` rows (both sf0.01's ~119k and sf0.1's
    ~1.2M are); a larger graph runs the distributed loop."""
    lp = label_propagation(
        _co_order_edges(spark, sf_dir), rounds=2, u="u", v="v"
    )
    return lp.select(F.col("node").alias("part_key"), "community")


@query(
    "graph_khop_reach",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-04-01'
    ),
    edges AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ),
    sym AS (
      SELECT u AS src, v AS dst FROM edges
      UNION SELECT v, u FROM edges
    ),
    two AS (
      SELECT s1.src, s2.dst
      FROM sym s1 JOIN sym s2 ON s1.dst = s2.src
      WHERE s1.src <> s2.dst
    ),
    reach AS (
      SELECT src, dst FROM sym UNION SELECT src, dst FROM two
    )
    SELECT src AS node, count(*) AS reach_2
    FROM reach GROUP BY src
    """,
    survey=(
        "bounded k-hop reachability (BFS frontier as unrolled joins) — "
        "graph analytics, beyond ref"
    ),
    tags=("graph",),
)
def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct nodes reachable in <=2 hops per part of the 1996-Q1
    co-order graph (operators/graph.py::khop_reach): one frontier
    equi-join + distinct per hop, hop count fixed — the exchange
    carries the (node, reached) pair set being built, never an
    unbounded closure. The graph is scoped to one quarter of orders BY
    THE QUERY, not the operator: the 2-hop set on the full-year graph
    is neighborhood-quadratic (that graph stays the domain of the
    wedge-bounded ops — triangles, common neighbors); reach profiles
    are a windowed analysis in practice anyway."""
    t = load_tables(spark, sf_dir)
    items = (
        t["lineitem"]
        .join(
            t["orders"].where(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-04-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
    )
    sets = items.groupBy("ok").agg(
        F.sort_array(F.collect_set("pk")).alias("pks")
    )
    edges = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(pks, (x, i) -> "
                "transform(slice(pks, i + 2, size(pks)), "
                "y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v").distinct()
    return khop_reach(edges, hops=2, u="u", v="v")


@query(
    "graph_resource_allocation",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.pk AS cu, b.pk AS cv
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT cu AS node FROM edges UNION ALL SELECT cv AS node FROM edges)
      GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.cu < e.cv)
                  THEN e.cu ELSE e.cv END AS src,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.cu < e.cv)
                  THEN e.cv ELSE e.cu END AS dst
      FROM edges e
      JOIN deg du ON e.cu = du.node
      JOIN deg dv ON e.cv = dv.node
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1
      JOIN oriented e2 ON e1.dst = e2.src
      JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    contrib AS (
      SELECT least(a, b) AS x, greatest(a, b) AS y, c AS z FROM tri
      UNION ALL SELECT least(a, c), greatest(a, c), b FROM tri
      UNION ALL SELECT least(b, c), greatest(b, c), a FROM tri
    ),
    scored AS (
      SELECT x, y,
             CAST(count(*) AS BIGINT) AS common_cnt,
             CAST(sum(1000000000 // d.d) AS BIGINT) AS ra_fp
      FROM contrib JOIN deg d ON contrib.z = d.node
      GROUP BY x, y
    )
    SELECT e.cu AS part_a, e.cv AS part_b, s.common_cnt, s.ra_fp,
           CAST(s.ra_fp AS DOUBLE) / 1000000000.0 AS ra
    FROM edges e JOIN scored s ON e.cu = s.x AND e.cv = s.y
    """,
    survey=(
        "graph analytics: resource-allocation link-prediction index "
        "per edge (Zhou/Lu/Zhang 2009) — common neighbors weighted by "
        "fixed-point 1/deg (scale DIV deg, engine-exact integer "
        "division); same degree-oriented triangle machinery as the "
        "Jaccard counts, one explode of #triangles rows (beyond ref)"
    ),
    tags=("graph",),
)
def q_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RA index on the co-order part graph
    (operators/graph.py::resource_allocation_scores): shared neighbors
    of an edge = third corners of its triangles, each weighted
    scale DIV deg — never a full-neighborhood array."""
    from ram_datapipeline_spark.operators.graph import (
        resource_allocation_scores,
    )

    return resource_allocation_scores(_co_order_edges(spark, sf_dir)).select(
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        "common_cnt",
        "ra_fp",
        "ra",
    )
