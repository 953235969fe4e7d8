"""Nearest-POI ETA — the analytics core of the reference, Spark-first.

Reference semantics (ram-analysis/app/calculate-eta/tasks.js):
- For every origin inside a work area, compute the duration to every
  candidate POI of each type via one vectorized ``osrm.table`` call per
  (grid square × POI type) (tasks.js:246-283).
- Reduce per origin/type to the minimum, with ``null`` (unreachable) mapped
  to +Infinity before the min so unreachable never wins as 0
  (tasks.js:276-279).
- Add a walking penalty from the origin to its snapped road point:
  ``eta = table_min + nearest_m / walk_speed`` (tasks.js:136-151).
- Candidate pruning: only POIs within an (adaptively enlarged) travel-time
  buffer enter the matrix (tasks.js:57-91, min 4 candidates per type).

Spark shape: the duration matrix is a *long-format* DataFrame
(origin_id, poi_id, poi_type, duration_s) produced by a join, not a 2-D
array — index-positional alignment (tasks.js:143-151) is replaced by keys
carried end-to-end (SURVEY §7 hard-point 2). The min-reduce is a
``groupBy().agg(F.min)``; pruning is a grid-neighborhood equi-join that
Catalyst turns into a shuffle-free broadcast plan when the POI side is small.

Scale strategy (100 TB): POI/dimension sides are broadcast (they are small
relative to origins by construction — hospitals, banks). Origins-side
parallelism comes from one coalescible hash shuffle of the origin rows
ahead of the cross join (``nearest_poi_eta``); the grid path
(``nearest_poi_eta_grid``) shuffles both sides once on the cell key and joins
each origin cell against its 3×3 cell neighborhood, bounding the candidate
set per origin regardless of total POI count — the scalable analog of the
reference's buffer pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ram_datapipeline_spark.functions import geo


def _cost_pairs(
    origins: DataFrame,
    pois: DataFrame,
    speed_kmh: float,
    broadcast_pois: bool = True,
) -> DataFrame:
    """``origins`` × ``pois`` with the straight-line ``duration_s`` per
    pair, in whatever partitioning ``origins`` arrives with."""
    p = pois.select(
        F.col("poi_id"),
        F.col("poi_type"),
        F.col("lon").alias("_poi_lon"),
        F.col("lat").alias("_poi_lat"),
    )
    if broadcast_pois:
        p = F.broadcast(p)
    dur = geo.eta_seconds(
        F.col("lon"), F.col("lat"), F.col("_poi_lon"), F.col("_poi_lat"), speed_kmh
    )
    pairs = origins.crossJoin(p)
    return pairs.withColumn("duration_s", dur).drop("_poi_lon", "_poi_lat")


def duration_matrix(
    origins: DataFrame,
    pois: DataFrame,
    speed_kmh: float = geo.MAX_SPEED_KMH,
    broadcast_pois: bool = True,
) -> DataFrame:
    """Long-format many-to-many duration matrix (SURVEY J4/U1).

    ``origins``: (origin_id, lon, lat, ...); ``pois``: (poi_id, poi_type,
    lon, lat). Output: origin columns + (poi_id, poi_type, duration_s).

    The analog of ``osrm.table`` under the pluggable straight-line cost
    backend; a road-network backend drops in via ``mapInPandas`` over the
    same long format (see ``routed_duration_matrix``).
    """
    from ram_datapipeline_spark.session import ensure_parallelism

    # the crossJoin multiplies each origin row |pois|×; a single-partition
    # origins scan would serialize the whole cost evaluation
    return _cost_pairs(ensure_parallelism(origins), pois, speed_kmh, broadcast_pois)


def min_duration(
    matrix: DataFrame,
    origin_keys: list[str],
    unreachable_over_s: float | None = None,
) -> DataFrame:
    """Per-origin/type min-reduce (SURVEY A1).

    Replicates the reference's null→Infinity→min semantics
    (tasks.js:276-279): null durations never win; if every candidate is
    null/over-limit the ETA is null (unreachable). ``unreachable_over_s``
    optionally nulls out durations beyond a cutoff first (maxTime analog).
    """
    dur: Column = F.col("duration_s")
    if unreachable_over_s is not None:
        dur = F.when(dur <= unreachable_over_s, dur)  # else NULL
    return matrix.groupBy(*origin_keys, "poi_type").agg(F.min(dur).alias("eta_s"))


def nearest_poi_eta(
    origins: DataFrame,
    pois: DataFrame,
    origin_keys: list[str] | None = None,
    speed_kmh: float = geo.MAX_SPEED_KMH,
    unreachable_over_s: float | None = None,
) -> DataFrame:
    """Flagship: per origin, ETA (s) to the nearest POI of each type.

    scan → hash shuffle of the origins on ``origin_keys[0]`` →
    crossJoin(broadcast POIs) → cost → groupBy.min. The shuffle is the
    plan's only data exchange: the min-reduce groups by keys that start
    with the shuffle key, so Catalyst plans it (and any further aggregate
    grouped by a superset of that key) inside the same stage. It carries
    origin rows, not the |pois|× matrix, and has no partition count, so
    AQE coalesces it: a small origin set stays one task, while one above
    ~1 MB per core still splits at least ``defaultParallelism`` ways.
    Unlike a round-robin spread behind a partition-count probe, nothing
    runs before the action.
    """
    origin_keys = origin_keys or ["origin_id"]
    spread = origins.repartition(origin_keys[0])
    m = _cost_pairs(spread, pois, speed_kmh)
    return min_duration(m, origin_keys, unreachable_over_s)


def nearest_poi_eta_grid(
    origins: DataFrame,
    pois: DataFrame,
    origin_keys: list[str] | None = None,
    speed_kmh: float = geo.MAX_SPEED_KMH,
    cell_deg: float = geo.GRID_SIZE_DEG * 30,
) -> DataFrame:
    """Grid-pruned variant for large POI sides (SURVEY J7 + buffer pruning J3).

    POIs are replicated into each of the 3×3 neighboring cells (explode of a
    9-element offset array — cheap, POIs are the small side), then
    equi-joined on the packed cell id. Each origin only meets POIs within
    one cell radius — the scalable analog of the reference's travel-time
    buffer (tasks.js:57-91). Origins in cells whose neighborhood has no POI
    of a type fall back to NULL eta via the left join (unreachable), matching
    the reference's null semantics rather than scanning the world.

    Note: unlike the adaptive buffer loop, a fixed neighborhood can miss a
    nearest POI that lies farther than one cell away; choose ``cell_deg`` ≥
    the max service radius (maxSpeed*maxTime) as the reference does via
    maxTime (index.js:79-80). For oracle-exact nearest-anywhere semantics use
    ``nearest_poi_eta``.
    """
    origin_keys = origin_keys or ["origin_id"]
    o = origins.withColumn("_cx", geo.grid_cell_x(F.col("lon"), cell_deg)).withColumn(
        "_cy", geo.grid_cell_y(F.col("lat"), cell_deg)
    )
    offsets = F.expr("explode(flatten(transform(sequence(-1,1), dx -> transform(sequence(-1,1), dy -> struct(dx, dy)))))")
    p = (
        pois.withColumn("_cx0", geo.grid_cell_x(F.col("lon"), cell_deg))
        .withColumn("_cy0", geo.grid_cell_y(F.col("lat"), cell_deg))
        .select(
            "poi_id",
            "poi_type",
            F.col("lon").alias("_poi_lon"),
            F.col("lat").alias("_poi_lat"),
            "_cx0",
            "_cy0",
            offsets.alias("_off"),
        )
        .select(
            "poi_id",
            "poi_type",
            "_poi_lon",
            "_poi_lat",
            (F.col("_cx0") + F.col("_off.dx")).alias("_cx"),
            (F.col("_cy0") + F.col("_off.dy")).alias("_cy"),
        )
    )
    joined = o.join(F.broadcast(p), on=["_cx", "_cy"], how="left")
    dur = F.when(
        F.col("poi_id").isNotNull(),
        geo.eta_seconds(
            F.col("lon"), F.col("lat"), F.col("_poi_lon"), F.col("_poi_lat"), speed_kmh
        ),
    )
    return (
        joined.withColumn("duration_s", dur)
        .groupBy(*origin_keys, "poi_type")
        .agg(F.min("duration_s").alias("eta_s"))
    )


def routed_duration_matrix(
    origins: DataFrame,
    pois: DataFrame,
    cell_deg: float,
    kernel=None,
    speed_kmh: float = geo.MAX_SPEED_KMH,
) -> DataFrame:
    """Routing-kernel duration matrix over ``mapInPandas`` — the exact
    execution shape of the reference's ``osrm.table`` (U1/J4,
    tasks.js:246-283): ONE vectorized kernel invocation per grid-cell
    batch, sources × destinations inside the cell's 3×3 neighborhood.

    ``kernel(o_lon, o_lat, p_lon, p_lat) -> seconds`` is the pluggable cost
    backend taking numpy arrays (a real OSRM/contraction-hierarchy backend
    drops in here unchanged — it receives the same per-cell coordinate
    batches the reference hands to ``table()``). Default: the planar
    straight-line ETA, IEEE-exact (sqrt only), so results are
    oracle-reproducible.

    Scale shape: POIs are replicated to neighbor cells (small side),
    origins shuffle once on the cell key; each Arrow batch holds whole
    cells (``groupBy(cell).applyInPandas``-style locality via
    repartition + mapInPandas), so kernel calls amortize like the
    reference's per-square batching.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    if kernel is None:

        def kernel(olon, olat, plon, plat):  # planar ETA, IEEE-exact
            dx = olon - plon
            dy = olat - plat
            km = np.sqrt(dx * dx + dy * dy) * geo.KM_PER_DEGREE
            return km / speed_kmh * 3600.0

    o = origins.withColumn("_cx", geo.grid_cell_x(F.col("lon"), cell_deg)).withColumn(
        "_cy", geo.grid_cell_y(F.col("lat"), cell_deg)
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1,1),"
        " dx -> transform(sequence(-1,1), dy -> struct(dx, dy)))))"
    )
    p = (
        pois.withColumn("_cx0", geo.grid_cell_x(F.col("lon"), cell_deg))
        .withColumn("_cy0", geo.grid_cell_y(F.col("lat"), cell_deg))
        .select(
            "poi_id",
            "poi_type",
            F.col("lon").alias("_poi_lon"),
            F.col("lat").alias("_poi_lat"),
            "_cx0",
            "_cy0",
            offsets.alias("_off"),
        )
        .select(
            "poi_id",
            "poi_type",
            "_poi_lon",
            "_poi_lat",
            (F.col("_cx0") + F.col("_off.dx")).alias("_cx"),
            (F.col("_cy0") + F.col("_off.dy")).alias("_cy"),
        )
    )
    pairs = o.join(F.broadcast(p), on=["_cx", "_cy"]).repartition("_cx", "_cy")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dur = kernel(
                pdf["lon"].to_numpy(),
                pdf["lat"].to_numpy(),
                pdf["_poi_lon"].to_numpy(),
                pdf["_poi_lat"].to_numpy(),
            )
            yield pd.DataFrame(
                {
                    "origin_id": pdf["origin_id"],
                    "poi_id": pdf["poi_id"],
                    "poi_type": pdf["poi_type"],
                    "duration_s": dur,
                }
            )

    return pairs.mapInPandas(
        run,
        schema="origin_id long, poi_id long, poi_type string, duration_s double",
    )


def nearest_poi_eta_routed(
    origins: DataFrame,
    pois: DataFrame,
    cell_deg: float,
    kernel=None,
    speed_kmh: float = geo.MAX_SPEED_KMH,
) -> DataFrame:
    """Grid-pruned nearest-POI ETA through the Python routing kernel:
    matrix (3×3 neighborhood candidates) → per-origin/type min. Origins in
    cells with no candidate POI of a type produce no row (unreachable) —
    reference semantics when the buffer never captures a POI."""
    m = routed_duration_matrix(origins, pois, cell_deg, kernel, speed_kmh)
    return m.groupBy("origin_id", "poi_type").agg(
        F.min("duration_s").alias("eta_s")
    )


def nearest_snap_distance(
    origins: DataFrame,
    vertices: DataFrame,
    origin_keys: list[str] | None = None,
    max_vertices: int | None = 100_000,
) -> DataFrame:
    """Nearest-neighbor snap distance in km (SURVEY J5/U2).

    Reference: ``osrm.nearest`` per origin in series (tasks.js:181-213).
    Here: broadcast cross join against road vertices + min — one pass, no
    per-row call. Output: origin_keys + snap_km.

    ``max_vertices`` is the scale fence: O(origins × vertices) is only
    sane while the vertex set broadcasts; above the fence use
    ``nearest_snap_distance_grid`` (the gated walk-penalty query does), or
    pass ``max_vertices=None`` to force.
    """
    if max_vertices is not None:
        nv = vertices.count()
        if nv > max_vertices:
            raise ValueError(
                f"nearest_snap_distance is O(origins × vertices): {nv}"
                f" vertices > max_vertices={max_vertices}. Use"
                " nearest_snap_distance_grid at this scale, or pass"
                " max_vertices=None to force."
            )
    origin_keys = origin_keys or ["origin_id"]
    v = F.broadcast(
        vertices.select(F.col("lon").alias("_v_lon"), F.col("lat").alias("_v_lat"))
    )
    d = geo.dist_km(F.col("lon"), F.col("lat"), F.col("_v_lon"), F.col("_v_lat"))
    return (
        origins.crossJoin(v)
        .withColumn("_d", d)
        .groupBy(*origin_keys)
        .agg(F.min("_d").alias("snap_km"))
    )


def nearest_snap_distance_grid(
    origins: DataFrame,
    vertices: DataFrame,
    cell_deg: float,
    origin_keys: list[str] | None = None,
) -> DataFrame:
    """Grid-pruned snap distance for LARGE vertex sets (planet-scale road
    networks): vertices replicated to 3×3 neighbor cells, equi-join on the
    cell key, per-origin min. Exact whenever the true nearest vertex lies
    within one cell (cell_deg ≥ max expected snap distance — the
    reference's snap is bounded by road density, tasks.js:181-213).
    Origins with an empty neighborhood yield no row (caller decides the
    unsnapped policy). Output: origin_keys + snap_km."""
    origin_keys = origin_keys or ["origin_id"]
    o = origins.withColumn("_cx", geo.grid_cell_x(F.col("lon"), cell_deg)).withColumn(
        "_cy", geo.grid_cell_y(F.col("lat"), cell_deg)
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1,1),"
        " dx -> transform(sequence(-1,1), dy -> struct(dx, dy)))))"
    )
    v = (
        vertices.withColumn("_cx0", geo.grid_cell_x(F.col("lon"), cell_deg))
        .withColumn("_cy0", geo.grid_cell_y(F.col("lat"), cell_deg))
        .select(
            F.col("lon").alias("_v_lon"),
            F.col("lat").alias("_v_lat"),
            "_cx0",
            "_cy0",
            offsets.alias("_off"),
        )
        .select(
            "_v_lon",
            "_v_lat",
            (F.col("_cx0") + F.col("_off.dx")).alias("_cx"),
            (F.col("_cy0") + F.col("_off.dy")).alias("_cy"),
        )
    )
    d = geo.dist_km(F.col("lon"), F.col("lat"), F.col("_v_lon"), F.col("_v_lat"))
    return (
        o.join(v, on=["_cx", "_cy"])
        .withColumn("_d", d)
        .groupBy(*origin_keys)
        .agg(F.min("_d").alias("snap_km"))
    )


def eta_with_walk_penalty(eta: DataFrame, snap: DataFrame, origin_keys: list[str] | None = None) -> DataFrame:
    """Final ETA formula (SURVEY F4, tasks.js:136-151):
    eta_total = table_eta + walk_time(snap distance), null-preserving."""
    origin_keys = origin_keys or ["origin_id"]
    joined = eta.join(snap, on=origin_keys, how="left")
    total = F.when(
        F.col("eta_s").isNotNull(),
        F.col("eta_s") + geo.walk_penalty_seconds(F.col("snap_km")),
    )
    return joined.withColumn("eta_total_s", total)


def accessibility_index(
    eta: DataFrame,
    thresholds_s: tuple[int, ...] = (1800, 3600, 7200),
    group_cols: list[str] | None = None,
    pop_col: str = "pop_i",
    eta_col: str = "eta_i",
) -> DataFrame:
    """Population-weighted accessibility indicator — the RAM project's
    downstream metric (per admin area: what share of the population is
    within T seconds of each service type; the reference computes the
    per-origin ETAs and carries `pop` into its GeoJSON properties,
    index.js:525-541 — this is the aggregation those properties feed).

    One aggregation pass over the per-origin nearest-POI table:
    ``pop_within_<T> = Σ pop·[eta ≤ T]`` as conditional sums (map-side
    partial, one shuffle on the group key), shares as divisions of the
    exact integer sums — deterministic doubles, no float accumulation
    (population is integer by contract; NULL eta = unreachable, counted
    in the total but no threshold bucket).
    """
    group_cols = group_cols or ["admin_id", "poi_type"]
    aggs = [F.sum(pop_col).cast("bigint").alias("pop_total")]
    for t in thresholds_s:
        aggs.append(
            F.sum(
                F.when(F.col(eta_col) <= t, F.col(pop_col)).otherwise(F.lit(0))
            ).cast("bigint").alias(f"pop_within_{t}")
        )
    out = eta.groupBy(*group_cols).agg(*aggs)
    for t in thresholds_s:
        out = out.withColumn(
            f"share_{t}",
            F.when(
                F.col("pop_total") > 0,
                F.col(f"pop_within_{t}") / F.col("pop_total"),
            ).otherwise(F.lit(0.0)),
        )
    return out
