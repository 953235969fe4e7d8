"""RAM-domain views derived from the fixture star schema.

Role mapping (FIXTURES.md): ``customer`` ≈ origins (villages,
reference projects_origins — ram-analysis/app/index.js:221-262),
``supplier`` ≈ POIs (per-type GeoJSON files — index.js:282-294),
``nation``/``region`` ≈ admin-area grouping (projects_aa —
index.js:308-339).

Coordinates are synthesized deterministically from integer keys via modular
arithmetic (see functions.geo) because the fixtures carry none; every
expression is IEEE-exact and reproducible in ANSI SQL, which is what lets
the spatial/routing plans be oracle-checked bit-for-bit.

The matching oracle-SQL fragments live next to each builder so the two can
never drift apart.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ram_datapipeline_spark.functions import geo

# Key multipliers: distinct per entity so origins/POIs don't coincide.
ORIGIN_LON_MULT, ORIGIN_LAT_MULT = 37, 53
POI_LON_MULT, POI_LAT_MULT = 41, 59

POI_TYPE_CASE = (
    "CASE s_suppkey % 3 WHEN 0 THEN 'hospital' WHEN 1 THEN 'school' ELSE 'bank' END"
)

# --- oracle-SQL fragments (DuckDB/ANSI), mirrored by the builders below ---

ORIGINS_SQL = (
    "SELECT c_custkey AS origin_id, c_nationkey AS admin_id, "
    "CAST((c_custkey * 37) % 3600 AS DOUBLE) / 10.0 - 180.0 AS lon, "
    "CAST((c_custkey * 53) % 1700 AS DOUBLE) / 10.0 - 85.0 AS lat "
    "FROM customer"
)

POIS_SQL = (
    "SELECT s_suppkey AS poi_id, "
    f"{POI_TYPE_CASE} AS poi_type, "
    "CAST((s_suppkey * 41) % 3600 AS DOUBLE) / 10.0 - 180.0 AS lon, "
    "CAST((s_suppkey * 59) % 1700 AS DOUBLE) / 10.0 - 85.0 AS lat "
    "FROM supplier"
)

# Admin areas: one axis-aligned rectangle per nation, tiling lon into 25
# half-open slabs of 14.4° and the full lat range — exact edges.
ADMIN_AREAS_SQL = (
    "SELECT n_nationkey AS aa_id, n_name AS name, "
    "CAST(n_nationkey AS DOUBLE) * 14.4 - 180.0 AS xmin, -85.0 AS ymin, "
    "CAST(n_nationkey + 1 AS DOUBLE) * 14.4 - 180.0 AS xmax, 85.0 AS ymax "
    "FROM nation"
)


def origins(customer: DataFrame, *extra: Column) -> DataFrame:
    """Origins view: (origin_id, admin_id, lon, lat), then any ``extra``
    columns projected off the same customer row."""
    return customer.select(
        F.col("c_custkey").alias("origin_id"),
        F.col("c_nationkey").alias("admin_id"),
        geo.synth_lon(F.col("c_custkey"), ORIGIN_LON_MULT).alias("lon"),
        geo.synth_lat(F.col("c_custkey"), ORIGIN_LAT_MULT).alias("lat"),
        *extra,
    )


def pois(supplier: DataFrame) -> DataFrame:
    """POIs view: (poi_id, poi_type, lon, lat)."""
    return supplier.select(
        F.col("s_suppkey").alias("poi_id"),
        F.expr(POI_TYPE_CASE).alias("poi_type"),
        geo.synth_lon(F.col("s_suppkey"), POI_LON_MULT).alias("lon"),
        geo.synth_lat(F.col("s_suppkey"), POI_LAT_MULT).alias("lat"),
    )


def admin_areas(nation: DataFrame) -> DataFrame:
    """Admin-area rectangles: (aa_id, name, xmin, ymin, xmax, ymax)."""
    return nation.select(
        F.col("n_nationkey").alias("aa_id"),
        F.col("n_name").alias("name"),
        (F.col("n_nationkey").cast("double") * 14.4 - 180.0).alias("xmin"),
        F.lit(-85.0).alias("ymin"),
        ((F.col("n_nationkey") + 1).cast("double") * 14.4 - 180.0).alias("xmax"),
        F.lit(85.0).alias("ymax"),
    )


# --- road-network hub graph (SURVEY U1/U4 analog: contracted routing graph) ---
#
# The reference routes over an OSRM contraction hierarchy built offline from
# OSM (ram-analysis/app/calculate-eta/tasks.js:246-283; osrm-extract/contract
# per SURVEY §2.9 U4). The Spark-first analog: contract the road network to
# one hub per admin slab, hold the hub-to-hub shortest-path closure (computed
# distributedly — operators/graph.py), and let the per-cell routing kernel
# look travel times up in the broadcast closure. Hub ids ARE nation keys, so
# a point's hub is derivable from its lon slab alone: floor((lon+180)/14.4).
#
# Edges: the ring hub_i → hub_{i±1 mod 25} (trunk roads between adjacent
# slabs) plus a complete graph within each region (regional motorways).
# Weights = planar drive seconds between hub coordinates — IEEE-exact, so
# the closure is reproducible bit-for-bit in ANSI SQL.

HUBS_SQL = (
    "SELECT n_nationkey AS hub_id, n_regionkey AS region_id, "
    "CAST(n_nationkey AS DOUBLE) * 14.4 - 180.0 + 7.2 AS lon, "
    "CAST((n_nationkey * 53) % 170 AS DOUBLE) - 85.0 AS lat "
    "FROM nation"
)

# Symmetric directed edge list over the hubs CTE ``h`` (both orientations
# emitted by the symmetric ON condition; weight formula is symmetric since
# (x-y)^2 == (y-x)^2 exactly in IEEE arithmetic).
ROAD_EDGES_ON_SQL = (
    "((b.hub_id - a.hub_id + 25) % 25 = 1) "
    "OR ((a.hub_id - b.hub_id + 25) % 25 = 1) "
    "OR (a.region_id = b.region_id AND a.hub_id <> b.hub_id)"
)
ROAD_EDGE_W_SQL = (
    "sqrt((a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat))"
    " * 111.0 / 120.0 * 3600.0"
)
ROAD_EDGES_SQL = (
    f"SELECT a.hub_id AS src, b.hub_id AS dst, {ROAD_EDGE_W_SQL} AS w "
    f"FROM h a JOIN h b ON {ROAD_EDGES_ON_SQL}"
)

N_HUBS = 25  # nation is the fixed-size TPC-H dimension at every SF


def hubs(nation: DataFrame) -> DataFrame:
    """Routing hubs: (hub_id, region_id, lon, lat), one per admin slab."""
    return nation.select(
        F.col("n_nationkey").alias("hub_id"),
        F.col("n_regionkey").alias("region_id"),
        (F.col("n_nationkey").cast("double") * 14.4 - 180.0 + 7.2).alias("lon"),
        (((F.col("n_nationkey") * 53) % 170).cast("double") - 85.0).alias("lat"),
    )


def road_edges(nation: DataFrame) -> DataFrame:
    """Directed symmetric hub edge list: (src, dst, w) with w = planar
    drive seconds (ring + intra-region clique; see module comment)."""
    h = hubs(nation)
    a = h.select(
        F.col("hub_id").alias("_a_id"), F.col("region_id").alias("_a_r"),
        F.col("lon").alias("_a_lon"), F.col("lat").alias("_a_lat"),
    )
    b = h.select(
        F.col("hub_id").alias("_b_id"), F.col("region_id").alias("_b_r"),
        F.col("lon").alias("_b_lon"), F.col("lat").alias("_b_lat"),
    )
    ring = ((F.col("_b_id") - F.col("_a_id") + N_HUBS) % N_HUBS == 1) | (
        (F.col("_a_id") - F.col("_b_id") + N_HUBS) % N_HUBS == 1
    )
    clique = (F.col("_a_r") == F.col("_b_r")) & (F.col("_a_id") != F.col("_b_id"))
    w = geo.eta_seconds(
        F.col("_a_lon"), F.col("_a_lat"), F.col("_b_lon"), F.col("_b_lat")
    )
    return (
        a.join(b, ring | clique)
        .select(
            F.col("_a_id").alias("src"),
            F.col("_b_id").alias("dst"),
            w.alias("w"),
        )
    )


# --- OSM road-network fixture (SURVEY S7 → U4 end-to-end: .osm → graph) ---
#
# The reference compiles a real `.osm` extract into its routing graph
# offline (scripts/osm2osrm.sh:32-33) and routes over it
# (tasks.js:246-283). To exercise that whole path in-engine — XML scan →
# way→edge extraction → closure → kernel — the hub network above is
# round-tripped THROUGH the OSM format: nodes at the hub coordinates, a
# closed ring way (highway=trunk, 90 km/h) linking adjacent slabs, and one
# way per region (highway=motorway, 120 km/h) chaining the region's hubs
# in key order. Everything is a pure function of the `nation` table, so a
# SQL oracle can re-derive the identical edge list without reading XML.

OSM_RING_HIGHWAY = "trunk"       # 90 km/h in sources.osm.HIGHWAY_SPEED_KMH
OSM_REGION_HIGHWAY = "motorway"  # 120 km/h


def hub_coords(k: int) -> tuple[float, float]:
    """Hub/node coordinates for nation key ``k`` — the same IEEE doubles
    as HUBS_SQL / ``hubs()`` (identical operation order in Python, SQL,
    and Spark: * then - then +)."""
    return (k * 14.4 - 180.0 + 7.2, float((k * 53) % 170) - 85.0)


def synthesize_osm_xml(nation_rows: list[tuple[int, int]]) -> str:
    """Deterministic `.osm` XML document for the hub road network.

    ``nation_rows``: [(n_nationkey, n_regionkey)]. Coordinates are printed
    with ``repr`` (shortest round-trip form), so the XML scan parses back
    the exact doubles ``hub_coords`` computed — the text hop loses
    nothing.
    """
    keys = sorted(k for k, _ in nation_rows)
    regions: dict[int, list[int]] = {}
    for k, r in sorted(nation_rows):
        regions.setdefault(r, []).append(k)
    lines = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    for k in keys:
        lon, lat = hub_coords(k)
        lines.append(f'  <node id="{k}" lon="{lon!r}" lat="{lat!r}"/>')
    ring_refs = "".join(f'    <nd ref="{k}"/>\n' for k in keys + keys[:1])
    lines.append(
        f'  <way id="1000">\n{ring_refs}'
        f'    <tag k="highway" v="{OSM_RING_HIGHWAY}"/>\n  </way>'
    )
    for r, members in sorted(regions.items()):
        refs = "".join(f'    <nd ref="{k}"/>\n' for k in members)
        lines.append(
            f'  <way id="{2000 + r}">\n{refs}'
            f'    <tag k="highway" v="{OSM_REGION_HIGHWAY}"/>\n  </way>'
        )
    lines.append("</osm>")
    return "\n".join(lines) + "\n"


def osm_fixture_path(nation: DataFrame) -> str:
    """Materialize the synthesized `.osm` document to a content-addressed
    temp file (once per content; concurrent-safe via write-then-rename)
    and return its path. The collect is the 25-row nation dimension —
    metadata-sized, same class as the hub collects."""
    import hashlib
    import os
    import tempfile

    rows = [
        (r["n_nationkey"], r["n_regionkey"])
        for r in nation.select("n_nationkey", "n_regionkey").collect()
    ]
    xml = synthesize_osm_xml(rows)
    digest = hashlib.md5(xml.encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"ram_osm_fixture_{digest}.osm")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(xml)
        os.replace(tmp, path)
    return path


# --- country-scale OSM grid fixture (SURVEY U4 at scale; VERDICT r3 #5) ---
#
# A 104×104 road-network grid (10,816 nodes, ~43k directed edges) in `.osm`
# form: one way per grid row and per grid column, highway class cycling
# through five speed tiers, so the network has the arterial structure of a
# real extract (every 5th row/column is a motorway). Coordinates are exact
# binary doubles (step 2^-6 degrees from an integer origin), so XML repr
# round-trips and SQL re-derivation are all bit-identical; edge weights
# integerize to whole seconds via floor(w + 0.5).

GRID_W = 104
GRID_H = 104
GRID_STEP = 0.015625  # 2^-6 degrees — exact binary, ~1.7 km
GRID_LON0 = 10.0
GRID_LAT0 = 10.0
GRID_CELL = 8           # 8×8-node cells → 13×13 = 169 cells
GRID_CELLS_X = GRID_W // GRID_CELL
# highway class by (row|col) % 5 — speeds per sources.osm.HIGHWAY_SPEED_KMH
GRID_HIGHWAYS = ("residential", "tertiary", "secondary", "trunk", "motorway")
GRID_SPEEDS = (30.0, 50.0, 60.0, 90.0, 120.0)
# deterministic node hashing for entities living ON the network
GRID_POI_MULT = 2246822519
GRID_ORIGIN_MULT = 2654435761


def synthesize_osm_grid_xml() -> str:
    """Deterministic `.osm` document for the grid network. Nodes are
    ``node_id = r * GRID_W + c`` at exact-binary coordinates; ways are one
    per row (way_id 10000+r) and one per column (way_id 20000+c), refs in
    index order, tagged with the class ``GRID_HIGHWAYS[idx % 5]``."""
    lines = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    for r in range(GRID_H):
        lat = GRID_LAT0 + r * GRID_STEP
        for c in range(GRID_W):
            lon = GRID_LON0 + c * GRID_STEP
            lines.append(
                f'  <node id="{r * GRID_W + c}" lon="{lon!r}" lat="{lat!r}"/>'
            )
    for r in range(GRID_H):
        refs = "".join(
            f'    <nd ref="{r * GRID_W + c}"/>\n' for c in range(GRID_W)
        )
        lines.append(
            f'  <way id="{10000 + r}">\n{refs}'
            f'    <tag k="highway" v="{GRID_HIGHWAYS[r % 5]}"/>\n  </way>'
        )
    for c in range(GRID_W):
        refs = "".join(
            f'    <nd ref="{r * GRID_W + c}"/>\n' for r in range(GRID_H)
        )
        lines.append(
            f'  <way id="{20000 + c}">\n{refs}'
            f'    <tag k="highway" v="{GRID_HIGHWAYS[c % 5]}"/>\n  </way>'
        )
    lines.append("</osm>")
    return "\n".join(lines) + "\n"


def osm_grid_fixture_path() -> str:
    """Materialize the grid `.osm` document to a content-addressed temp
    file (write-then-rename, same contract as ``osm_fixture_path``)."""
    import hashlib
    import os
    import tempfile

    xml = synthesize_osm_grid_xml()
    digest = hashlib.md5(xml.encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"ram_osm_grid_{digest}.osm")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(xml)
        os.replace(tmp, path)
    return path


# --- xlarge OSM grid with a road HIERARCHY (VERDICT r4 next-round #4) ---
#
# A 128×128 network (16,384 nodes) whose border crossings are SPARSE, the
# property that makes real road networks partition well (and the reason
# CRP works): every road runs freely inside its 8×8-node cell, but only
# motorway rows/columns (every 4th line) cross cell borders, and only
# every 4th motorway (lines ≡ 0 mod 16) crosses SUPERCELL borders (4×4
# cells). Single-level overlay ≈ 16k rows (256 boundary cliques of ~8);
# the two-level core ≈ 2k rows — the order-of-magnitude drop a second
# overlay level buys, provable at test scale. Coordinates are exact
# binary; weights integerize to whole seconds.

GRID2_W = 128
GRID2_H = 128
GRID2_LON0 = 40.0
GRID2_LAT0 = 10.0
GRID2_CELL = 8            # 8×8-node cells → 16×16 = 256 cells
GRID2_CELLS_X = GRID2_W // GRID2_CELL
GRID2_SUPER = 4           # 4×4-cell supercells → 4×4 = 16 supercells
# line classes: motorway arterials every 4th line (they alone cross cell
# borders; every 4th arterial crosses supercell borders), local tiers
# cycling 30/50/60 km/h elsewhere
GRID2_LOCAL_HIGHWAYS = ("residential", "tertiary", "secondary")


def _grid2_highway(line_idx: int) -> str:
    if line_idx % 4 == 0:
        return "motorway"
    return GRID2_LOCAL_HIGHWAYS[line_idx % 3]


def _grid2_step_exists(step_to: int, cross_idx: int) -> bool:
    """Does the edge arriving at index ``step_to`` along a line with
    perpendicular index ``cross_idx`` exist? Border crossings thin out
    up the hierarchy: supercell borders (mult of 32) need a major
    arterial (cross_idx ≡ 0 mod 16), cell borders (mult of 8) a minor
    one (≡ 0 mod 4); interior steps always exist."""
    if step_to % (GRID2_CELL * GRID2_SUPER) == 0:
        return cross_idx % 16 == 0
    if step_to % GRID2_CELL == 0:
        return cross_idx % 4 == 0
    return True


def synthesize_osm_grid2_xml() -> str:
    """Deterministic `.osm` document for the hierarchical grid. Nodes are
    ``node_id = r * GRID2_W + c``; each row/column emits one way per
    maximal run of existing consecutive edges (so a way never bridges a
    border its class cannot cross), tagged with the line's highway
    class."""
    lines = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    for r in range(GRID2_H):
        lat = GRID2_LAT0 + r * GRID_STEP
        for c in range(GRID2_W):
            lon = GRID2_LON0 + c * GRID_STEP
            lines.append(
                f'  <node id="{r * GRID2_W + c}" lon="{lon!r}" lat="{lat!r}"/>'
            )

    def emit_ways(n_lines, n_steps, way_base, node_of, hw_of):
        for li in range(n_lines):
            run: list[int] = [node_of(li, 0)]
            seg = 0
            for s in range(1, n_steps):
                if _grid2_step_exists(s, li):
                    run.append(node_of(li, s))
                else:
                    if len(run) > 1:
                        refs = "".join(
                            f'    <nd ref="{n}"/>\n' for n in run
                        )
                        lines.append(
                            f'  <way id="{way_base + li * 32 + seg}">\n'
                            f'{refs}    <tag k="highway" '
                            f'v="{hw_of(li)}"/>\n  </way>'
                        )
                    seg += 1
                    run = [node_of(li, s)]
            if len(run) > 1:
                refs = "".join(f'    <nd ref="{n}"/>\n' for n in run)
                lines.append(
                    f'  <way id="{way_base + li * 32 + seg}">\n'
                    f'{refs}    <tag k="highway" v="{hw_of(li)}"/>\n'
                    "  </way>"
                )

    emit_ways(
        GRID2_H, GRID2_W, 100_000,
        lambda r, c: r * GRID2_W + c, _grid2_highway,
    )
    emit_ways(
        GRID2_W, GRID2_H, 200_000,
        lambda c, r: r * GRID2_W + c, _grid2_highway,
    )
    lines.append("</osm>")
    return "\n".join(lines) + "\n"


def osm_grid2_fixture_path() -> str:
    """Materialize the hierarchical grid `.osm` (same content-addressed
    write-then-rename contract as ``osm_grid_fixture_path``)."""
    import hashlib
    import os
    import tempfile

    xml = synthesize_osm_grid2_xml()
    digest = hashlib.md5(xml.encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"ram_osm_grid2_{digest}.osm")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(xml)
        os.replace(tmp, path)
    return path
