"""Distributed shortest-path closure (operators/graph.py): exactness vs an
independent in-memory Dijkstra, disconnected-pair semantics, and the hub
kernel's routing formula."""

from __future__ import annotations

import heapq
import math

import pytest

from ram_datapipeline_spark.operators.graph import (
    make_hub_routing_kernel,
    min_plus_closure,
)


def _dijkstra_all_pairs(edges):
    adj = {}
    nodes = set()
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
        nodes.update((u, v))
    out = {}
    for s in nodes:
        dist = {s: 0.0}
        pq = [(0.0, s)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, math.inf):
                continue
            for v, w in adj.get(u, []):
                nd = d + w
                if nd < dist.get(v, math.inf):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        for t, d in dist.items():
            out[(s, t)] = d
    return out


def test_min_plus_closure_matches_dijkstra(spark):
    """Deterministic 10-vertex graph (ring + chords, irregular weights):
    the squared closure must equal Dijkstra to within ulp-level float
    tolerance (path-sum association differs, so exact bit equality is not
    required — the ORACLE equality in eta_routed_graph is the bit-exact
    check, since both engines replay identical squarings)."""
    n = 10
    edges = []
    for i in range(n):
        w = 1.0 + ((i * 7) % 5)
        edges.append((i, (i + 1) % n, w))
        edges.append(((i + 1) % n, i, w))
    for i in (0, 3, 6):
        edges.append((i, (i + 4) % n, 2.5))
        edges.append(((i + 4) % n, i, 2.5))
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in min_plus_closure(df, n_squarings=4).collect()
    }
    want = _dijkstra_all_pairs(edges)
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-12), (k, got[k], want[k])


def test_min_plus_closure_disconnected_pairs_absent(spark):
    """Two components: cross-component pairs must be ABSENT (not inf/null);
    within-component distances exact."""
    edges = [(0, 1, 1.0), (1, 0, 1.0), (2, 3, 5.0), (3, 2, 5.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in min_plus_closure(df, n_squarings=2).collect()
    }
    assert got == {
        (0, 0): 0.0, (1, 1): 0.0, (0, 1): 1.0, (1, 0): 1.0,
        (2, 2): 0.0, (3, 3): 0.0, (2, 3): 5.0, (3, 2): 5.0,
    }


def test_hub_kernel_formula():
    """Kernel = leg(origin→hub) + closure + leg(hub→poi), vectorized;
    unreachable hub pairs yield NaN (never win a min)."""
    import numpy as np

    # slab 0 = [-180, -165.6), slab 1 = [-165.6, -151.2)
    hubs = [(0, -180.0, 0.0), (1, -165.0, 0.0)]
    closure = [(0, 0, 0.0), (1, 1, 0.0), (0, 1, 432.0)]  # no (1, 0) entry
    k = make_hub_routing_kernel(closure, hubs, slab_deg=14.4)
    olon = np.array([-179.0, -164.0])  # 1° from hub 0, 1° from hub 1
    olat = np.array([0.0, 0.0])
    plon = np.array([-164.0, -179.0])  # hub 1's slab, hub 0's slab
    plat = np.array([0.0, 0.0])
    got = k(olon, olat, plon, plat)
    leg = 1.0 * 111.0 / 120.0 * 3600.0
    assert math.isclose(got[0], leg + 432.0 + leg, rel_tol=1e-12)
    assert math.isnan(got[1])  # hub 1 → hub 0 missing from closure


def test_local_closure_bit_identical_to_distributed(spark):
    """The numpy fast path replays the distributed squaring sequence
    exactly — every (src, dst, w) row matches bit-for-bit."""
    from ram_datapipeline_spark import ram_domain
    from ram_datapipeline_spark.catalog import load_tables
    from ram_datapipeline_spark.operators.graph import (
        min_plus_closure,
        min_plus_closure_rows,
    )
    from tests.conftest import SF_DIR

    edges = ram_domain.road_edges(load_tables(spark, SF_DIR)["nation"])
    dist = {
        (r["src"], r["dst"]): r["w"]
        for r in min_plus_closure(edges, n_squarings=3).collect()
    }
    edge_rows = [(r["src"], r["dst"], r["w"]) for r in edges.collect()]
    loc = {(s, t): w for s, t, w in min_plus_closure_rows(edge_rows, 3)}
    assert set(dist) == set(loc)
    assert all(dist[k] == loc[k] for k in dist)  # bitwise-equal doubles


@pytest.mark.parametrize("block_rows", [1, 3])
def test_local_closure_row_blocks_match_unblocked(monkeypatch, block_rows):
    """Squaring in row blocks changes no distance: a random graph with
    absent pairs, forced to 1- and 3-row blocks, gives the one-block
    result bit for bit."""
    import random

    from ram_datapipeline_spark.operators import graph

    rng = random.Random(5)
    n = 11
    # two components, {0..6} and {7..10}, so many pairs stay absent
    edge_rows = [
        (s, t, float(rng.randint(1, 50)) / 7.0)
        for s in range(n)
        for t in range(n)
        if s != t and (s < 7) == (t < 7) and rng.random() < 0.3
    ]
    # one squaring: paths of at most 2 edges, so the result is not yet the
    # fixpoint and a block that read a neighbour block's new rows would show
    whole = graph.min_plus_closure_rows(edge_rows, 1)
    monkeypatch.setattr(graph, "CLOSURE_BLOCK_BYTES", 8 * n * n * block_rows)
    blocked = graph.min_plus_closure_rows(edge_rows, 1)
    assert blocked == whole
    assert len(whole) < n * n


def test_triangle_counts_matches_bruteforce(spark):
    """Hand-built graph vs itertools brute force — includes a duplicate
    edge, a reversed duplicate, a self-loop, and a degree tie."""
    from itertools import combinations

    from ram_datapipeline_spark.operators.graph import triangle_counts

    raw = [
        (1, 2), (2, 3), (1, 3),          # triangle {1,2,3}
        (3, 4), (4, 5), (3, 5),          # triangle {3,4,5}
        (5, 1),                           # closes triangle {1,3,5} with (1,3),(3,5)
        (2, 1),                           # reversed duplicate
        (2, 3),                           # exact duplicate
        (6, 6),                           # self-loop (must be ignored)
        (6, 7),                           # pendant edge, no triangle
    ]
    edges = {tuple(sorted(e)) for e in raw if e[0] != e[1]}
    nodes = sorted({n for e in edges for n in e})
    want: dict[int, int] = {}
    for a, b, c in combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= edges:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1

    df = spark.createDataFrame(raw, ["u", "v"])
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    assert got == want
    assert got == {1: 2, 2: 1, 3: 3, 4: 1, 5: 2}


def test_pagerank_int_matches_python_replay(spark):
    """Tiny directed graph vs a dict-based replay of the exact integer
    recurrence (same div/sum steps)."""
    from ram_datapipeline_spark.operators.graph import pagerank_int

    edge_list = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 1), (4, 3)]
    iters, scale, dn, dd = 3, 1_000_000, 85, 100
    outdeg: dict[int, int] = {}
    for s, _ in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (scale * (dd - dn)) // dd
    ranks = {n: scale for n in outdeg}
    for _ in range(iters):
        sums: dict[int, int] = {}
        for s, d in edge_list:
            if s in ranks:
                sums[d] = sums.get(d, 0) + ranks[s] // outdeg[s]
        ranks = {n: base + (dn * v) // dd for n, v in sums.items()}

    df = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {r["node"]: r["rank_fp"] for r in pagerank_int(df, iters=iters).collect()}
    assert got == ranks


def test_common_neighbor_counts_match_bruteforce(spark):
    """Per-edge (common, union) vs set arithmetic on the same ring+chords
    graph used for the triangle test."""
    from ram_datapipeline_spark.operators.graph import common_neighbor_counts

    raw = [
        (1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (5, 1),
        (2, 1), (2, 3), (6, 6), (6, 7),
    ]
    edges = {tuple(sorted(e)) for e in raw if e[0] != e[1]}
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    for a, b in edges:
        common = len(nbrs[a] & nbrs[b])
        if common:
            want[(a, b)] = (common, len(nbrs[a] | nbrs[b]))

    df = spark.createDataFrame(raw, "u long, v long")
    got = {
        (r["u"], r["v"]): (r["common_cnt"], r["union_cnt"])
        for r in common_neighbor_counts(df).collect()
    }
    assert got == want


def test_kcore_peel_matches_bruteforce(spark):
    """Fixed-round peel vs a set-based replay on a graph with a clear
    core (K4 clique + pendant chain)."""
    from ram_datapipeline_spark.operators.graph import kcore_peel

    raw = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4 — the 3-core
        (4, 5), (5, 6), (6, 7),                           # chain peels away
    ]
    k, rounds = 3, 3
    edges = {tuple(sorted(e)) for e in raw}
    sym = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    for _ in range(rounds):
        deg: dict[int, int] = {}
        for s, _d in sym:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        sym = {(s, d) for s, d in sym if s in keep and d in keep}
    want: dict[int, int] = {}
    for s, _d in sym:
        want[s] = want.get(s, 0) + 1

    df = spark.createDataFrame(raw, "u long, v long")
    got = {
        r["node"]: r["core_deg"]
        for r in kcore_peel(df, k=k, rounds=rounds).collect()
    }
    assert got == want
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # exactly the K4 clique


# ---------------------------------------------------------------------------
# OSM-derived routing network (sources/osm.py::osm_ways_to_road_edges +
# ram_domain.synthesize_osm_xml → eta_routed_osm's graph)
# ---------------------------------------------------------------------------

def _tiny_osm(tmp_path):
    from ram_datapipeline_spark.ram_domain import synthesize_osm_xml

    # 5 nations over 2 regions: ring 0-1-2-3-4-0 + region chains [0,2,4], [1,3]
    xml = synthesize_osm_xml([(0, 0), (1, 1), (2, 0), (3, 1), (4, 0)])
    p = tmp_path / "net.osm"
    p.write_text(xml)
    return str(p)


def test_osm_fixture_roundtrip_exact_coords(spark, tmp_path):
    from ram_datapipeline_spark.ram_domain import hub_coords
    from ram_datapipeline_spark.sources.osm import read_osm_nodes, read_osm_ways

    path = _tiny_osm(tmp_path)
    nodes = {r["node_id"]: (r["lon"], r["lat"])
             for r in read_osm_nodes(spark, path).collect()}
    # the text hop loses nothing: parsed doubles ARE hub_coords' doubles
    for k in range(5):
        assert nodes[k] == hub_coords(k)
    ways = {r["way_id"]: (list(r["node_refs"]), dict(r["tags"]))
            for r in read_osm_ways(spark, path).collect()}
    assert ways[1000] == ([0, 1, 2, 3, 4, 0], {"highway": "trunk"})
    assert ways[2000] == ([0, 2, 4], {"highway": "motorway"})
    assert ways[2001] == ([1, 3], {"highway": "motorway"})


def test_osm_ways_to_road_edges_pairs_and_weights(spark, tmp_path):
    from ram_datapipeline_spark.ram_domain import hub_coords
    from ram_datapipeline_spark.sources.osm import (
        osm_ways_to_road_edges,
        read_osm_nodes,
        read_osm_ways,
    )

    path = _tiny_osm(tmp_path)
    nodes = read_osm_nodes(spark, path)
    ways = read_osm_ways(spark, path)
    got = {(r["src"], r["dst"]): r["w"]
           for r in osm_ways_to_road_edges(nodes, ways).collect()}

    def w(a, b, spd):
        ax, ay = hub_coords(a)
        bx, by = hub_coords(b)
        return (
            math.sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by))
            * 111.0 / spd * 3600.0
        )

    expect = {}
    for a, b in [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0)]:  # ring way
        expect[(a, b)] = w(a, b, 90.0)
        expect[(b, a)] = w(a, b, 90.0)
    for a, b in [(0, 2), (2, 4), (1, 3)]:  # region chains
        expect[(a, b)] = w(a, b, 120.0)
        expect[(b, a)] = w(a, b, 120.0)
    assert got == expect  # exact doubles, both orientations, no extras


def test_osm_edges_highway_speed_default(spark):
    from ram_datapipeline_spark.sources.osm import osm_ways_to_road_edges

    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 3.0, 4.0)], "node_id long, lon double, lat double"
    )
    ways = spark.createDataFrame(
        [(7, [1, 2], {"highway": "unclassified_xyz"})],
        "way_id long, node_refs array<long>, tags map<string,string>",
    )
    rows = osm_ways_to_road_edges(nodes, ways).collect()
    # dist 5 deg * 111 km/deg at the 40 km/h fallback
    assert {r["w"] for r in rows} == {5.0 * 111.0 / 40.0 * 3600.0}


def test_osm_oneway_and_roundabout_directionality(spark):
    """osrm-car-profile directionality: oneway=yes keeps only forward,
    oneway=-1 only reverse, junction=roundabout implies forward when
    oneway is absent, explicit oneway=no on a roundabout wins, and
    honor_oneway=False restores the bidirectional fixture behavior."""
    from pyspark.sql import functions as F

    from ram_datapipeline_spark.sources.osm import osm_ways_to_road_edges

    nodes = spark.createDataFrame(
        [(i, float(i), 0.0) for i in range(8)],
        "node_id long, lon double, lat double",
    ).withColumn("tags", F.expr("cast(map() as map<string,string>)"))
    ways = spark.createDataFrame(
        [
            (1, [0, 1], {"highway": "primary", "oneway": "yes"}),
            (2, [2, 3], {"highway": "primary", "oneway": "-1"}),
            (3, [4, 5], {"highway": "primary", "junction": "roundabout"}),
            (4, [5, 6], {"highway": "primary", "junction": "roundabout",
                         "oneway": "no"}),
            (5, [6, 7], {"highway": "primary"}),
        ],
        "way_id long, node_refs array<long>, tags map<string,string>",
    )
    got = {(r["src"], r["dst"]) for r in
           osm_ways_to_road_edges(nodes, ways).collect()}
    assert got == {
        (0, 1),          # oneway=yes: forward only
        (3, 2),          # oneway=-1: reverse only
        (4, 5),          # roundabout: implied forward
        (5, 6), (6, 5),  # roundabout + explicit oneway=no: both
        (6, 7), (7, 6),  # untagged: both
    }
    off = {(r["src"], r["dst"]) for r in
           osm_ways_to_road_edges(nodes, ways, honor_oneway=False).collect()}
    assert off == {(a, b) for a, b in got} | {(b, a) for a, b in got}


def test_khop_reach_matches_bruteforce_path_graph(spark):
    from ram_datapipeline_spark.operators.graph import khop_reach

    # path 1-2-3-4-5 plus a triangle 10-11-12
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "u long, v long",
    )
    two = {r.node: r.reach_2 for r in khop_reach(edges, hops=2).collect()}
    assert two == {1: 2, 2: 3, 3: 4, 4: 3, 5: 2, 10: 2, 11: 2, 12: 2}
    three = {r.node: r.reach_3 for r in khop_reach(edges, hops=3).collect()}
    # path interior now sees everything within 3 edges
    assert three[1] == 3 and three[2] == 4 and three[3] == 4
    # hops=1 is just the degree
    one = {r.node: r.reach_1 for r in khop_reach(edges, hops=1).collect()}
    assert one == {1: 1, 2: 2, 3: 2, 4: 2, 5: 1, 10: 2, 11: 2, 12: 2}


def test_resource_allocation_hand_graph(spark):
    """Bowtie-ish graph with triangles 1-2-3 and 2-3-4: edge (2,3)'s
    shared neighbors are {1, 4} (both degree 2), so ra_fp is exactly
    2 * (10^9 DIV 2); every other edge shares exactly one degree-3
    neighbor (10^9 DIV 3, the truncating integer division)."""
    from ram_datapipeline_spark.operators.graph import (
        resource_allocation_scores,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (2, 4)], "u long, v long"
    )
    out = {
        (r.u, r.v): r for r in resource_allocation_scores(edges).collect()
    }
    assert out[(2, 3)].common_cnt == 2
    assert out[(2, 3)].ra_fp == 2 * (10**9 // 2)
    assert out[(2, 3)].ra == 1.0
    third = 10**9 // 3
    for pair in [(1, 2), (1, 3), (2, 4), (3, 4)]:
        assert out[pair].common_cnt == 1 and out[pair].ra_fp == third
