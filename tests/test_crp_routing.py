"""Partitioned (CRP) routing correctness: the cell-partitioned pipeline
must reproduce plain all-pairs shortest paths exactly, including across
cells, same-cell pairs whose best route leaves the cell, and disconnected
components. Reference semantics: osrm.table many-to-many
(ram-analysis/app/calculate-eta/tasks.js:260) over a contracted graph
(scripts/osm2osrm.sh:32-33)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ram_datapipeline_spark.operators import routing as R


def _grid_edges(w: int, h: int, wt):
    """Directed symmetric edge list for a w×h grid; wt(r, c, horizontal)
    gives the integer weight of the edge leaving (r, c)."""
    rows = []
    for r in range(h):
        for c in range(w):
            nid = r * w + c
            if c + 1 < w:
                ww = wt(r, c, True)
                rows += [(nid, nid + 1, ww), (nid + 1, nid, ww)]
            if r + 1 < h:
                ww = wt(r, c, False)
                rows += [(nid, nid + w, ww), (nid + w, nid, ww)]
    return rows


def _dijkstra_all(edge_rows, sources):
    """Driver-side reference: exact Dijkstra from each source (heapq)."""
    import heapq
    from collections import defaultdict

    adj = defaultdict(list)
    for s, d, w in edge_rows:
        adj[s].append((d, w))
    out = {}
    for src in sources:
        dist = {src: 0}
        pq = [(0, src)]
        while pq:
            dw, u = heapq.heappop(pq)
            if dw > dist.get(u, 1 << 60):
                continue
            for v, w in adj[u]:
                nd = dw + w
                if nd < dist.get(v, 1 << 60):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        out[src] = dist
    return out


def _cells_df(spark, w, h, cell):
    rows = [(r * w + c, (r // cell) * ((w + cell - 1) // cell) + c // cell)
            for r in range(h) for c in range(w)]
    return spark.createDataFrame(rows, "node_id long, cell long")


def test_crp_matches_dijkstra_heterogeneous_grid(spark):
    """12×12 grid, 4×4 cells, weights varying so shortest paths detour
    through fast corridors (including leaving and re-entering a cell):
    every (source, target) distance must equal plain Dijkstra."""
    w = h = 12
    # row/column speed tiers: every 3rd row is a 'motorway' (weight 1),
    # others cost 7 — strong incentive to detour out of a cell.
    wt = lambda r, c, horiz: 1 if (horiz and r % 3 == 0) or (not horiz and c % 3 == 0) else 7  # noqa: E731
    edge_rows = _grid_edges(w, h, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, w, h, 4)
    src_nodes = [0, 5, 77, 143, 70]
    tgt_nodes = list(range(0, w * h, 7)) + [143]
    sources = spark.createDataFrame(
        [(i, n) for i, n in enumerate(src_nodes)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        [(i, n) for i, n in enumerate(tgt_nodes)], "tgt_id long, node_id long"
    )
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.partitioned_many_to_many(
            edges, cells, sources, targets,
            n_cell_squarings=4, n_overlay_rounds=24,
        ).collect()
    }
    ref = _dijkstra_all(edge_rows, src_nodes)
    for si, sn in enumerate(src_nodes):
        for ti, tn in enumerate(tgt_nodes):
            assert got[(si, ti)] == ref[sn][tn], (sn, tn)
    assert len(got) == len(src_nodes) * len(tgt_nodes)


def test_crp_disconnected_pairs_absent(spark):
    """Two components split across cells: unreachable pairs produce NO
    row (the osrm.table null-cell semantic upstream callers map from
    absence)."""
    # component A: nodes 0-1 (cell 0); component B: nodes 10-11 (cell 1)
    rows = [(0, 1, 3), (1, 0, 3), (10, 11, 4), (11, 10, 4)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    cells = spark.createDataFrame(
        [(0, 0), (1, 0), (10, 1), (11, 1)], "node_id long, cell long"
    )
    sources = spark.createDataFrame([(0, 0)], "src_id long, node_id long")
    targets = spark.createDataFrame(
        [(0, 1), (1, 11)], "tgt_id long, node_id long"
    )
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.partitioned_many_to_many(
            edges, cells, sources, targets,
            n_cell_squarings=2, n_overlay_rounds=4,
        ).collect()
    }
    assert got == {(0, 0): 3}  # 0→1 reachable; 0→11 absent


def test_overlay_convergence_probe_raises_when_rounds_too_small(spark):
    """A path chain needing 5 overlay hops must trip the convergence
    probe at n_rounds=2 instead of silently returning bounded-hop
    distances."""
    # chain of 6 single-node cells: every edge is inter-cell
    rows = []
    for i in range(5):
        rows += [(i, i + 1, 1), (i + 1, i, 1)]
    ovl = rows
    seeds = [(0, 0, 0)]
    with pytest.raises(RuntimeError, match="not converged"):
        R.multi_source_overlay_dist(ovl, seeds, n_rounds=2)
    ok = R.multi_source_overlay_dist(ovl, seeds, n_rounds=5)
    assert (0, 5, 5) in ok


def test_in_cell_closures_rejects_oversized_cell(spark):
    n = R.MAX_CELL_NODES + 1
    rows = [(i, i + 1, 1) for i in range(n - 1)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    cells = spark.createDataFrame(
        [(i, 0) for i in range(n)], "node_id long, cell long"
    )
    with pytest.raises(Exception, match="MAX_CELL_NODES"):
        R.in_cell_closures(edges, cells, 1).count()


def test_in_cell_closure_exact_within_cell(spark):
    """Per-cell closure rows equal within-cell Dijkstra (cells isolated
    by construction here)."""
    wt = lambda r, c, horiz: 2 + (r + c) % 3  # noqa: E731
    edge_rows = _grid_edges(4, 4, wt)  # one 4×4 cell
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = spark.createDataFrame(
        [(i, 7) for i in range(16)], "node_id long, cell long"
    )
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in R.in_cell_closures(edges, cells, 4).collect()
    }
    ref = _dijkstra_all(edge_rows, list(range(16)))
    for s in range(16):
        for d in range(16):
            assert got[(s, d)] == ref[s][d]


def test_kernel_partitions_rejects_non_integer_env(spark, monkeypatch):
    """A malformed $SPARK_GRAFT_KERNEL_PARTS names the variable and the
    bad value instead of surfacing a bare int() error."""
    monkeypatch.setenv("SPARK_GRAFT_KERNEL_PARTS", "8x")
    with pytest.raises(ValueError, match="SPARK_GRAFT_KERNEL_PARTS.*'8x'"):
        R._kernel_partitions(spark.range(1))


def test_seed_collect_gate_raises_with_fusion_hint(spark, monkeypatch):
    """VERDICT r4 #2: an oversized per-origin source set must trip the
    MAX_SEED_ROWS gate LOUDLY (with the min-fusion hint) instead of
    silently building driver-side overlay state."""
    monkeypatch.setattr(R, "MAX_SEED_ROWS", 3)
    wt = lambda r, c, horiz: 2  # noqa: E731
    edge_rows = _grid_edges(8, 8, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, 8, 8, 4)
    sources = spark.createDataFrame(
        [(i, i) for i in range(8)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        [(0, 63)], "tgt_id long, node_id long"
    )
    with pytest.raises(ValueError, match="min-fuse"):
        R.partitioned_many_to_many(
            edges, cells, sources, targets,
            n_cell_squarings=4, n_overlay_rounds=16,
        )


def test_overlay_state_gate_raises(spark, monkeypatch):
    """The (n_sources × n_boundary) driver matrix is gated too."""
    monkeypatch.setattr(R, "MAX_OVERLAY_STATE", 4)
    wt = lambda r, c, horiz: 2  # noqa: E731
    edge_rows = _grid_edges(8, 8, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, 8, 8, 4)
    sources = spark.createDataFrame(
        [(0, 0), (1, 9)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame([(0, 63)], "tgt_id long, node_id long")
    with pytest.raises(ValueError, match="MAX_OVERLAY_STATE"):
        R.partitioned_many_to_many(
            edges, cells, sources, targets,
            n_cell_squarings=4, n_overlay_rounds=16,
        )


def test_crp_single_node_cells(spark):
    """Boundary nodes in single-node cells (no in-cell edges, hence no
    closure rows at all): sources and targets sitting on them must still
    route — via implicit zero legs — including source == target."""
    # chain 0-1-2, one cell per node: every edge is inter-cell
    rows = [(0, 1, 5), (1, 0, 5), (1, 2, 7), (2, 1, 7)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    cells = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2)], "node_id long, cell long"
    )
    sources = spark.createDataFrame([(0, 0)], "src_id long, node_id long")
    targets = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2)], "tgt_id long, node_id long"
    )
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.partitioned_many_to_many(
            edges, cells, sources, targets,
            n_cell_squarings=1, n_overlay_rounds=4,
        ).collect()
    }
    assert got == {(0, 0): 0, (0, 1): 5, (0, 2): 12}


def _supercells_df(spark, w, h, cell, super_):
    cx = (w + cell - 1) // cell
    scx = (cx + super_ - 1) // super_
    rows = [
        (cr * cx + cc, (cr // super_) * scx + cc // super_)
        for cr in range((h + cell - 1) // cell)
        for cc in range(cx)
    ]
    return spark.createDataFrame(rows, "cell long, supercell long")


def test_two_level_matches_dijkstra_heterogeneous_grid(spark):
    """16×16 grid, 4×4 cells, 2×2-cell supercells, corridor weights that
    force paths out of (and back into) cells AND supercells: every
    distance must equal plain Dijkstra."""
    w = h = 16
    wt = lambda r, c, horiz: 1 if (horiz and r % 3 == 0) or (not horiz and c % 3 == 0) else 9  # noqa: E731
    edge_rows = _grid_edges(w, h, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, w, h, 4)
    supercells = _supercells_df(spark, w, h, 4, 2)
    src_nodes = [0, 37, 255, 120]
    tgt_nodes = list(range(0, w * h, 11)) + [255]
    sources = spark.createDataFrame(
        [(i, n) for i, n in enumerate(src_nodes)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        [(i, n) for i, n in enumerate(tgt_nodes)], "tgt_id long, node_id long"
    )
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.two_level_many_to_many(
            edges, cells, supercells, sources, targets,
            n_cell_squarings=4, n_super_squarings=6, n_overlay_rounds=32,
        ).collect()
    }
    ref = _dijkstra_all(edge_rows, src_nodes)
    for si, sn in enumerate(src_nodes):
        for ti, tn in enumerate(tgt_nodes):
            assert got[(si, ti)] == ref[sn][tn], (sn, tn)
    assert len(got) == len(src_nodes) * len(tgt_nodes)


def test_two_level_single_node_cells_and_disconnects(spark):
    """Chain across single-node cells grouped into two supercells, plus a
    disconnected node: zero-leg seeds, cross-supercell hops, absent rows
    for unreachable pairs — and the explicit (src, tgt, 0) diagonal for
    an isolated node that is both a source and a target (node 9 has no
    incident edges, so no closure row carries its self-distance)."""
    rows = [(0, 1, 5), (1, 0, 5), (1, 2, 7), (2, 1, 7), (2, 3, 2), (3, 2, 2)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    cells = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2), (3, 3), (9, 4)], "node_id long, cell long"
    )
    supercells = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1), (4, 2)], "cell long, supercell long"
    )
    sources = spark.createDataFrame(
        [(0, 0), (1, 9)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        [(0, 0), (1, 3), (2, 9)], "tgt_id long, node_id long"
    )
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.two_level_many_to_many(
            edges, cells, supercells, sources, targets,
            n_cell_squarings=1, n_super_squarings=2, n_overlay_rounds=8,
        ).collect()
    }
    assert got == {(0, 0): 0, (0, 1): 14, (1, 2): 0}


def test_two_level_overlay_gate_raises(spark):
    wt = lambda r, c, horiz: 2  # noqa: E731
    edge_rows = _grid_edges(8, 8, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, 8, 8, 4)
    # one cell per supercell: every inter-cell edge is inter-supercell,
    # so the level-2 overlay is non-trivial and must trip the budget
    supercells = _supercells_df(spark, 8, 8, 4, 1)
    sources = spark.createDataFrame([(0, 0)], "src_id long, node_id long")
    targets = spark.createDataFrame([(0, 63)], "tgt_id long, node_id long")
    with pytest.raises(ValueError, match="level-2 overlay"):
        R.two_level_many_to_many(
            edges, cells, supercells, sources, targets,
            n_cell_squarings=4, n_super_squarings=4, n_overlay_rounds=16,
            max_overlay_rows=3,
        )


def test_dispatcher_small_graph_uses_closure(spark):
    """≤512 verts: the dispatcher answers from the exact all-pairs
    closure — same distances as Dijkstra, no cells needed."""
    wt = lambda r, c, horiz: 1 + (r + c) % 4  # noqa: E731
    edge_rows = _grid_edges(6, 6, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    sources = spark.createDataFrame(
        [(0, 0), (1, 35)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        [(0, 14), (1, 21)], "tgt_id long, node_id long"
    )
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.route_many_to_many(edges, sources, targets).collect()
    }
    ref = _dijkstra_all(edge_rows, [0, 35])
    assert got == {
        (0, 0): ref[0][14], (0, 1): ref[0][21],
        (1, 0): ref[35][14], (1, 1): ref[35][21],
    }


def test_dispatcher_refuses_vxv_on_big_graph(spark):
    """>512 verts without a cell partition: loud refusal, never a V×V
    closure by accident (VERDICT r4 next-round #5)."""
    wt = lambda r, c, horiz: 1  # noqa: E731
    edge_rows = _grid_edges(24, 24, wt)  # 576 verts
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    sources = spark.createDataFrame([(0, 0)], "src_id long, node_id long")
    targets = spark.createDataFrame([(0, 575)], "tgt_id long, node_id long")
    with pytest.raises(ValueError, match="MAX_CLOSURE_VERTS"):
        R.route_many_to_many(edges, sources, targets)


def test_dispatcher_big_graph_routes_through_crp(spark):
    """>512 verts WITH cells: the single-level CRP backend answers; spot
    distances equal Dijkstra."""
    wt = lambda r, c, horiz: 1 if r % 5 == 0 or c % 5 == 0 else 4  # noqa: E731
    edge_rows = _grid_edges(24, 24, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, 24, 24, 6)
    sources = spark.createDataFrame(
        [(0, 0), (1, 300)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        [(0, 575), (1, 42)], "tgt_id long, node_id long"
    )
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.route_many_to_many(
            edges, sources, targets, cells=cells,
            n_cell_squarings=6, n_overlay_rounds=40,
        ).collect()
    }
    ref = _dijkstra_all(edge_rows, [0, 300])
    assert got == {
        (0, 0): ref[0][575], (0, 1): ref[0][42],
        (1, 0): ref[300][575], (1, 1): ref[300][42],
    }


def test_dispatcher_escalates_to_two_level(spark):
    """Big graph + tiny overlay budget: the dispatcher escalates to the
    two-level hierarchy (supercells provided) and still matches
    Dijkstra; without supercells it refuses loudly."""
    wt = lambda r, c, horiz: 1 if r % 5 == 0 or c % 5 == 0 else 4  # noqa: E731
    edge_rows = _grid_edges(24, 24, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, 24, 24, 4)
    supercells = _supercells_df(spark, 24, 24, 4, 3)
    sources = spark.createDataFrame([(0, 50)], "src_id long, node_id long")
    targets = spark.createDataFrame(
        [(0, 555), (1, 0)], "tgt_id long, node_id long"
    )
    with pytest.raises(ValueError, match="supercells"):
        R.route_many_to_many(
            edges, sources, targets, cells=cells, max_overlay_rows=100,
            auto_hierarchy=False,
        )
    # zero-config escalation (VERDICT r6 #5): with auto_hierarchy on
    # (the default), an oversized call derives its own parent map and
    # must produce the identical distances — the partition moves cost,
    # never answers. Budget 3000 sits between the level-1 estimate
    # (~5k) and the derived level-2 estimate, forcing the derived
    # two-level path.
    auto = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.route_many_to_many(
            edges, sources, targets, cells=cells,
            n_cell_squarings=4, n_super_squarings=6, n_overlay_rounds=40,
            max_overlay_rows=3000,
        ).collect()
    }
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.route_many_to_many(
            edges, sources, targets, cells=cells, supercells=supercells,
            n_cell_squarings=4, n_super_squarings=6, n_overlay_rounds=40,
            max_overlay_rows=100_000,
        ).collect()
    }
    ref = _dijkstra_all(edge_rows, [50])
    assert got == {(0, 0): ref[50][555], (0, 1): ref[50][0]}
    assert auto == got


def test_derive_parent_map_balanced_and_deterministic(spark):
    """derive_parent_map: every parent holds exactly `fan` consecutive
    rank-ordered children (except the last), ids needn't be dense or
    sorted, and the map is re-run-stable."""
    ids = spark.createDataFrame(
        [(c,) for c in [907, 3, 44, 17, 200, 8, 650, 21, 5]], "cell long"
    )
    m = {
        r["cell"]: r["supercell"]
        for r in R.derive_parent_map(ids, "cell", "supercell", fan=4).collect()
    }
    ordered = sorted(m)  # rank order == id order
    assert [m[c] for c in ordered] == [0, 0, 0, 0, 1, 1, 1, 1, 2]
    again = {
        r["cell"]: r["supercell"]
        for r in R.derive_parent_map(ids, "cell", "supercell", fan=4).collect()
    }
    assert m == again
    with pytest.raises(ValueError, match="fan"):
        R.derive_parent_map(ids, "cell", "supercell", fan=1)


def test_derive_parent_map_topo_merges_heavy_edges_first(spark):
    """Heavy-edge matching (r8): clusters form along the heaviest
    cross-edge bundles, respect the fan cap, cover every id, and are
    re-run-stable. On a 4×4 cell grid whose vertical links are heavier
    than horizontal ones, fan=4 must recover column blocks (vertical
    merges first), never id-order strips."""
    cells = [(c,) for c in range(16)]  # 4×4 grid, id = y*4 + x
    ids = spark.createDataFrame(cells, "cell long")
    adj_rows = []
    for y in range(4):
        for x in range(4):
            c = y * 4 + x
            if x < 3:  # horizontal: weight 1
                adj_rows.append((c, c + 1, 1))
            if y < 3:  # vertical: weight 5
                adj_rows.append((c, c + 4, 5))
    adj = spark.createDataFrame(adj_rows, "c_a long, c_b long, w long")
    m = {
        r["cell"]: r["supercell"]
        for r in R.derive_parent_map_topo(
            ids, adj, "cell", "supercell", fan=4
        ).collect()
    }
    assert set(m) == set(range(16))
    import collections

    sizes = collections.Counter(m.values())
    assert all(v <= 4 for v in sizes.values())
    # each column {x, x+4, x+8, x+12} is one cluster
    for x in range(4):
        col = {m[x], m[x + 4], m[x + 8], m[x + 12]}
        assert len(col) == 1, f"column {x} split: {col}"
    again = {
        r["cell"]: r["supercell"]
        for r in R.derive_parent_map_topo(
            ids, adj, "cell", "supercell", fan=4
        ).collect()
    }
    assert m == again
    with pytest.raises(ValueError, match="fan"):
        R.derive_parent_map_topo(ids, adj, "cell", "supercell", fan=1)


def test_derive_parent_map_topo_isolated_and_unweighted(spark):
    """Ids absent from the adjacency stay singleton parents; a 2-column
    adjacency (no weight column) defaults every pair to weight 1 and
    still produces a full, fan-capped cover."""
    ids = spark.createDataFrame([(c,) for c in [1, 2, 3, 9]], "cell long")
    adj = spark.createDataFrame([(1, 2), (2, 3)], "c_a long, c_b long")
    m = {
        r["cell"]: r["supercell"]
        for r in R.derive_parent_map_topo(
            ids, adj, "cell", "supercell", fan=4
        ).collect()
    }
    assert set(m) == {1, 2, 3, 9}
    assert m[1] == m[2] == m[3]  # connected chain merges
    assert m[9] != m[1]  # isolated cell is its own parent


@pytest.mark.parametrize("seed", [11, 29, 47])
def test_backends_agree_on_random_weighted_grids(spark, seed):
    """Three-way parity on randomized weighted grids: single-level CRP,
    two-level CRP, and driver Dijkstra must produce identical distance
    sets (same reachable pairs, same integer distances). Randomized
    weights exercise detour structures no hand-built corridor covers."""
    import random

    rng = random.Random(seed)
    w = h = 12
    wt = lambda r, c, horiz: rng.randint(1, 9)  # noqa: E731
    edge_rows = _grid_edges(w, h, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, w, h, 4)
    supercells = _supercells_df(spark, w, h, 4, 2)
    src_nodes = [rng.randrange(w * h) for _ in range(3)]
    tgt_nodes = [rng.randrange(w * h) for _ in range(8)]
    sources = spark.createDataFrame(
        [(i, n) for i, n in enumerate(src_nodes)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        list({(i, n) for i, n in enumerate(tgt_nodes)}),
        "tgt_id long, node_id long",
    )
    one = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.partitioned_many_to_many(
            edges, cells, sources, targets,
            n_cell_squarings=4, n_overlay_rounds=24,
        ).collect()
    }
    two = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.two_level_many_to_many(
            edges, cells, supercells, sources, targets,
            n_cell_squarings=4, n_super_squarings=6, n_overlay_rounds=24,
        ).collect()
    }
    assert one == two
    ref = _dijkstra_all(edge_rows, src_nodes)
    for (si, ti), d in one.items():
        assert d == ref[src_nodes[si]][tgt_nodes[ti]]


def test_crp_index_reuse_matches_one_shot(spark):
    """Compile-once-route-many: two different source/target sets answered
    from ONE CRPIndex must equal the one-shot calls (the osrm operating
    model — contract offline, osrm.table many times)."""
    wt = lambda r, c, horiz: 1 if r % 3 == 0 else 6  # noqa: E731
    edge_rows = _grid_edges(12, 12, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, 12, 12, 4)
    idx = R.build_crp_index(edges, cells, n_cell_squarings=4)
    for srcs, tgts in (
        ([(0, 0), (1, 70)], [(0, 143), (1, 7)]),
        ([(0, 133)], [(0, 0), (1, 60), (2, 100)]),
    ):
        sources = spark.createDataFrame(srcs, "src_id long, node_id long")
        targets = spark.createDataFrame(tgts, "tgt_id long, node_id long")
        via_index = {
            (r["src_id"], r["tgt_id"]): r["dist"]
            for r in R.crp_many_to_many(
                idx, sources, targets, n_overlay_rounds=24
            ).collect()
        }
        one_shot = {
            (r["src_id"], r["tgt_id"]): r["dist"]
            for r in R.partitioned_many_to_many(
                edges, cells, sources, targets,
                n_cell_squarings=4, n_overlay_rounds=24,
            ).collect()
        }
        assert via_index == one_shot and via_index


def test_isolated_self_pair_all_backends(spark):
    """A node with no incident edges that is both a source and a target
    gets its (src, tgt, 0) diagonal row from every backend — the
    osrm.table identity the closures alone cannot supply (an isolated
    node produces no closure rows at all)."""
    rows = [(0, 1, 5), (1, 0, 5)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    sources = spark.createDataFrame(
        [(0, 0), (1, 9)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        [(0, 1), (1, 9)], "tgt_id long, node_id long"
    )
    # closure backend (no cells): 0→1 reachable, 9→9 only via the
    # explicit diagonal, everything else absent
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.route_many_to_many(edges, sources, targets).collect()
    }
    assert got == {(0, 0): 5, (1, 1): 0}
    # single-level CRP backend: node 9 isolated in its own cell
    cells = spark.createDataFrame(
        [(0, 0), (1, 0), (9, 1)], "node_id long, cell long"
    )
    got_crp = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.partitioned_many_to_many(
            edges, cells, sources, targets,
            n_cell_squarings=1, n_overlay_rounds=4,
        ).collect()
    }
    assert got_crp == {(0, 0): 5, (1, 1): 0}


def _regions_df(spark, w, h, cell, super_, reg):
    """(supercell, region) map: super_-cell blocks grouped reg×reg."""
    cx = (w + cell - 1) // cell
    scx = (cx + super_ - 1) // super_
    rgx = (scx + reg - 1) // reg
    rows = [
        (sr * scx + sc, (sr // reg) * rgx + sc // reg)
        for sr in range((h + cell - 1) // cell // super_ + (1 if ((h + cell - 1) // cell) % super_ else 0))
        for sc in range(scx)
    ]
    return spark.createDataFrame(rows, "supercell long, region long")


def test_three_level_matches_dijkstra_heterogeneous_grid(spark):
    """16×16 grid, 2×2 cells → 2×2-cell supercells → 2×2-supercell
    regions: a genuine three-level hierarchy (multi_level_many_to_many)
    with corridor weights forcing paths across every border class —
    every distance must equal plain Dijkstra."""
    w = h = 16
    wt = lambda r, c, horiz: 1 if (horiz and r % 3 == 0) or (not horiz and c % 3 == 0) else 9  # noqa: E731
    edge_rows = _grid_edges(w, h, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, w, h, 2)
    supercells = _supercells_df(spark, w, h, 2, 2)
    regions = _regions_df(spark, w, h, 2, 2, 2)
    src_nodes = [0, 37, 255, 120]
    tgt_nodes = list(range(0, w * h, 11)) + [255]
    sources = spark.createDataFrame(
        [(i, n) for i, n in enumerate(src_nodes)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        [(i, n) for i, n in enumerate(tgt_nodes)], "tgt_id long, node_id long"
    )
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.multi_level_many_to_many(
            edges, cells, [supercells, regions], sources, targets,
            n_cell_squarings=2, level_squarings=[4, 6],
            n_overlay_rounds=48,
        ).collect()
    }
    ref = _dijkstra_all(edge_rows, src_nodes)
    for si, sn in enumerate(src_nodes):
        for ti, tn in enumerate(tgt_nodes):
            assert got[(si, ti)] == ref[sn][tn], (sn, tn)
    assert len(got) == len(src_nodes) * len(tgt_nodes)


def test_multi_level_single_map_equals_two_level(spark):
    """multi_level_many_to_many with ONE level map reproduces
    two_level_many_to_many exactly (the recursion's base case)."""
    wt = lambda r, c, horiz: 1 + (r * 7 + c * 3) % 5  # noqa: E731
    edge_rows = _grid_edges(8, 8, wt)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, 8, 8, 2)
    supercells = _supercells_df(spark, 8, 8, 2, 2)
    sources = spark.createDataFrame(
        [(0, 0), (1, 27)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        [(i, n) for i, n in enumerate(range(0, 64, 5))],
        "tgt_id long, node_id long",
    )
    two = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.two_level_many_to_many(
            edges, cells, supercells, sources, targets,
            n_cell_squarings=2, n_super_squarings=5, n_overlay_rounds=24,
        ).collect()
    }
    multi = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.multi_level_many_to_many(
            edges, cells, [supercells], sources, targets,
            n_cell_squarings=2, level_squarings=[5], n_overlay_rounds=24,
        ).collect()
    }
    assert multi == two


def _hierarchical_grid_edges(w: int, h: int):
    """Grid whose border crossings THIN with the border class — the
    topology of a real road hierarchy (and of the xlarge OSM fixture):
    region borders (line index % 8 == 0) are crossable only every 8th
    perpendicular index, supercell borders (% 4) every 4th, cell
    borders (% 2) every 2nd; interior steps always exist. This is what
    makes each overlay level an order smaller than the one below."""
    def _step_ok(m: int, cross: int) -> bool:
        if m % 8 == 0:
            return cross % 8 == 0
        if m % 4 == 0:
            return cross % 4 == 0
        if m % 2 == 0:
            return cross % 2 == 0
        return True

    rows = []
    for r in range(h):
        for c in range(w):
            nid = r * w + c
            if c + 1 < w and _step_ok(c + 1, r):
                rows += [(nid, nid + 1, 2), (nid + 1, nid, 2)]
            if r + 1 < h and _step_ok(r + 1, c):
                rows += [(nid, nid + w, 2), (nid + w, nid, 2)]
    return rows


def test_dispatcher_escalates_to_three_levels(spark):
    """route_many_to_many with a budget below BOTH the level-1 and
    level-2 overlay estimates and a regions map routes through the
    three-level hierarchy — distances still exact."""
    w = h = 16
    edge_rows = _hierarchical_grid_edges(w, h)
    edges = spark.createDataFrame(edge_rows, "src long, dst long, w long")
    cells = _cells_df(spark, w, h, 2)
    supercells = _supercells_df(spark, w, h, 2, 2)
    regions = _regions_df(spark, w, h, 2, 2, 2)
    src_nodes = [0, 255]
    tgt_nodes = [0, 17, 100, 255]
    sources = spark.createDataFrame(
        [(i, n) for i, n in enumerate(src_nodes)], "src_id long, node_id long"
    )
    targets = spark.createDataFrame(
        [(i, n) for i, n in enumerate(tgt_nodes)], "tgt_id long, node_id long"
    )
    # measured overlay sizes on this topology: level-1 = 404, level-2 =
    # 92, level-3 ≤ 16 — budget 60 forces the three-level path (and
    # two-level alone must refuse)
    with pytest.raises(ValueError, match="level-2 overlay"):
        R.two_level_many_to_many(
            edges, cells, supercells, sources, targets,
            n_cell_squarings=2, n_super_squarings=4, n_overlay_rounds=32,
            max_overlay_rows=60,
        )
    got = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.route_many_to_many(
            edges, sources, targets,
            cells=cells, supercells=supercells, regions=regions,
            n_cell_squarings=2, n_super_squarings=4,
            n_region_squarings=6, n_overlay_rounds=48,
            max_overlay_rows=60,
        ).collect()
    }
    ref = _dijkstra_all(edge_rows, src_nodes)
    for si, sn in enumerate(src_nodes):
        for ti, tn in enumerate(tgt_nodes):
            assert got[(si, ti)] == ref[sn][tn], (sn, tn)


def test_planet_network_routes_zero_config(spark):
    """VERDICT r6 #5 done-criterion: the planet-gate network (16,384
    nodes, 450-row collect budget — below the measured 506-row level-2
    core) routed through route_many_to_many with NO hierarchy maps
    passed must be result-identical to the explicit-map call. The
    derived rank-coarsened maps may land on a different (derived)
    hierarchy; CRP distances are partition-independent, so only cost
    may differ."""
    from pyspark.sql import functions as F

    from ram_datapipeline_spark import ram_domain
    from ram_datapipeline_spark.sources.osm import (
        osm_ways_to_road_edges,
        read_osm_nodes,
        read_osm_ways,
    )

    path = ram_domain.osm_grid2_fixture_path()
    nodes = read_osm_nodes(spark, path)
    ways = read_osm_ways(spark, path)
    edges = osm_ways_to_road_edges(nodes, ways).select(
        "src", "dst", F.floor(F.col("w") + 0.5).cast("long").alias("w")
    )
    w = ram_domain.GRID2_W
    cell = ram_domain.GRID2_CELL
    cx = ram_domain.GRID2_CELLS_X
    cells = nodes.select(
        "node_id",
        F.expr(
            f"(node_id div {w} div {cell}) * {cx} + "
            f"(node_id % {w} div {cell})"
        ).alias("cell"),
    )
    sup = ram_domain.GRID2_SUPER
    scx = cx // sup
    supercells = spark.range(cx * cx).select(
        F.col("id").alias("cell"),
        F.expr(
            f"(id div {cx} div {sup}) * {scx} + (id % {cx} div {sup})"
        ).alias("supercell"),
    )
    rgx = max(scx // 2, 1)
    regions = spark.range(scx * scx).select(
        F.col("id").alias("supercell"),
        F.expr(
            f"(id div {scx} div 2) * {rgx} + (id % {scx} div 2)"
        ).alias("region"),
    )
    n_nodes = w * ram_domain.GRID2_H
    sources = spark.range(3).select(
        F.col("id").alias("src_id"),
        ((F.col("id") * 997 + 13) % n_nodes).alias("node_id"),
    )
    targets = spark.range(40).select(
        F.col("id").alias("tgt_id"),
        ((F.col("id") * 641 + 7) % n_nodes).alias("node_id"),
    )
    kw = dict(
        n_cell_squarings=6, n_super_squarings=7, n_region_squarings=8,
        n_overlay_rounds=64, max_overlay_rows=450,
    )
    explicit = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.route_many_to_many(
            edges, sources, targets, cells=cells,
            supercells=supercells, regions=regions, **kw,
        ).collect()
    }
    auto = {
        (r["src_id"], r["tgt_id"]): r["dist"]
        for r in R.route_many_to_many(
            edges, sources, targets, cells=cells, **kw,
        ).collect()
    }
    assert auto == explicit
    assert len(explicit) > 0
