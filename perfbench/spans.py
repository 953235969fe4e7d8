"""Per-layer spans for the benchmark's traced mode.

A span is recorded around each call into a layer's public functions. The
wrappers are installed from the benchmark by rebinding each public name
where its caller resolves it, so the package itself is unchanged. Each
span sets the Spark job description of its calling thread, so every job
the layer launches names the span that launched it. That holds in the
sink-pool threads too, because the wrapper runs in the thread that calls
the sink.
"""

from __future__ import annotations

import fnmatch
import functools
import importlib
import inspect
import itertools
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "ram_datapipeline_spark"
DESC_KEY = "spark.job.description"
DESC_PREFIX = "perfbench-span:"
ACTION = "action"

# layer -> (module, public names); fnmatch patterns, "Class.method" for methods
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "catalog": (f"{PACKAGE}.catalog", ("load_tables",)),
    "sources.osm": (
        f"{PACKAGE}.sources.osm", ("read_osm_*", "osm_ways_to_road_edges"),
    ),
    "operators.routing": (f"{PACKAGE}.operators.routing", ("route_many_to_many",)),
    "operators.dedup": (
        f"{PACKAGE}.operators.dedup",
        ("minhash_band_index", "write_*", "connected_components", "incremental_*"),
    ),
    "operators.graph": (f"{PACKAGE}.operators.graph", ("label_propagation",)),
    "sinks": (f"{PACKAGE}.sinks", ("write_*", "append_metadata_event")),
    "streaming.oplog": (
        f"{PACKAGE}.streaming.oplog",
        ("OperationLog.start", "OperationLog.log", "OperationLog.finish"),
    ),
    "plans.ram_pipeline": (f"{PACKAGE}.plans.ram_pipeline", ("run_ram_pipeline",)),
}
SPAN_NAMES = (*LAYERS, ACTION)
SPAN_METRICS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "stages": "count",
    "single_task_stages": "count", "tasks": "count", "exec_run_s": "s",
    "exec_cpu_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "slot_busy": "ratio", "driver_gap_s": "s",
}


@dataclass
class Span:
    sid: int
    layer: str
    parent: int | None
    start: float  # epoch seconds, the clock of the status store's job times
    end: float = 0.0
    paths: list[str] = field(default_factory=list)


@dataclass
class Stage:
    sid: int
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_read_mb: float
    shuffle_write_mb: float


@dataclass
class Job:
    jid: int
    name: str
    description: str | None
    submit: float
    complete: float
    stages: list[Stage] = field(default_factory=list)
    lost_stages: int = 0


# -- interval arithmetic -------------------------------------------------


def merge(intervals) -> list[tuple[float, float]]:
    """Union of (start, end) intervals as sorted disjoint intervals."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        elif b > a:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals) -> float:
    return sum(b - a for a, b in merge(intervals))


def overlap(xs, ys) -> float:
    """Length of (union of xs) ∩ (union of ys)."""
    xs, ys = merge(xs), merge(ys)
    i = j = 0
    total = 0.0
    while i < len(xs) and j < len(ys):
        lo = max(xs[i][0], ys[j][0])
        hi = min(xs[i][1], ys[j][1])
        total += max(0.0, hi - lo)
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


# -- spans -----------------------------------------------------------------


class Tracer:
    """Records spans; one instance per traced session."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = defaultdict(list)
        self._main = threading.main_thread().ident

    @contextmanager
    def span(self, layer: str, args=()):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks[tid]
            # a span opened in a worker thread (the sink pool) is a child
            # of whatever span the main thread is inside
            ctx = stack or self._stacks[self._main]
            parent = ctx[-1] if ctx else None
            nested = bool(stack) and stack[-1].layer == layer
            if not nested:
                s = Span(next(self._ids), layer,
                         parent.sid if parent else None, time.time())
                s.paths = [a for a in args if isinstance(a, str) and os.path.isabs(a)]
                stack.append(s)
                self.spans.append(s)
        if nested:  # a layer calling itself stays one span
            yield
            return
        prev = self.sc.getLocalProperty(DESC_KEY)
        self.sc.setLocalProperty(DESC_KEY, f"{DESC_PREFIX}{s.sid}")
        try:
            yield
        finally:
            self.sc.setLocalProperty(DESC_KEY, prev)
            s.end = time.time()
            with self._lock:
                stack.pop()

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, (*args, *kwargs.values())):
                return fn(*args, **kwargs)

        return traced

    def install(self):
        """Rebind every layer entry point in each package module that holds
        it; return a function that restores the originals."""
        undo = []
        layer_mods = {layer: importlib.import_module(modname)
                      for layer, (modname, _) in LAYERS.items()}
        modules = [m for name, m in list(sys.modules.items())
                   if m is not None and name.startswith(PACKAGE)]
        for layer, (modname, patterns) in LAYERS.items():
            mod = layer_mods[layer]
            for pat in patterns:
                if "." in pat:
                    cls_name, meth = pat.split(".")
                    cls = getattr(mod, cls_name)
                    orig = cls.__dict__[meth]
                    undo.append((cls, meth, orig))
                    setattr(cls, meth, self.wrap(layer, orig))
                    continue
                for name, orig in list(vars(mod).items()):
                    if not (fnmatch.fnmatch(name, pat) and inspect.isfunction(orig)
                            and orig.__module__ == modname):
                        continue
                    traced = self.wrap(layer, orig)
                    for m in modules:
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                undo.append((m, attr, orig))
                                setattr(m, attr, traced)

        def restore():
            for owner, attr, orig in reversed(undo):
                setattr(owner, attr, orig)

        return restore

    def take(self) -> list[Span]:
        """Hand over the spans recorded so far and start a new list."""
        with self._lock:
            spans, self.spans = self.spans, []
        return spans


# -- per-layer metrics of one pass ------------------------------------------


def span_of(job: Job) -> int | None:
    d = job.description or ""
    return int(d[len(DESC_PREFIX):]) if d.startswith(DESC_PREFIX) else None


def layer_metrics(spans: list[Span], jobs: list[Job], cores: int) -> dict[str, float]:
    """Every ``<layer>.<metric>`` of SPAN_NAMES × SPAN_METRICS for one pass,
    plus ``unattributed.jobs`` and the ``sinks.overlap`` ratio.

    Counts, executor time and shuffle bytes are those of the jobs a layer's
    own spans launched. ``wall_s`` is the union of the layer's span
    intervals; ``self_s`` subtracts the union of their child spans, which
    may overlap one another (the sink pool). ``slot_busy`` and
    ``driver_gap_s`` take the jobs of the whole subtree, since a parent's
    wall includes its children's jobs.
    """
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent in by_id:
            children[s.parent].append(s)
    claimed: dict[int, list[Job]] = defaultdict(list)
    unattributed = 0
    for j in jobs:
        sid = span_of(j)
        if sid in by_id:
            claimed[sid].append(j)
        else:
            unattributed += 1

    def subtree_jobs(s: Span) -> list[Job]:
        out = list(claimed[s.sid])
        for c in children[s.sid]:
            out += subtree_jobs(c)
        return out

    out: dict[str, float] = {}
    for layer in SPAN_NAMES:
        mine = [s for s in spans if s.layer == layer]
        ivs = [(s.start, s.end) for s in mine]
        wall = length(ivs)
        kids = [(c.start, c.end) for s in mine for c in children[s.sid]]
        own = [j for s in mine for j in claimed[s.sid]]
        tree = [j for s in mine for j in subtree_jobs(s)]
        stages = [st for j in own for st in j.stages]
        tree_run = sum(st.run_s for j in tree for st in j.stages)
        m = {
            "wall_s": wall,
            "self_s": wall - overlap(ivs, kids),
            "jobs": len(own),
            "stages": len(stages),
            "single_task_stages": sum(st.tasks == 1 for st in stages),
            "tasks": sum(st.tasks for st in stages),
            "exec_run_s": sum(st.run_s for st in stages),
            "exec_cpu_s": sum(st.cpu_s for st in stages),
            "shuffle_read_mb": sum(st.shuffle_read_mb for st in stages),
            "shuffle_write_mb": sum(st.shuffle_write_mb for st in stages),
            "slot_busy": tree_run / (wall * cores) if wall else 0.0,
            "driver_gap_s": wall - overlap(ivs, [(j.submit, j.complete) for j in tree]),
        }
        for k, v in m.items():
            out[f"{layer}.{k}"] = float(v)
    sink_ivs = [(s.start, s.end) for s in spans if s.layer == "sinks"]
    out["sinks.overlap"] = (
        sum(b - a for a, b in sink_ivs) / length(sink_ivs) if sink_ivs else 0.0
    )
    out["unattributed.jobs"] = float(unattributed)
    return out


def sink_output_mb(spans: list[Span]) -> float:
    """Bytes now on disk under the paths the pass's sink calls were given."""
    total = 0
    for p in {p for s in spans if s.layer == "sinks" for p in s.paths}:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6
