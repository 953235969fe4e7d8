#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's whole RAM job and its iterative
dedup and graph loops.

    python3 perfbench/run.py --workload ram_job --seed 1 --seconds 12 --trace 0

One run is one process and one SparkSession at ``local[N]``, where N is
the number of CPUs this process may use (exported as ``SPARK_GRAFT_CPUS``).
A single client runs one pass after another; a pass calls the workload's
registered query builders, unchanged, and collects each result. Every pass's
output is hashed against the registered DuckDB oracle SQL over the same
input directory, and a mismatch or an exception counts as a failed pass.

A run:

1. writes its seeded input tables (``fixture.py``) and evaluates the oracle
   hashes. Neither counts in ``setup_s`` or in a pass;
2. sets up: starts the session, loads the catalog and runs the cold pass
   (WARMUP_PASSES). The first warm pass can still be a little slower than
   the rest; the median of the timed passes absorbs it, where another
   warm-up pass would cost a sixth of a run's time;
3. runs a fixed number of timed passes, as many as take ``--seconds`` at
   the workload's nominal pass time (at least MIN_PASSES). With
   ``--trace 1`` it instead alternates an untraced pass and a pass with
   the per-layer spans (``spans.py``) installed, in half as many pairs
   (at least one).

The last stdout line is the result: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. The line before it is the run record,
which holds the environment, every pass and, when traced, the spans of the
last pass. Everything a run writes (inputs, sinks, warehouse tables, Spark
scratch, JVM temp files) lives in one directory under ``.bench_build/``,
which the run removes before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

# workload -> registered queries run by one pass, in order
WORKLOADS: dict[str, tuple[str, ...]] = {
    # the reference's whole job: scan, pivot, point-in-polygon, ETA,
    # localCheckpoint, five sinks from a thread pool, the operation log
    "ram_job": ("ram_full_job",),
    # the iterative loops: job-bound connected components writing standing
    # state tables, then label propagation's loop of shuffles
    "fixpoint": ("dedup_incremental_components", "graph_label_propagation"),
}
# the span around a query's collect: label_propagation only builds a plan,
# so the collect of its query is what runs the graph loop
FORCED_BY = {"graph_label_propagation": "operators.graph"}
# warm pass time (s) of each workload at 4 cores. A run times a fixed
# number of passes, ``--seconds`` / this, rather than passes until a
# deadline: pass times keep falling for many passes (JIT), and a deadline
# lets a fast run reach further down that curve, which widened the spread
# of the median between runs
NOMINAL_PASS_S = {"ram_job": 4.0, "fixpoint": 9.5}
WARMUP_PASSES = 1
MIN_PASSES = 3
# a fixed, modest driver heap: with the package default (8g) the JVM's heap
# growth, and with it the tree's peak RSS and GC time, varied ~25% between
# runs of fixpoint
DRIVER_MEM = "2g"
END_TO_END = {"setup_s": "s", "pass_s": "s", "work_per_s": "rows/s", "peak_rss_mb": "MB"}
PROCESS_METRICS = {
    "sinks.output_mb": "MB", "sinks.overlap": "ratio", "session.start_s": "s",
    "jvm.gc_s": "s", "pyworker.cpu_s": "s", "unattributed.jobs": "count",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in spans.SPAN_NAMES
             for m, u in spans.SPAN_METRICS.items()}
    units.update(PROCESS_METRICS)
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def expected_hashes(queries: tuple[str, ...], sf_dir: str) -> dict[str, str]:
    """Value hash of each query's registered oracle SQL over ``sf_dir``."""
    import duckdb

    from ram_datapipeline_spark import queries as Q
    from ram_datapipeline_spark.catalog import TABLE_NAMES
    from scripts.verify_driver_contract import value_hash

    con = duckdb.connect()
    try:
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {q: value_hash(con.execute(Q.REGISTRY[q].oracle).df()) for q in queries}
    finally:
        con.close()


def spark_conf(work: str) -> dict[str, str]:
    """Keep every file the session writes inside the run directory."""
    for d in ("spark-local", "warehouse", "jvm-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # a SPARK_LOCAL_DIRS from the environment would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/jvm-tmp -Dderby.system.home={work} "
            "-XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def environment(cores: int) -> dict:
    import numpy as np
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10, env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    blas = np.show_config(mode="dicts")["Build Dependencies"]["blas"]
    return {
        "commit": commit,
        "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_1m_start": os.getloadavg()[0],
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "blas": {"name": blas.get("name"), "config": blas.get("openblas configuration")},
        "blas_threads_env": {
            k: os.environ.get(k)
            for k in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
        },
        "scale": fixture.SCALE,
        "drop_fraction": fixture.DROP_FRACTION,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    each process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = stats.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while stats.alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def clear_outputs(spark, tmp: str) -> None:
    """Remove what a pass wrote: catalog tables and the output directories
    under the temp dir. Builders cache generated input *files* there (the
    OSM extracts), which stay."""
    for t in spark.catalog.listTables():
        if not t.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
    for entry in os.scandir(tmp):
        if entry.is_dir():
            shutil.rmtree(entry.path, ignore_errors=True)


def run(args, work: str) -> tuple[dict, dict]:
    from ram_datapipeline_spark import queries as Q
    from ram_datapipeline_spark.catalog import load_tables
    from ram_datapipeline_spark.session import get_spark
    from scripts.verify_driver_contract import value_hash

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.chdir(work)
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "env": environment(cores)}
    queries = WORKLOADS[args.workload]

    sf_dir = os.path.join(work, "fixture")
    t = time.perf_counter()
    record["rows"] = fixture.write_fixture(sf_dir, args.seed)
    record["fixture_s"] = time.perf_counter() - t
    t = time.perf_counter()
    expected = expected_hashes(queries, sf_dir)
    record["oracle_s"] = time.perf_counter() - t
    record["oracle_hashes"] = expected

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work))
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        record["env"]["java"] = sc._jvm.System.getProperty("java.version")
        ledger = stats.JobLedger(sc)
        ledger.begin("setup")
        load_tables(spark, sf_dir)
        ledger.end(detail=False)

        def one_pass(label: str, tracer: spans.Tracer | None = None) -> dict:
            sc._jvm.System.gc()
            stats.reset_peak_rss()
            gc0, cpu0 = stats.jvm_gc_s(sc), stats.pyworker_cpu_s()
            steal0 = stats.cpu_steal_s()
            ledger.begin(label)
            frames, error = [], None
            t = time.perf_counter()
            try:
                for q in queries:
                    df = Q.REGISTRY[q].builder(spark, sf_dir)
                    span = tracer.span(FORCED_BY.get(q, spans.ACTION)) if tracer else None
                    with span or contextlib.nullcontext():
                        frames.append(df.toPandas())
            except Exception:  # a failed pass is counted, and the loop goes on
                error = traceback.format_exc(limit=3)
                print(error, file=sys.stderr)
            wall = time.perf_counter() - t
            jobs = ledger.end(detail=tracer is not None)
            if error is None:
                for q, pdf in zip(queries, frames):
                    if value_hash(pdf) != expected[q]:
                        error = f"{q}: output hash differs from the oracle"
            rec = {
                "label": label, "pass_s": wall, "ok": error is None,
                "rows": sum(len(f) for f in frames), "jobs": len(jobs),
                "jvm_gc_s": stats.jvm_gc_s(sc) - gc0,
                "pyworker_cpu_s": stats.pyworker_cpu_s() - cpu0,
                # CPU time the hypervisor gave to other guests: a noisy
                # neighbour shows here
                "cpu_steal_s": stats.cpu_steal_s() - steal0,
            }
            if error:
                rec["error"] = error
            if tracer is not None:
                sp = tracer.take()
                rec["layers"] = spans.layer_metrics(sp, jobs, cores)
                rec["layers"]["sinks.output_mb"] = spans.sink_output_mb(sp)
                rec["spans"] = [vars(s) for s in sp]
                sids = {s.sid for s in sp}
                rec["unattributed"] = [
                    j.name for j in jobs if spans.span_of(j) not in sids
                ]
                rec["lost_stages"] = sum(j.lost_stages for j in jobs)
            rec["peak_rss_mb"] = stats.tree_peak_rss_mb()
            clear_outputs(spark, tmp)
            spark.catalog.clearCache()
            return rec

        warm = [one_pass(f"warmup-{i}") for i in range(WARMUP_PASSES)]
        setup_s = time.perf_counter() - t0
        record.update(session_start_s=session_s, setup_s=setup_s, warmup=warm)
        passes: list[dict] = []
        traced: list[dict] = []
        n = max(MIN_PASSES, int(args.seconds / NOMINAL_PASS_S[args.workload]))
        if not args.trace:
            passes = [one_pass(f"pass-{k}") for k in range(n)]
        else:
            # untraced and traced passes alternate, and so does which of a
            # pair runs first, so the tracing overhead is not confounded
            # with passes still getting faster
            tracer = spans.Tracer(sc)

            def traced_pass(k: int) -> dict:
                restore = tracer.install()
                try:
                    return one_pass(f"traced-{k}", tracer)
                finally:
                    restore()

            for k in range(max(1, n // 2)):
                if k % 2:
                    traced.append(traced_pass(k))
                    passes.append(one_pass(f"pass-{k}"))
                else:
                    passes.append(one_pass(f"pass-{k}"))
                    traced.append(traced_pass(k))
            for p in traced[:-1]:
                del p["spans"]  # the record keeps the spans of the last pass
            record["traced"] = traced
        record["passes"] = passes
    finally:
        stop_spark(spark)
    record["env"]["loadavg_1m_end"] = os.getloadavg()[0]

    everything = warm + passes + traced
    failed = sum(not p["ok"] for p in everything)
    good = [p for p in passes if p["ok"]] or passes
    pass_s = statistics.median(p["pass_s"] for p in good)
    record.update(pass_max_s=max(p["pass_s"] for p in passes), n_passes=len(passes),
                  fail_ratio=failed / len(everything))
    if args.trace:
        ok_traced = [p for p in traced if p["ok"]] or traced
        metrics = {
            k: statistics.median(p["layers"][k] for p in ok_traced)
            for k in ok_traced[0]["layers"]
        }
        metrics["unattributed.jobs"] = max(p["layers"]["unattributed.jobs"] for p in traced)
        metrics["session.start_s"] = session_s
        metrics["jvm.gc_s"] = statistics.median(p["jvm_gc_s"] for p in ok_traced)
        metrics["pyworker.cpu_s"] = statistics.median(p["pyworker_cpu_s"] for p in ok_traced)
        metrics["trace.overhead_s"] = statistics.median(
            t["pass_s"] - p["pass_s"] for p, t in zip(passes, traced)
        )
        units = per_layer_units()
    else:
        metrics = {"setup_s": setup_s, "pass_s": pass_s,
                   "work_per_s": sum(p["rows"] for p in good) / sum(p["pass_s"] for p in good),
                   "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in good)}
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(everything),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still removes its directory and stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # the package under test lives at the root of the checkout; importing it
    # first makes a directory without it fail before any work starts
    sys.path.insert(0, ROOT)
    import ram_datapipeline_spark.queries  # noqa: F401
    import scripts.verify_driver_contract  # noqa: F401

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    cwd = os.getcwd()
    try:
        record, result = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
