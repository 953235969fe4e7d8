"""The full ram-analysis job (SURVEY §3.1) as ONE composable DataFrame DAG.

Reference lifecycle (ram-analysis/app/index.js:36-191): operation start →
Postgres/S3 input acquisition → per-admin-area forked children → per-square
OSRM matrix calls → result assembly → transactional DB insert + CSV/JSON/
GeoJSON exports → metadata touches → operation finish.

Spark restatement (SURVEY §3.1 "Spark mapping"): stages 3-8 are a single
lazy DAG — scan (origins with their indicators) → point-in-polygon →
origin hash shuffle → cost → min-reduce → poi-map assembly — evaluated
once into ONE local checkpoint, which also observes the dynamic POI-type
list, then fanned out to the sinks. Each stage runs once: the origin
columns the results carry (lon, lat, pop) ride through both aggregates as
group keys, so nothing joins back to the point-in-polygon output, and the
one shuffle partitions on the origin key both aggregates group by. The
fork/parallelLimit machinery (index.js:89-96, 392-408) does not exist:
partitioning IS the parallelism; progress IPC becomes OperationLog rows.

Everything here composes operators that are independently oracle-checked in
the suite; this module adds no new semantics, only the reference's
end-to-end shape (tested in tests/test_ram_pipeline.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ram_datapipeline_spark import ram_domain, sinks
from ram_datapipeline_spark.catalog import load_tables
from ram_datapipeline_spark.operators import eta as ETA
from ram_datapipeline_spark.operators import spatial as SP
from ram_datapipeline_spark.streaming import OperationLog

MAX_TIME_S = 1800.0  # reference maxTime (index.js:80)
MAX_SPEED_KMH = 120.0  # reference maxSpeed (index.js:79)


def run_ram_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    selected_aa_ids: list[int] | None = None,
    max_time_s: float = MAX_TIME_S,
    max_speed_kmh: float = MAX_SPEED_KMH,
) -> dict[str, DataFrame]:
    """Run the full analysis job; write all four sinks under ``out_dir``;
    return the intermediate DataFrames for inspection (``flat`` is the
    results table with its poi map flattened to ``eta_<type>`` columns,
    the CSV/GeoJSON sinks' input).

    The run is recorded in the operation log under ``out_dir/oplog``: a
    failure anywhere after ``start`` logs an ``error`` event and leaves
    the op ``failed`` (not stuck ``running``) before re-raising.

    ``selected_aa_ids`` mirrors the scenario-settings admin-area selection
    (S3/S4, index.js:308-320); None = all areas.
    """
    ol = OperationLog(spark, os.path.join(out_dir, "oplog"))
    op = ol.start("generate-analysis", project_id=1, scenario_id=1)
    ol.log(op, "start", {"message": "Analysis started"})
    try:
        dfs = _analyse_and_write(
            spark, sf_dir, out_dir, selected_aa_ids, max_time_s,
            max_speed_kmh, ol, op,
        )
    except Exception as err:
        # a failed run must not leave a stuck `running` op: record the
        # error and a terminal `failed` status, then re-raise
        ol.fail(op, err)
        raise
    ol.finish(op)
    return dfs


def analysis_plan(
    spark: SparkSession,
    sf_dir: str,
    selected_aa_ids: list[int] | None = None,
    max_time_s: float = MAX_TIME_S,
    max_speed_kmh: float = MAX_SPEED_KMH,
) -> dict[str, DataFrame]:
    """The lazy analysis DAG up to ``results`` — one row per origin in a
    selected area: (origin_id, aa_id, lon, lat, pop, poi) with ``poi`` the
    type → ETA map — not yet evaluated."""
    # -- input acquisition (S1-S5) + origin indicators (A2) ----------------
    # The reference stores per-origin indicators long-format and pivots
    # them back (projects_origins_indicators, index.js:233-246); here they
    # are attributes of the customer row itself, so they are projected off
    # that row. The pivot operator stays oracle-checked by a2_pivot_eav.
    t = load_tables(spark, sf_dir)
    origins = ram_domain.origins(
        t["customer"], F.col("c_acctbal").cast("double").alias("pop")
    )
    pois = ram_domain.pois(t["supplier"])
    areas = ram_domain.admin_areas(t["nation"])
    if selected_aa_ids is not None:
        areas = areas.filter(F.col("aa_id").isin(selected_aa_ids))

    # -- spatial stage: origins inside selected areas (J2) -----------------
    in_area = SP.points_in_rect_areas(origins, areas)

    # -- candidate pruning (J3 analog) + routing kernel (J4) + A1/F4 -------
    # service radius in degrees ≈ maxTime * maxSpeed (reference buffer,
    # utils.js:47-58); POIs beyond it are unreachable by construction.
    # The result columns ride along as group keys behind origin_id (the
    # shuffle key), so no stage joins back to in_area.
    keys = ["origin_id", "aa_id", "lon", "lat", "pop"]
    eta = ETA.nearest_poi_eta(
        in_area.select(*keys),
        pois,
        origin_keys=keys,
        speed_kmh=max_speed_kmh,
        unreachable_over_s=max_time_s,
    )

    # -- result assembly: per-origin poi map (index.js:100-120) ------------
    results = eta.groupBy(*keys).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("poi_type", "eta_s")))
        ).alias("poi")
    )
    return {
        "origins": origins,
        "pois": pois,
        "areas": areas,
        "in_area": in_area,
        "eta": eta,
        "results": results,
    }


def _analyse_and_write(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    selected_aa_ids: list[int] | None,
    max_time_s: float,
    max_speed_kmh: float,
    ol: OperationLog,
    op: int,
) -> dict[str, DataFrame]:
    """The analysis DAG and its five sinks, logging progress to op
    ``op`` of ``ol``."""
    dfs = analysis_plan(spark, sf_dir, selected_aa_ids, max_time_s, max_speed_kmh)
    ol.log(op, "process:areas", {"message": "routing complete"})

    # Evaluate the analysis ONCE and fan the materialized rows out to the
    # sinks — without this each write re-runs the PIP → eta matrix chain
    # (measured ~4× the analysis cost at bench scale). The result table is
    # output-sized (one row per origin), so the local checkpoint is the
    # natural artifact boundary the reference's in-memory result array
    # occupies (index.js:100-120). The same pass observes the distinct
    # POI types the CSV/GeoJSON columns are named after, so the dynamic
    # schema costs no job of its own, and the normalized sink keys this
    # checkpoint directly (sinks.split_results_normalized).
    types = Observation("poi_types")
    results = (
        dfs["results"]
        .observe(
            types,
            F.array_distinct(F.flatten(F.collect_set(F.map_keys("poi")))).alias("t"),
        )
        .localCheckpoint()
    )
    flat = sinks.flatten_poi_map(results, sorted(types.get["t"]))

    # -- sinks (K1-K5) -----------------------------------------------------
    # The five sinks all read the SAME checkpointed results table and
    # write disjoint paths, so they are independent jobs the driver was
    # running back-to-back; submit them from a small thread pool so each
    # sink's write tasks back-fill the executor slots the previous sink's
    # tail leaves idle (guide §2.6 overlap independent jobs). Outputs are
    # byte-identical — only the submission order changes. After the first
    # failure no queued sink starts: a freed pool thread would otherwise
    # pick up the next sink and keep writing for an op that has failed.
    import threading
    from concurrent.futures import ThreadPoolExecutor

    sink_jobs = [
        lambda: sinks.write_results_normalized(
            results,
            os.path.join(out_dir, "results"),
            os.path.join(out_dir, "results_poi"),
            partition_by=["aa_id"],
        ),
        lambda: sinks.write_csv(flat, os.path.join(out_dir, "csv")),
        lambda: sinks.write_json_grouped(
            results,
            os.path.join(out_dir, "json"),
            ["aa_id"],
            ["origin_id", "lon", "lat", "pop"],
        ),
        lambda: sinks.write_geojson_seq(flat, os.path.join(out_dir, "geojson")),
        lambda: sinks.append_metadata_event(
            spark,
            os.path.join(out_dir, "meta"),
            {"key": "res_gen_at", "project": "1", "scenario": "1"},
        ),
    ]
    failed = threading.Event()

    def run_sink(job) -> None:
        if failed.is_set():
            return
        try:
            job()
        except BaseException:
            failed.set()
            raise

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [pool.submit(run_sink, j) for j in sink_jobs]
        try:
            for done in futures:
                done.result()  # propagate the first failure, if any
        except BaseException:
            for f in futures:
                f.cancel()  # no-op on a sink already running or done
            raise

    return {**dfs, "results": results, "flat": flat}
