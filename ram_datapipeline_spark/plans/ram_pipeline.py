"""The full ram-analysis job (SURVEY §3.1) as ONE composable DataFrame DAG.

Reference lifecycle (ram-analysis/app/index.js:36-191): operation start →
Postgres/S3 input acquisition → per-admin-area forked children → per-square
OSRM matrix calls → result assembly → transactional DB insert + CSV/JSON/
GeoJSON exports → metadata touches → operation finish.

Spark restatement (SURVEY §3.1 "Spark mapping"): stages 3-8 are a single
lazy DAG — scan → pivot indicators → admin-area filter → point-in-polygon →
candidate pruning → duration matrix → min-reduce → walk penalty → map
assembly — evaluated once, fanned out to four sinks. The fork/parallelLimit
machinery (index.js:89-96, 392-408) does not exist: partitioning IS the
parallelism; progress IPC becomes OperationLog rows.

Everything here composes operators that are independently oracle-checked in
the suite; this module adds no new semantics, only the reference's
end-to-end shape (tested in tests/test_ram_pipeline.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ram_datapipeline_spark import ram_domain, sinks
from ram_datapipeline_spark.catalog import load_tables
from ram_datapipeline_spark.operators import eta as ETA
from ram_datapipeline_spark.operators import relational as R
from ram_datapipeline_spark.operators import spatial as SP
from ram_datapipeline_spark.streaming import OperationLog

MAX_TIME_S = 1800.0  # reference maxTime (index.js:80)
MAX_SPEED_KMH = 120.0  # reference maxSpeed (index.js:79)


def _origin_indicators(customer: DataFrame) -> DataFrame:
    """EAV indicator rows for the pivot stage (A2): the reference stores
    per-origin indicators long-format (projects_origins_indicators,
    index.js:233-246); here customer attributes play that role."""
    return customer.select(
        F.col("c_custkey").alias("origin_id"),
        F.explode(
            F.create_map(
                F.lit("pop"), F.col("c_acctbal").cast("double"),
                F.lit("segment_len"),
                F.length("c_mktsegment").cast("double"),
            )
        ).alias("key", "value"),
    )


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
    # -- input acquisition (S1-S5) + indicator pivot (A2) ------------------
    t = load_tables(spark, sf_dir)
    origins = ram_domain.origins(t["customer"])
    ind = R.pivot_eav(
        _origin_indicators(t["customer"]),
        ["origin_id"],
        "key",
        F.first("value"),
        ["pop", "segment_len"],
    )
    origins = origins.join(ind, "origin_id", "left")
    pois = ram_domain.pois(t["supplier"])
    areas = ram_domain.admin_areas(t["nation"])
    if selected_aa_ids is not None:
        areas = areas.filter(F.col("aa_id").isin(selected_aa_ids))

    # -- spatial stage: origins inside selected areas (J2) -----------------
    in_area = SP.points_in_rect_areas(origins, areas)

    # -- candidate pruning (J3 analog) + routing kernel (J4) + A1/F4 -------
    # service radius in degrees ≈ maxTime * maxSpeed (reference buffer,
    # utils.js:47-58); POIs beyond it are unreachable by construction
    eta = ETA.nearest_poi_eta(
        in_area,
        pois,
        origin_keys=["origin_id", "aa_id"],
        speed_kmh=max_speed_kmh,
        unreachable_over_s=max_time_s,
    )
    ol.log(op, "process:areas", {"message": "routing complete"})

    # -- result assembly: per-origin poi map (index.js:100-120) ------------
    poi_map = eta.groupBy("origin_id", "aa_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("poi_type", "eta_s")))
        ).alias("poi")
    )
    results = poi_map.join(
        in_area.select("origin_id", "aa_id", "lon", "lat", "pop"),
        ["origin_id", "aa_id"],
    )
    # evaluate the analysis ONCE and fan the materialized rows out to the
    # four sinks — without this each write re-runs the pivot → PIP → eta
    # matrix chain (measured ~4× the analysis cost at bench scale). The
    # result table is output-sized (one row per origin), so the local
    # checkpoint is the natural artifact boundary the reference's
    # in-memory result array occupies (index.js:100-120).
    results = results.localCheckpoint()

    # -- sinks (K1-K5) -----------------------------------------------------
    # The five sinks all read the SAME checkpointed results table and
    # write disjoint paths, so they are independent jobs the driver was
    # running back-to-back; submit them from a small thread pool so each
    # sink's write tasks back-fill the executor slots the previous sink's
    # tail leaves idle (guide §2.6 overlap independent jobs). Outputs are
    # byte-identical — only the submission order changes.
    from concurrent.futures import ThreadPoolExecutor

    flat = sinks.flatten_poi_map(results)
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
    with ThreadPoolExecutor(max_workers=3) as pool:
        for done in [pool.submit(j) for j in sink_jobs]:
            done.result()  # propagate the first failure, if any

    return {
        "origins": origins,
        "pois": pois,
        "areas": areas,
        "in_area": in_area,
        "eta": eta,
        "results": results,
        "flat": flat,
    }
