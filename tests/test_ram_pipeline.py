"""End-to-end test of the composed §3.1 pipeline: one run, all four sinks
verified for consistency against each other and the in-flight DataFrames."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ram_datapipeline_spark import sinks
from ram_datapipeline_spark.plans import run_ram_pipeline
from ram_datapipeline_spark.streaming import OperationLog
from tests.conftest import SF_DIR


def test_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "out")
    dfs = run_ram_pipeline(spark, SF_DIR, out, selected_aa_ids=[1, 2, 3])

    n_results = dfs["results"].count()
    assert n_results > 0
    # only selected areas survive
    assert set(
        r["aa_id"] for r in dfs["results"].select("aa_id").distinct().collect()
    ) <= {1, 2, 3}

    # K1: parent/child FK-consistent; child rows = sum of map sizes
    parent = spark.read.parquet(f"{out}/results")
    child = spark.read.parquet(f"{out}/results_poi")
    assert parent.count() == n_results
    map_sizes = dfs["results"].select(F.size("poi").alias("s")).agg(
        F.sum("s")
    ).collect()[0][0]
    assert child.count() == map_sizes
    assert child.join(parent, "result_id").count() == child.count()

    # K2: CSV has the dynamic eta_<type> columns and all rows
    csv = spark.read.option("header", "true").csv(f"{out}/csv")
    assert csv.count() == n_results
    assert {"eta_bank", "eta_hospital", "eta_school"} <= set(csv.columns)

    # K3: one JSON doc per admin area; payload sizes add back up
    js = spark.read.json(f"{out}/json")
    assert js.count() == dfs["results"].select("aa_id").distinct().count()
    assert js.select(F.explode("results")).count() == n_results

    # K4: GeoJSONSeq features parse and carry coordinates
    geo = spark.read.json(f"{out}/geojson/*.txt")
    assert geo.count() == n_results
    one = geo.limit(1).collect()[0]
    assert one["type"] == "Feature" and len(one["geometry"]["coordinates"]) == 2

    # K5 + operation log: run recorded and completed
    meta = spark.read.parquet(f"{out}/meta")
    assert meta.count() == 1
    ol = OperationLog(spark, f"{out}/oplog")
    status = ol.current_status().collect()
    assert len(status) == 1 and status[0]["status"] == "complete"
    assert ol.last_log(status[0]["op_id"])["code"] == "success"


def test_pipeline_eta_semantics(spark, tmp_path):
    """Unreachable POI types (beyond maxTime) surface as null map entries —
    the reference's `o.poi[k] === null` contract (index.js:111-114)."""
    out = str(tmp_path / "out2")
    dfs = run_ram_pipeline(spark, SF_DIR, out, selected_aa_ids=[0])
    vals = dfs["results"].select(F.explode("poi").alias("t", "eta")).collect()
    assert len(vals) > 0
    etas = [r["eta"] for r in vals]
    # every non-null eta respects the maxTime cutoff
    assert all(e <= 1800.0 for e in etas if e is not None)


def test_pipeline_failure_marks_op_failed(spark, tmp_path, monkeypatch):
    """A sink that raises leaves the op `failed` with an `error` log
    event — not stuck `running` — and re-raises; a rerun of the same
    (name, project, scenario) then starts."""
    def broken_sink(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(sinks, "write_csv", broken_sink)
    out = str(tmp_path / "out_fail")
    with pytest.raises(OSError, match="disk full"):
        run_ram_pipeline(spark, SF_DIR, out, selected_aa_ids=[1])
    ol = OperationLog(spark, f"{out}/oplog")
    status = ol.current_status().collect()
    assert len(status) == 1 and status[0]["status"] == "failed"
    last = ol.last_log(status[0]["op_id"])
    assert last["code"] == "error"
    assert json.loads(last["data"]) == {"message": "disk full", "error": "OSError"}
    assert ol.start("generate-analysis", 1, 1) == status[0]["op_id"] + 1
