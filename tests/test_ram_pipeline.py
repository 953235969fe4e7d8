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


def test_pipeline_sink_failure_stops_queued_sinks(spark, tmp_path, monkeypatch):
    """The first sink fails while the next two are still writing (held on
    an Event): the two sinks still queued behind them never start, and
    the op ends `failed`."""
    import threading

    all_running = threading.Barrier(3)
    release = threading.Event()
    held, started = [], []

    def failing_sink(*args, **kwargs):
        all_running.wait(30)
        # let the held sinks finish only after the failure has been seen
        threading.Timer(1.0, release.set).start()
        raise OSError("disk full")

    def held_sink(*args, **kwargs):
        all_running.wait(30)
        assert release.wait(30)
        held.append(1)

    def queued_sink(name):
        def sink(*args, **kwargs):
            started.append(name)
        return sink

    monkeypatch.setattr(sinks, "write_results_normalized", failing_sink)
    monkeypatch.setattr(sinks, "write_csv", held_sink)
    monkeypatch.setattr(sinks, "write_json_grouped", held_sink)
    monkeypatch.setattr(sinks, "write_geojson_seq", queued_sink("geojson"))
    monkeypatch.setattr(sinks, "append_metadata_event", queued_sink("meta"))
    out = str(tmp_path / "out_stop")
    with pytest.raises(OSError, match="disk full"):
        run_ram_pipeline(spark, SF_DIR, out, selected_aa_ids=[1])
    assert len(held) == 2 and started == []
    status = OperationLog(spark, f"{out}/oplog").current_status().collect()
    assert len(status) == 1 and status[0]["status"] == "failed"


def test_pipeline_warm_run_compiles_nothing(spark, tmp_path):
    """A repeat of the job over an emptied output root — every warm
    benchmark pass — finds all its generated code in the codegen cache:
    no plan of the job carries a per-run value into generated code."""
    import shutil

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME()
    out = str(tmp_path / "warm")
    run_ram_pipeline(spark, SF_DIR, out, selected_aa_ids=[1])
    shutil.rmtree(out)
    before = compiled.getCount()
    run_ram_pipeline(spark, SF_DIR, out, selected_aa_ids=[1])
    assert compiled.getCount() - before == 0


def test_pipeline_empty_selection_completes(spark, tmp_path):
    """No selected area: the observed POI-type list is empty, so the run
    writes zero results with no eta_* columns and still completes."""
    out = str(tmp_path / "empty")
    dfs = run_ram_pipeline(spark, SF_DIR, out, selected_aa_ids=[])
    assert dfs["results"].count() == 0
    assert not [c for c in dfs["flat"].columns if c.startswith("eta_")]
    status = OperationLog(spark, f"{out}/oplog").current_status().collect()
    assert [r["status"] for r in status] == ["complete"]
