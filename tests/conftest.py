"""Shared fixtures: one local SparkSession per test run + a DuckDB oracle
connection with the fixture tables registered as views (mirroring the
driver's correctness gate)."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ram_datapipeline_spark.catalog import TABLE_NAMES
from ram_datapipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ram-datapipeline-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s


@pytest.fixture(params=["local", "loop", "boundary"])
def cc_path(request, monkeypatch):
    """Runs a connected-components test once per path: ``local`` keeps the
    default driver gate (union-find), ``loop`` sets the gate to 0 so the
    distributed pointer-jumping loop runs, ``boundary`` sets the gate to
    exactly the graph's edge count (the inclusive edge of the union-find
    path). Call ``cc_path.gate(n_edges)`` before running the operator;
    ``cc_path.loop_calls`` counts the loop's runs."""
    from ram_datapipeline_spark.operators import dedup

    real_loop = dedup._pointer_jumping_components

    class Path:
        mode = request.param
        loop_calls = 0

        @staticmethod
        def gate(n_edges: int) -> None:
            if request.param == "loop":
                monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 0)
            elif request.param == "boundary":
                monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", n_edges)

    def counting_loop(*args, **kwargs):
        Path.loop_calls += 1
        return real_loop(*args, **kwargs)

    monkeypatch.setattr(dedup, "_pointer_jumping_components", counting_loop)
    return Path


@pytest.fixture(params=["local", "spark", "boundary"])
def lpa_path(request, monkeypatch):
    """Runs a label-propagation test once per path: ``local`` keeps the
    default driver gate (numpy rounds), ``spark`` sets the gate to 0 so
    the distributed loop runs, ``boundary`` sets the gate to exactly the
    graph's non-self-loop edge count (the inclusive edge of the local
    path). Call ``lpa_path.gate(n_edges)`` before running the operator;
    ``lpa_path.spark_calls`` counts the distributed loop's runs."""
    from ram_datapipeline_spark.operators import graph

    real_loop = graph._label_propagation_distributed

    class Path:
        mode = request.param
        spark_calls = 0

        @staticmethod
        def gate(n_edges: int) -> None:
            if request.param == "spark":
                monkeypatch.setattr(graph, "LOCAL_LPA_MAX_EDGES", 0)
            elif request.param == "boundary":
                monkeypatch.setattr(graph, "LOCAL_LPA_MAX_EDGES", n_edges)

    def counting_loop(*args, **kwargs):
        Path.spark_calls += 1
        return real_loop(*args, **kwargs)

    monkeypatch.setattr(graph, "_label_propagation_distributed", counting_loop)
    return Path


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    yield con
    con.close()


def _tuplify(v):
    """Array/list/struct cells -> nested tuples: hashable and totally
    ordered, so multi-column row sorts and exact equality work on them."""
    import numpy as np

    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_tuplify(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _tuplify(v[k])) for k in sorted(v))
    if isinstance(v, np.generic):
        return v.item()
    return v


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sorted-columns, sorted-rows, widened-dtypes frame for exact compare."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(_tuplify)
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("Int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(pdf[c]):
            # Spark returns ns resolution, DuckDB µs; unify (and drop tz)
            s = pdf[c]
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            pdf[c] = s.astype("datetime64[us]")
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
            drop=True
        )
    return pdf


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = ""):
    """Exact match on row count, column names, and values — the same contract
    as the driver's order-insensitive value hash."""
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: columns differ: spark={list(a.columns)} oracle={list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row counts differ: spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            ok = ((av == bv) | (av.isna() & bv.isna())).all()
        else:
            ok = av.where(~av.isna(), None).equals(bv.where(~bv.isna(), None))
        assert ok, (
            f"{name}: column {c!r} values differ; first diffs:\n"
            f"{pd.DataFrame({'spark': av, 'oracle': bv})[av.astype(str) != bv.astype(str)].head(10)}"
        )
