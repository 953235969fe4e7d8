"""Session factory: malformed environment knobs fail loudly, naming the
variable and the value, before any session is built."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from ram_datapipeline_spark.session import get_spark


@pytest.fixture
def no_session(monkeypatch):
    """Fail the test if get_spark gets as far as building a session."""
    for name in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                 "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(name, raising=False)

    def refuse(builder):
        raise AssertionError("get_spark built a session")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", refuse)


@pytest.mark.parametrize(
    "name, value",
    [
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "four"),
        ("SPARK_GRAFT_CPUS", "-2"),
        ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0"),
        ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32.5"),
        ("SPARK_GRAFT_DRIVER_MEM", "2 gb"),
        ("SPARK_GRAFT_DRIVER_MEM", "lots"),
        ("SPARK_GRAFT_DRIVER_MEM", "g"),
    ],
)
def test_get_spark_rejects_malformed_knob(no_session, monkeypatch, name, value):
    monkeypatch.setenv(name, value)
    with pytest.raises(ValueError, match=f"{name}.*'{value}'"):
        get_spark()


@pytest.mark.parametrize(
    "name, value",
    [
        ("SPARK_GRAFT_CPUS", "4"),
        ("SPARK_GRAFT_CPUS", "*"),
        ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8"),
        ("SPARK_GRAFT_DRIVER_MEM", "2g"),
        ("SPARK_GRAFT_DRIVER_MEM", "512m"),
    ],
)
def test_get_spark_accepts_wellformed_knob(no_session, monkeypatch, name, value):
    """A valid value passes validation and reaches the session build."""
    monkeypatch.setenv(name, value)
    with pytest.raises(AssertionError, match="built a session"):
        get_spark()


@pytest.mark.parametrize("n_rows, max_rows", [(5, 5), (6, 5), (0, 5)])
def test_bounded_collect_gate(spark, n_rows, max_rows):
    """At the gate the rows come back as an Arrow table, one row over it
    gives None, and an empty input keeps its schema."""
    import pyarrow as pa

    from ram_datapipeline_spark.session import bounded_collect

    df = spark.range(n_rows).selectExpr("id AS a", "CAST(id AS INT) AS b")
    table = bounded_collect(df, max_rows)
    if n_rows > max_rows:
        assert table is None
        return
    assert table.schema.types == [pa.int64(), pa.int32()]
    assert table.column_names == ["a", "b"]
    assert table.column("a").to_pylist() == list(range(n_rows))
