"""SparkSession factory.

Replaces the reference's hand-rolled process scheduling
(ram-analysis/app/index.js:89-96 `async.parallelLimit(tasks, config.cpus)`,
config.cpus = floor(os.cpus()*1.5) at ram-analysis/app/config.js:6) with the
Spark scheduler. Tuning choices:

- AQE on: runtime coalescing of the empty grid-cell partitions the reference
  prunes by hand (calculate-eta/tasks.js:35-49), plus skew-join splitting.
- shuffle.partitions sized to the local core count (the driver runs
  local[32]); on a real cluster this would be ~2-3x total executor cores.
- Arrow enabled: every pandas-UDF boundary (the routing kernel analog of
  osrm.table, tasks.js:260) moves batches, not rows.
- Session timezone pinned UTC so timestamp semantics are stable and
  comparable against external oracles.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition when the input has too few partitions to
    feed the cluster.

    Small dimension files arrive as ONE scan partition; any fan-out stage
    downstream (crossJoin cost kernel, shingle explode, permutation aggs)
    then runs on one core — Catalyst/AQE cannot fix this because there is
    no shuffle upstream of the fan-out to re-balance. At 100 TB the big
    fact side never needs this; it exists for the "small input, explosive
    operator" shape (the reference's per-square parallelism problem,
    calculate-eta/index.js:60-73, solved there by hand-forking).
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def local_rows_df(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    """Driver-local rows as a DataFrame via the Arrow fast path.

    ``createDataFrame(list, schema)`` builds a PYTHON-RDD-backed relation:
    every job that executes it round-trips through a Python worker, and in
    write jobs specifically that round-trip measured ~4 s PER JOB on
    local[32] (r13, jstack-confirmed: the FileFormatWriter task blocks on
    the Python runner socket) — the hidden cost behind the operation-log
    sink's slowness. Converting through pandas ships the rows as Arrow
    batches materialized JVM-side at creation, so downstream jobs (writes,
    broadcasts) never touch a Python worker: measured 0.2 s vs 4.2 s per
    tiny write. Falls back to the plain path if pandas/Arrow is
    unavailable or the rows don't convert (exotic nested types).

    Zero rows need their own route: an EMPTY pandas frame still plans as
    ``Scan ExistingRDD`` (a Python-worker relation, 0.4-0.6 s per action
    at local[4]), so the empty case converts one all-null row and drops
    it with ``limit(0)``, which the optimizer folds to an empty
    ``LocalTableScan`` (~0.1 s per action).

    Use for SMALL driver-side row lists (log events, status rows, seed
    tables) — never for bulk data, which should arrive via a source scan.
    """
    try:
        import pandas as pd
        from pyspark.sql.types import StructType

        names = [f.name for f in StructType.fromDDL(schema)]
        if not rows:
            pdf = pd.DataFrame([[None] * len(names)], columns=names, dtype=object)
            return spark.createDataFrame(pdf, schema).limit(0)
        pdf = pd.DataFrame(rows, columns=names, dtype=object)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


def bounded_collect(df: DataFrame, max_rows: int) -> "pyarrow.Table | None":
    """``df`` as a driver-side ``pyarrow.Table``, or None when it has more
    than ``max_rows`` rows.

    The size gate of a driver-local fast path: it pulls at most
    ``max_rows + 1`` rows through ``DataFrame.toArrow()`` (Arrow batches,
    no Python ``Row`` objects), so an over-gate input is never
    materialized in full on the driver. An empty input returns an empty
    table that still carries ``df``'s schema.
    """
    table = df.limit(max_rows + 1).toArrow()
    return None if table.num_rows > max_rows else table


def _env_knob(name: str, pattern: str, expected: str) -> str | None:
    """``$name`` if set and non-empty, else None; a value that does not
    match ``pattern`` raises ValueError naming the variable and the value,
    before any session exists."""
    value = os.environ.get(name)
    if not value:
        return None
    if not re.fullmatch(pattern, value):
        raise ValueError(f"{name} must be {expected}, got {value!r}")
    return value


def get_spark(
    app_name: str = "ram-datapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env var is
    set, else ``local[*]``. An existing active session is reused (Spark
    semantics); config applies on first creation.

    Each environment knob it reads is checked before the session is
    built, and a malformed one raises ValueError: ``SPARK_GRAFT_CPUS``
    (a positive integer or ``*``), ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (a
    positive integer), ``SPARK_GRAFT_DRIVER_MEM`` (a JVM size such as
    ``2g``).
    """
    if master is None:
        cpus = _env_knob(
            "SPARK_GRAFT_CPUS", r"[1-9]\d*|\*", "a positive integer or '*'"
        )
        master = f"local[{cpus or '*'}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            _env_knob(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS", r"[1-9]\d*", "a positive integer"
            )
            or DEFAULT_SHUFFLE_PARTITIONS
        )
    driver_mem = _env_knob(
        "SPARK_GRAFT_DRIVER_MEM",
        r"[1-9]\d*[kKmMgGtT]?",
        "a JVM size such as '2g' or '512m'",
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the per-batch Python round-trip in
        # mapInPandas kernels (routing, media decode) — the batch is the
        # unit of vectorization, not of memory safety, at these row widths
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # Fixture parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long nanos and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem or "8g")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
