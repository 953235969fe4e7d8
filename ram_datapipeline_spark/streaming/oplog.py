"""Operation log — parity with the reference's job-tracking tables.

Reference: `operations` + `operations_logs` Postgres tables driven by the
Operation class (`ram-analysis/app/utils/operation.js`): start enforces a
single running operation per (name, project, scenario) (`:87-99`), every
event appends a log row with a JSON payload (`:201-230`), finish marks
complete (`:141-154`), and readers take latest-row-per-key (`:45-59`) /
last-log (`:249-255`).

Spark-first restatement: both tables are append-only parquet; *status is an
event, not an UPDATE* — the current state of an operation is the newest
status event per op_id (SURVEY W1), which is how an object-store-backed log
must work anyway. A terminal status is ``complete`` or ``failed``
(:meth:`OperationLog.fail`); only a non-terminal op blocks a restart.

The log is a control-plane ledger, so it must stay off the analysis's
critical path. On a fresh log root a ``start → log… → finish`` lifecycle
launches exactly three Spark jobs — the ``running`` append, one batched
log flush, the ``complete`` append — and no read jobs:

- both tables are read with their fixed schemas, so a read never runs a
  parquet schema-inference job, and a missing table is known from one
  ``FileSystem.exists`` call, without a read attempt;
- :meth:`OperationLog.start` reads nothing when the ``operations`` table
  does not exist (op_id 0, nothing can be running); otherwise the
  uniqueness guard and ``max(op_id)`` come from ONE aggregate action;
- the instance remembers every op it started (name, project, scenario,
  status), so :meth:`OperationLog.finish` / :meth:`OperationLog.fail`
  re-read the table only for an op_id this instance did not start;
- log events are BUFFERED and appended one batch per lifecycle stage (per-
  event tiny-file appends fragment the log at real op volume), with
  read-your-writes via an automatic flush on every read.

The in-memory op state and log_ids rest on one contract: start()'s
uniqueness guard makes an operation single-writer, matching the
reference's Postgres sequence semantics (operation.js:201-230).
"""

from __future__ import annotations

import json
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# columns each append writes; both tables add the append's created_at
OPS_COLS = "op_id long, name string, project_id long, scenario_id long, status string"
LOGS_COLS = "log_id long, op_id long, code string, data string"
TERMINAL = ("complete", "failed")


class OperationLog:
    """Append-only operation tracker rooted at ``base_path`` (two parquet
    dirs: ``operations`` — status events — and ``operations_logs``)."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.ops_path = os.path.join(base_path, "operations")
        self.logs_path = os.path.join(base_path, "operations_logs")
        # buffered log events; log_id assignment reads max(log_id) once per
        # instance, then counts in memory (single-writer contract above)
        self._buf: list[tuple[int, int, str, str]] = []
        self._next_log_id: int | None = None
        # op_id -> (name, project_id, scenario_id, status) for every op
        # whose status this instance wrote (single-writer contract above)
        self._known: dict[int, tuple[str, int, int, str]] = {}

    # -- reads ------------------------------------------------------------

    def _read(self, path: str, cols: str) -> DataFrame | None:
        # a missing table is the common case (every fresh log root), and
        # one FileSystem.exists call answers it without a read attempt
        # whose failure crosses py4j as a Java exception
        jvm = self.spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
        try:
            return (
                self.spark.read.schema(f"{cols}, created_at timestamp")
                .parquet(path)
            )
        except AnalysisException:
            return None  # exists, but holds no readable events yet

    def current_status(self) -> DataFrame:
        """Latest status event per op_id (W1): (op_id, name, project_id,
        scenario_id, status, updated_at)."""
        ops = self._read(self.ops_path, OPS_COLS)
        if ops is None:
            from ram_datapipeline_spark.session import local_rows_df

            # plans as an empty LocalTableScan: no Python worker per action
            return local_rows_df(
                self.spark, [], f"{OPS_COLS}, updated_at timestamp"
            )
        return self._latest(ops)

    @staticmethod
    def _latest(ops: DataFrame) -> DataFrame:
        w = Window.partitionBy("op_id").orderBy(F.desc("created_at"))
        return (
            ops.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "op_id",
                "name",
                "project_id",
                "scenario_id",
                "status",
                F.col("created_at").alias("updated_at"),
            )
        )

    def logs(self, op_id: int) -> DataFrame:
        """All log rows for an op, newest first (reference W3,
        operation.js:237-242). Flushes buffered events first —
        read-your-writes."""
        self.flush()
        return (
            self.spark.read.schema(f"{LOGS_COLS}, created_at timestamp")
            .parquet(self.logs_path)
            .filter(F.col("op_id") == op_id)
            .orderBy(F.desc("log_id"))
        )

    def last_log(self, op_id: int):
        """Newest log row (W2, operation.js:249-255) or None."""
        rows = self.logs(op_id).limit(1).collect()
        return rows[0] if rows else None

    # -- writes -----------------------------------------------------------

    def _append_status(self, op_id: int, name: str, project_id: int,
                       scenario_id: int, status: str) -> None:
        from ram_datapipeline_spark.session import local_rows_df

        df = local_rows_df(
            self.spark, [(op_id, name, project_id, scenario_id, status)], OPS_COLS
        ).withColumn("created_at", F.current_timestamp())
        # one row → one task → one file: without the coalesce the local
        # relation parallelizes to defaultParallelism (32) tasks and
        # writes 31 empty fragments per status event
        df.coalesce(1).write.mode("append").parquet(self.ops_path)
        self._known[op_id] = (name, project_id, scenario_id, status)

    def start(self, name: str, project_id: int, scenario_id: int) -> int:
        """Register a new running operation; raise if one with the same
        (name, project, scenario) is not terminal (operation.js:87-99).

        Reads nothing when the ``operations`` table does not exist yet
        (op_id 0). Otherwise ONE aggregate over the latest statuses yields
        both the guard's count of live same-key ops and ``max(op_id)``.
        The only job on a fresh root is the ``running`` append."""
        ops = self._read(self.ops_path, OPS_COLS)
        op_id = 0
        if ops is not None:
            same = (
                (F.col("name") == name)
                & (F.col("project_id") == project_id)
                & (F.col("scenario_id") == scenario_id)
                & ~F.col("status").isin(*TERMINAL)
            )
            live, last = (
                self._latest(ops)
                .agg(F.count(F.when(same, 1)), F.max("op_id"))
                .collect()[0]
            )
            if live:
                raise RuntimeError(
                    "Operation with the same name is already running"
                )
            op_id = (last if last is not None else -1) + 1
        self._append_status(op_id, name, project_id, scenario_id, "running")
        return op_id

    def log(self, op_id: int, code: str, data: dict) -> None:
        """Buffer one log event with a JSON payload (operation.js:201-230).
        Events land in parquet at the next :meth:`flush` — called by any
        read and by :meth:`finish` — as ONE append job for the whole
        batch, so a lifecycle with hundreds of progress events writes a
        handful of files instead of one fragment per event. log_ids are
        assigned here (max(log_id)+1 onward, read once per instance and
        not at all when the log table does not exist yet), so ordering
        and ids match the per-event-append behavior exactly."""
        if self._next_log_id is None:
            logs = self._read(self.logs_path, LOGS_COLS)
            prev = None
            if logs is not None:
                prev = logs.agg(F.max("log_id")).collect()[0][0]
            self._next_log_id = (prev if prev is not None else -1) + 1
        self._buf.append((self._next_log_id, op_id, code, json.dumps(data)))
        self._next_log_id += 1

    def flush(self) -> None:
        """Write all buffered log events in one append job (no-op when
        the buffer is empty)."""
        if not self._buf:
            return
        from ram_datapipeline_spark.session import local_rows_df

        df = local_rows_df(self.spark, self._buf, LOGS_COLS).withColumn(
            "created_at", F.current_timestamp()
        )
        df.coalesce(1).write.mode("append").parquet(self.logs_path)
        self._buf = []

    def _close(self, op_id: int, code: str, data: dict, status: str) -> None:
        """Log ``code`` and write terminal ``status`` for a non-terminal op.
        The op's (name, project, scenario) come from memory for an op this
        instance wrote; any other op_id takes the read path (one collect
        of its latest status)."""
        known = self._known.get(op_id)
        if known is None:
            rows = (
                self.current_status().filter(F.col("op_id") == op_id).collect()
            )
            if not rows:
                raise RuntimeError(f"unknown op_id {op_id}")
            r = rows[0]
            known = (r["name"], r["project_id"], r["scenario_id"], r["status"])
        name, project_id, scenario_id, current = known
        if current in TERMINAL:
            raise RuntimeError(f"Operation already {current}")
        self.log(op_id, code, data)
        self.flush()
        self._append_status(op_id, name, project_id, scenario_id, status)

    def finish(self, op_id: int) -> None:
        """Mark complete (operation.js:141-154): one log event + one status
        event; flushes the op's buffered progress events. For an op this
        instance started, that is two append jobs and no read; an op_id it
        did not start is first looked up in the table."""
        self._close(op_id, "success", {"message": "Operation complete"},
                    "complete")

    def fail(self, op_id: int, error: BaseException) -> None:
        """Mark failed: one ``error`` log event carrying the error, then a
        terminal ``failed`` status, so a crashed run leaves a readable
        error state instead of a stuck ``running`` op and the same
        (name, project, scenario) can start again. Same jobs as
        :meth:`finish`."""
        data = {"message": str(error), "error": type(error).__name__}
        self._close(op_id, "error", data, "failed")
