"""Audit ledger + structured pipeline logs (SURVEY §2.11 C2-C4).

Parquet-backed equivalents of the reference's BigQuery control tables
(configs/audit_table_ddl.sql, init_bq_tables.py:54-62): one audit row per
table load drives the incremental high-watermark; pipeline_logs captures
structured events.

Rows are BUFFERED on the driver and flushed as one batched append per
pipeline stage (``flush()``), not one Spark job per row — a full run
emits dozens of control rows, and a per-row ``createDataFrame().write``
costs a whole job each (~0.3-0.5 s of pure scheduling). ``read()``
flushes first. ``last_watermark`` does not: its first call loads every
(source, table) watermark with one grouped aggregate over the flushed
rows, folds in the rows still buffered, and caches the map; ``record``
keeps the map current. A recorded success is therefore visible to every
later watermark lookup through the same ledger without a flush, and
prior runs' rows are always on disk. The tradeoff vs the reference's
per-event BigQuery insert is crash durability of the CURRENT stage's
buffer — acceptable for a control table that is rebuilt by rerunning
the idempotent stage.
"""

from __future__ import annotations

import os
import threading
import traceback
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.schemas import AUDIT_LOG, PIPELINE_LOGS


class _BufferedAppender:
    """Shared buffer-then-batch-append machinery for control tables."""

    def __init__(self, spark: SparkSession, path: str, schema):
        self.spark = spark
        self.path = path
        self.schema = schema
        self._buf: list[tuple] = []

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def flush(self) -> None:
        """Write all buffered rows as ONE append job."""
        if not self._buf:
            return
        rows, self._buf = self._buf, []
        # repartition(1), NOT coalesce(1): one file per flush either way,
        # but coalesce on a LocalRelation plans ~10x slower here (measured
        # ~5s vs ~0.5s per append on local[32] with AQE on)
        self.spark.createDataFrame(rows, self.schema).repartition(1).write.mode(
            "append"
        ).parquet(self.path)

    def read(self) -> DataFrame:
        self.flush()
        if not self._exists():
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)


class AuditLedger(_BufferedAppender):
    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, os.path.join(root, "audit_log"), AUDIT_LOG)
        # (data_source, tablename) -> last successful load_timestamp;
        # None until the first lookup. Landing threads look up at once,
        # so the load and every update hold the lock.
        self._watermarks: dict[tuple[str, str], datetime] | None = None
        self._lock = threading.Lock()

    def record(
        self,
        data_source: str,
        tablename: str,
        load_type: str,
        record_count: int,
        status: str,
        when: datetime | None = None,
    ) -> None:
        when = when or datetime.now(timezone.utc).replace(tzinfo=None)
        self._buf.append(
            (data_source, tablename, load_type, record_count, when, status)
        )
        if status == "success":
            with self._lock:
                if self._watermarks is not None:
                    self._advance((data_source, tablename), when)

    def _advance(self, key: tuple[str, str], when: datetime) -> None:
        prev = self._watermarks.get(key)
        if prev is None or when > prev:
            self._watermarks[key] = when

    def last_watermark(self, data_source: str, tablename: str):
        """MAX(load_timestamp) of successful loads for (source, table).
        Only the first call runs a Spark job (see the module docstring)."""
        with self._lock:
            if self._watermarks is None:
                self._watermarks = {}
                if self._exists():
                    rows = (
                        self.spark.read.schema(self.schema)
                        .parquet(self.path)
                        .filter(F.col("status") == "success")
                        .groupBy("data_source", "tablename")
                        .agg(F.max("load_timestamp"))
                        .collect()
                    )
                    self._watermarks = {(r[0], r[1]): r[2] for r in rows}
                for ds, table, _, _, when, status in self._buf:
                    if status == "success":
                        self._advance((ds, table), when)
            return self._watermarks.get((data_source, tablename))


class PipelineLogger(_BufferedAppender):
    """Structured logs to console + parquet (C3)."""

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(
            spark, os.path.join(root, "pipeline_logs"), PIPELINE_LOGS
        )

    def log(
        self,
        event_type: str,
        message: str,
        step: str = "",
        tablename: str = "",
        error: BaseException | None = None,
    ) -> None:
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        trace = "".join(traceback.format_exception(error)) if error else None
        print(f"[{now:%H:%M:%S}] {event_type} {step}/{tablename}: {message}")
        self._buf.append((now, event_type, message, step, tablename, trace))
