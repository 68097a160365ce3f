"""Checkpoint-resumed incremental file ingestion (streaming backfill).

The streaming twin of the reference's audit-ledger watermark loads
(reference hospitalA_mysqlToLanding.py:124-137 tracks MAX(load_timestamp)
to re-read only new rows): a file-source stream with a checkpoint tracks
WHICH FILES it has consumed, so each invocation processes exactly the
files that arrived since the last run — no audit bookkeeping code, no
reprocessing, exactly-once into the sink even across process restarts.

``Trigger.AvailableNow`` makes this a *bounded* incremental batch: drain
everything currently available, then stop. Run it from cron/Airflow on
any cadence; Spark's checkpoint (WAL of seen files + sink epochs) is the
watermark ledger. At 100 TB-scale ingest the file listing is the only
per-run overhead that grows with history — cap it with retention or
``cleanSource``; processing cost is proportional to NEW data only.

tests/test_stream_backfill.py pins the contract: two runs with files
arriving in between produce exactly-once union output; an idle rerun
appends nothing; killing the query between runs loses nothing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gcp_healthcare_data_pipeline_spark.streaming.drain import run_available


def run_incremental(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    source_format: str = "parquet",
) -> int:
    """One bounded incremental pass: ingest files under ``source_dir``
    not yet recorded in the checkpoint, apply ``transform``, append to
    the parquet ``sink_dir``. Returns rows processed this pass.

    Append-mode sink + file-source WAL = exactly-once for deterministic
    transforms: a crash after the sink commit but before checkpoint
    advance is reconciled by Spark's epoch tracking on restart.
    """
    import os

    before = (
        spark.read.parquet(sink_dir).count()
        if os.path.isdir(sink_dir)
        else 0
    )
    reader = spark.readStream.schema(schema).format(source_format)
    df = reader.load(source_dir)
    if transform is not None:
        df = transform(df)
    run_available(
        spark,
        df.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append"),
    )
    # recentProgress is not reliably retained after termination; the
    # sink delta is the ground truth for "rows processed this pass"
    return spark.read.parquet(sink_dir).count() - before
