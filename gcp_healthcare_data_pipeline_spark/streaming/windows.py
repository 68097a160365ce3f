"""Structured Streaming windowed aggregations over the events stream.

Net-new capability (the reference has no streaming — SURVEY §2.9): the
same event analytics as queries/event_queries.py expressed as streaming
plans with event-time watermarks, so late data is handled and state is
bounded. Batch and streaming share window semantics; the batch queries
are the oracle-checked twins.

Source: the parquet ``events`` table read as a stream (file-source
micro-batches); on a real deployment the source swaps for Kafka/rate
without touching the aggregation logic. ``ts`` becomes a proper
event-time column via ``session.event_time_col`` (encoding-dispatched:
raw-nanos BIGINT and TIMESTAMP/TIMESTAMP_NTZ parquet both work).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.session import event_time_col


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events parquet with a real event-time
    column."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file-source streams take a directory; pathGlobFilter narrows it to
    # the events table (testdata keeps one file per table in one dir)
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return df.withColumn("event_time", event_time_col(df))


def tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling event-time window counts per event type, late data bounded
    by the watermark (state is dropped once the watermark passes)."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_rates(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding window error-rate monitor (overlapping windows)."""
    n_err = F.count(F.when(F.col("event_type") == "error", F.lit(1)))
    n_all = F.count(F.lit(1))
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window, slide).alias("w"))
        .agg(
            n_all.alias("n_events"),
            n_err.alias("n_errors"),
            F.round(n_err * F.lit(100.0) / n_all, 4).alias("error_pct"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events", "n_errors", "error_pct",
        )
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Native streaming session windows per user (F.session_window) — the
    streaming twin of the batch lag/cumsum sessionization
    (queries/event_queries.py:q_events_sessionize)."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id", "n_events", "total_value",
        )
    )

