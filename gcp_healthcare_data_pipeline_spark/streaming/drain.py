"""Run a stream to completion: every drain in the engine goes through here.

A drain starts its writer with an ``availableNow`` trigger (process
everything pending, then stop) at the state width and waits for it
(:func:`run_available`). :func:`drain` is the memory-sink form the
queries and tests read results from; foreachBatch and file sinks pass
their configured writer to :func:`run_available`.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

# Cap on the drains' stateful-operator width. Every stateful streaming
# stage (windowed agg, dropDuplicates, stream-stream join) keeps one
# state store PER shuffle partition PER stateful operator, and every
# micro-batch loads and commits each store in its own task; the count is
# frozen into the checkpoint at the first batch. A width above the
# session's task slots buys no parallelism, only more waves of
# state-store tasks over the same cores (8 stores on local[2] run in 4
# waves), so the width follows the session's shuffle partitions (its
# cores) up to this cap. Wider sessions stay at the cap: at 32 the two
# stream-stream joins spent ~12 s each initializing and committing 32x4
# join state stores for a 60-row result, 3-4 s at 8 with identical
# output (r14, A/B-measured). Batch work planned after the drain sees
# the session's own width again.
_STATE_PARTITIONS = 8


def run_available(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Start ``writer`` with an availableNow trigger and wait until it has
    processed everything pending, with ``spark.sql.shuffle.partitions``
    scoped to the session's width capped at ``_STATE_PARTITIONS``
    (restored on every exit)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    width = min(_STATE_PARTITIONS, int(prev))
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def drain(stream_df: DataFrame, mode: str = "update") -> DataFrame:
    """Drain ``stream_df`` into a memory sink and return its rows."""
    spark = stream_df.sparkSession
    name = f"drain_{uuid.uuid4().hex[:10]}"
    try:
        run_available(
            spark,
            stream_df.writeStream.format("memory").queryName(name)
            .outputMode(mode),
        )
        # copy the rows out of the sink, then drop its table (finally):
        # the sink registration is permanent otherwise, so a long session
        # (the 600-cell --all-sf sweep) accumulates one pinned result
        # table per drain until the heap dies; the checkpoint blocks,
        # unlike the sink table, are released when the frame is GC'd
        return spark.sql(f"SELECT * FROM {name}").localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)
