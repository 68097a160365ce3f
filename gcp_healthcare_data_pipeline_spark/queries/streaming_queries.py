"""Streaming queries runnable under the oracle gate.

Structured Streaming plans drained with an availableNow trigger into a
memory sink; the final materialized state is deterministic, so the batch
SQL twin serves as the oracle. Deeper multi-batch behavior (state across
micro-batches, watermarks, session windows) is covered in
tests/test_streaming.py and tests/test_stateful_streaming.py.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.queries.dedup_queries import (
    # same contract as the semdedup alias below: the streaming text
    # screen's oracle IS the batch incremental screen's, verbatim
    _ORACLE_DEDUP_INCREMENTAL as _ORACLE_STREAM_TEXT_DEDUP,
)
from gcp_healthcare_data_pipeline_spark.queries.registry import (
    QuerySpec,
    exit_tempdir,
)
from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (
    # the streaming screen's oracle IS the batch incremental screen's:
    # micro-batched delivery against frozen standing state changes
    # nothing about the result (see q_stream_semdedup)
    _ORACLE_SEMDEDUP_INCREMENTAL as _ORACLE_STREAM_SEMDEDUP,
)
from gcp_healthcare_data_pipeline_spark.session import event_ts_us, load_tables
from gcp_healthcare_data_pipeline_spark.streaming.drain import (
    drain,
    run_available,
)
from gcp_healthcare_data_pipeline_spark.streaming.stateful import (
    running_user_profiles,
)
from gcp_healthcare_data_pipeline_spark.streaming.windows import (
    read_events_stream,
    session_aggregates,
    sliding_rates,
    tumbling_counts,
)


def _land(stage: str, src: str, tag: str) -> None:
    """Move the parquet part files Spark wrote under ``stage`` into the
    watched dir ``src`` as ``<tag>_<i>.parquet``, then drop ``stage``.
    New files must appear in the watched dir's root: file-stream sources
    don't recurse into non-partition subdirs."""
    parts = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    for i, f in enumerate(parts):
        shutil.move(
            os.path.join(stage, f), os.path.join(src, f"{tag}_{i}.parquet")
        )
    shutil.rmtree(stage, ignore_errors=True)


def q_stream_stateful_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState per-user running profile, drained to its
    final state (== the batch aggregate for a bounded input)."""
    ev = read_events_stream(spark, sf_dir)
    ev = ev.withColumn("ts_us", event_ts_us(ev))
    out = drain(running_user_profiles(ev))
    # keep only each user's final emission (update-mode sinks append one
    # row per micro-batch that touched the key)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_value", "last_ts_us")
    )


_ORACLE_STREAM_STATEFUL = """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value,
       MAX(epoch_us(ts)) AS last_ts_us
FROM events
GROUP BY 1
"""


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation drained to completion;
    windows exported as epoch seconds for the compare."""
    ev = read_events_stream(spark, sf_dir)
    out = drain(tumbling_counts(ev))
    return out.select(
        F.unix_timestamp("window_start").cast("bigint").alias("bucket_start"),
        "event_type",
        "n_events",
        "total_value",
    )


_ORACLE_STREAM_TUMBLING = """
SELECT
  CAST(FLOOR(epoch_us(ts) / 300000000) * 300 AS BIGINT) AS bucket_start,
  event_type,
  COUNT(*) AS n_events,
  ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window error-rate monitor (10-min windows every
    5 min — each event lands in two overlapping windows), drained in
    complete mode so the sink holds the final full window state."""
    ev = read_events_stream(spark, sf_dir)
    out = drain(sliding_rates(ev), mode="complete")
    return out.select(
        F.unix_timestamp("window_start").cast("bigint").alias("window_start"),
        "n_events",
        "n_errors",
        "error_pct",
    )


# batch twin: explode each event into its two covering window starts
_ORACLE_STREAM_SLIDING = """
WITH e AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 300000000) * 300 AS BIGINT) AS base,
         event_type
  FROM events
), exploded AS (
  SELECT base - 300 AS window_start, event_type FROM e
  UNION ALL
  SELECT base AS window_start, event_type FROM e
)
SELECT window_start,
       COUNT(*) AS n_events,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
       ROUND(COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 100.0
             / COUNT(*), 4) AS error_pct
FROM exploded
GROUP BY 1
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows per user (F.session_window,
    30-min gap), drained in complete mode. The batch lag/cumsum
    sessionization defines the same sessions, so its SQL is the oracle:
    session start = first event, end = last event + gap."""
    ev = read_events_stream(spark, sf_dir)
    out = drain(session_aggregates(ev), mode="complete")
    return out.select(
        "user_id",
        F.unix_timestamp("session_start").cast("bigint").alias("start_s"),
        F.unix_timestamp("session_end").cast("bigint").alias("end_s"),
        "n_events",
        "total_value",
    )


_ORACLE_STREAM_SESSION = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
), lagged AS (
  SELECT *,
    LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
  FROM e
), flagged AS (
  SELECT *,
    CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0
      END AS new_session
  FROM lagged
), sess AS (
  SELECT *,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      AS session_idx
  FROM flagged
)
SELECT user_id,
  CAST(FLOOR(MIN(ts_us) / 1000000.0) AS BIGINT) AS start_s,
  CAST(FLOOR((MAX(ts_us) + 1800000000) / 1000000.0) AS BIGINT) AS end_s,
  COUNT(*) AS n_events,
  ROUND(SUM(value), 2) AS total_value
FROM sess
GROUP BY user_id, session_idx
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicatesWithinWatermark`` on a
    synthetic duplicate-bearing key (event_id DIV 2 collapses adjacent
    ids), then per-type counts of the surviving stream. The state store
    holds only keys inside the watermark horizon — the unbounded-stream
    analog of exact dedup."""
    ev = read_events_stream(spark, sf_dir)
    # the dedup key includes event_type, so whichever duplicate row the
    # state store happens to see first, the surviving (type, count)
    # distribution is identical — the oracle never depends on arrival
    # order across input splits
    deduped = (
        ev.withColumn("dup_key", F.expr("event_id DIV 2"))
        .withWatermark("event_time", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_type", "dup_key"])
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique_events")
    )
    out = drain(agg)
    # update-mode sink: keep each type's final (largest) count emission
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_unique_events").desc()
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_type", "n_unique_events")
    )


# batch twin: one survivor per (event_type, dup_key) — a pure DISTINCT,
# independent of which physical row the stream's state store kept
_ORACLE_STREAM_DEDUP = """
SELECT event_type,
       CAST(COUNT(DISTINCT event_id // 2) AS BIGINT) AS n_unique_events
FROM events
GROUP BY 1
"""


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (broadcast per micro-batch — the dimension never
    becomes stream state), then per-segment revenue-weighted counts."""
    ev = read_events_stream(spark, sf_dir)
    customer = (
        load_tables(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    joined = ev.withColumn(
        "cust_key", (F.col("user_id") % 1000) + 1
    ).join(F.broadcast(customer), "cust_key")
    agg = joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    out = drain(agg)
    w = Window.partitionBy("segment").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("segment", "n_events", "total_value")
    )


_ORACLE_STREAM_STATIC_JOIN = """
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(e.value), 2) AS total_value
FROM events e
JOIN customer c ON c.c_custkey = (e.user_id % 1000) + 1
GROUP BY 1
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: view->purchase attribution
    within a 10-minute horizon.

    Both sides carry watermarks and the join condition bounds event time
    (``buy_time`` within [view_time, view_time + 10 min]), so each side's
    buffered state is evictable once the watermark passes — the property
    that makes stream-stream joins feasible on unbounded input. Drained
    in append mode (the only mode stream-stream joins support), then
    batch-aggregated per user.
    """
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", "10 minutes")
    )
    buys = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_time").alias("buy_time"),
            F.col("value").alias("buy_value"),
        )
        .withWatermark("buy_time", "10 minutes")
    )
    joined = views.join(
        buys,
        F.expr(
            "user_id = b_user AND buy_time >= view_time "
            "AND buy_time <= view_time + interval 10 minutes"
        ),
        "inner",
    )
    out = drain(joined, mode="append")
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("buy_value"), 2).alias("total_attr_value"),
    )


_ORACLE_STREAM_STREAM_JOIN = """
SELECT v.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(SUM(b.value), 2) AS total_attr_value
FROM events v
JOIN events b
  ON b.user_id = v.user_id
 AND v.event_type = 'view' AND b.event_type = 'purchase'
 AND epoch_us(b.ts) >= epoch_us(v.ts)
 AND epoch_us(b.ts) <= epoch_us(v.ts) + 600000000
GROUP BY 1
"""


def q_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: view->purchase
    attribution where views with NO purchase in the 10-minute horizon
    are also emitted (NULL-extended) — the state semantics inner joins
    don't exercise: an unmatched left row may only emit once the
    watermark proves no future match can arrive.

    Rows whose join horizon ends near the stream tail are withheld by
    design: the GLOBAL watermark is the MIN across both streams'
    watermarks (here purchases end 32 min before views, so it lags the
    view clock), and an unmatched view emits only once that watermark
    passes ``view_time + horizon`` — measured boundary =
    ``least(max_view, max_buy) - 20 min``. The comparison therefore uses
    the STABLE REGION: ``view_time <= least(max_view, max_buy) - 30
    min`` (boundary + 10-min margin), where emission is guaranteed.
    Matched rows match the batch twin everywhere; the stable-region
    filter only trims the tail of the unmatched side.
    """
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_event_id"),
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", "10 minutes")
    )
    buys = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_time").alias("buy_time"),
            F.col("value").alias("buy_value"),
        )
        .withWatermark("buy_time", "10 minutes")
    )
    joined = views.join(
        buys,
        F.expr(
            "user_id = b_user AND buy_time >= view_time "
            "AND buy_time <= view_time + interval 10 minutes"
        ),
        "leftOuter",
    )
    out = drain(joined, mode="append")
    batch_ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from gcp_healthcare_data_pipeline_spark.session import (  # noqa: PLC0415
        event_time_col,
    )

    t = event_time_col(batch_ev)
    cutoff = batch_ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "view", t)),
                F.max(F.when(F.col("event_type") == "purchase", t)),
            )
            - F.expr("interval 30 minutes")
        ).alias("cut")
    )
    return (
        out.crossJoin(F.broadcast(cutoff))
        .filter(F.col("view_time") <= F.col("cut"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.sum(F.col("buy_time").isNull().cast("bigint")).alias(
                "n_unconverted"
            ),
            F.round(F.coalesce(F.sum("buy_value"), F.lit(0.0)), 2).alias(
                "attr_value"
            ),
        )
    )


_ORACLE_STREAM_LEFT_JOIN = """
WITH v AS (
  SELECT user_id, event_id, ts AS view_time FROM events
  WHERE event_type = 'view'
), b AS (
  SELECT user_id AS b_user, ts AS buy_time, value AS buy_value
  FROM events WHERE event_type = 'purchase'
), cut AS (
  SELECT LEAST(
           MAX(CASE WHEN event_type = 'view' THEN ts END),
           MAX(CASE WHEN event_type = 'purchase' THEN ts END)
         ) - INTERVAL 30 MINUTE AS c
  FROM events
), j AS (
  SELECT v.user_id, v.view_time, b.buy_time, b.buy_value
  FROM v LEFT JOIN b
    ON v.user_id = b.b_user
   AND epoch_us(b.buy_time) >= epoch_us(v.view_time)
   AND epoch_us(b.buy_time) <= epoch_us(v.view_time) + 600000000
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(SUM(CASE WHEN buy_time IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unconverted,
       ROUND(COALESCE(SUM(buy_value), 0.0), 2) AS attr_value
FROM j CROSS JOIN cut
WHERE epoch_us(view_time) <= epoch_us(c)
GROUP BY 1
"""


def q_stream_timeout_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flush-on-expiry stateful operator (GroupStateTimeout.
    EventTimeTimeout): each user's totals accumulate SILENTLY across
    micro-batches and emit exactly once when the event-time watermark
    passes the key's timeout — the TTL'd-state shape (abandoned-cart
    emission, idle-session close) that update-every-batch operators
    can't express. streaming/stateful.py:profiles_on_timeout.

    Keys in the watermark tail (last event within ~1 timeout+delay of
    the stream max) are withheld by design — the final watermark never
    passes their timeout — so the oracle compares the STABLE REGION:
    users whose last event is ≥ 2 minutes before the stream max.
    tests/test_stateful_streaming.py pins the full exactly-once and
    tail-withholding contract.
    """
    from gcp_healthcare_data_pipeline_spark.session import (  # noqa: PLC0415
        event_time_col,
    )
    from gcp_healthcare_data_pipeline_spark.streaming.stateful import (  # noqa: PLC0415
        profiles_on_timeout,
    )

    ev = read_events_stream(spark, sf_dir)
    stream = (
        ev.withColumn("ts_us", event_ts_us(ev))
        .withWatermark("event_time", "1 minute")
        .select("user_id", "value", "ts_us", "event_time")
    )
    out = drain(profiles_on_timeout(stream), mode="append")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = event_time_col(batch)
    stable_users = (
        batch.select("user_id", t.alias("t"))
        .groupBy("user_id")
        .agg(F.max("t").alias("last_t"))
        .crossJoin(
            F.broadcast(
                batch.agg(
                    (F.max(t) - F.expr("interval 2 minutes")).alias("cut")
                )
            )
        )
        .filter(F.col("last_t") <= F.col("cut"))
        .select("user_id")
    )
    return out.join(F.broadcast(stable_users), "user_id").select(
        "user_id", "n_events", "total_value"
    )


_ORACLE_STREAM_TIMEOUT_FLUSH = """
WITH cut AS (
  SELECT MAX(ts) - INTERVAL 2 MINUTE AS c FROM events
)
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events CROSS JOIN cut
GROUP BY user_id, c
HAVING MAX(ts) <= c
"""


def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events stream through the idempotent foreachBatch keyed
    upsert sink (streaming/sinks.py) and return the sink's final state:
    exactly one row per user — the latest event by (event_time,
    event_id). The batch arg-max twin is the oracle; replay-idempotence
    and crash semantics are pinned in tests/test_streaming_sinks.py.
    """
    from gcp_healthcare_data_pipeline_spark.streaming.sinks import (  # noqa: PLC0415
        read_upsert_target,
        stream_upsert_to_parquet,
    )

    work = exit_tempdir("q_stream_upsert_")
    ev = read_events_stream(spark, sf_dir)
    stream = ev.select(
        "user_id", "event_id", "event_type", "value",
        event_ts_us(ev).alias("ts_us"),
    ).withColumn(
        # deterministic replacement order even on event-time ties
        "_ord", F.struct(F.col("ts_us"), F.col("event_id"))
    )
    stream_upsert_to_parquet(
        stream, f"{work}/target", ["user_id"], "_ord", f"{work}/ckpt"
    )
    return read_upsert_target(spark, f"{work}/target").select(
        "user_id", "event_id", "event_type",
        F.round("value", 2).alias("value"), "ts_us",
    )


_ORACLE_STREAM_UPSERT = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, ROUND(value, 2) AS value, ts_us
FROM ranked WHERE rn = 1
"""


def q_stream_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resumed incremental ingestion, end-to-end: land half
    the events as files, drain them with a bounded availableNow pass
    (streaming/backfill.py), land the other half into the SAME watched
    directory, drain again from the SAME checkpoint, then aggregate the
    sink. Exactly-once across the two runs is what the oracle checks —
    any reprocessing of the first batch by the second pass would double
    counts and break the hash match. Restart-loss and idle-rerun
    contracts are pinned in tests/test_stream_backfill.py.
    """
    from gcp_healthcare_data_pipeline_spark.streaming.backfill import (  # noqa: PLC0415
        run_incremental,
    )

    work = exit_tempdir("q_stream_backfill_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    ev = load_tables(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    stage = os.path.join(work, "stage")
    sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
    for tag, parity in (("b1", 0), ("b2", 1)):
        ev.filter(F.col("event_id") % 2 == parity).write.parquet(stage)
        _land(stage, src, tag)
        run_incremental(spark, src, sink, ckpt, ev.schema)
    return (
        spark.read.parquet(sink)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


_ORACLE_STREAM_BACKFILL = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1
"""


def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 maintenance under streaming delivery — the reference's
    core MERGE operator (silver.sql:142-199) fed by a change-data stream
    instead of batch runs: streaming/sinks.py:apply_scd2_batch composes
    operators/scd2.py with the idempotent ledger + two-rename swap sink.

    Two change batches land as files and drain through ONE checkpoint
    (exactly-once across restarts, like q_stream_backfill): batch 0 is
    the initial customer snapshot; batch 1 updates every c_custkey % 3
    key (segment + balance change -> expire under strict reference
    semantics) and replays every c_custkey % 5 key unchanged (no-op
    path: matched but no tracked column differs). The batch timestamp is
    keyed on batch_id, so replays are byte-identical. The oracle derives
    the same end state directly; replay-idempotence and crash recovery
    are pinned in tests/test_streaming_sinks.py.
    """
    from datetime import datetime, timedelta  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.streaming.sinks import (  # noqa: PLC0415
        read_upsert_target,
        stream_scd2_to_parquet,
    )

    work = exit_tempdir("q_stream_scd2_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    cust = load_tables(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_key"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    changed = cust.filter(F.col("customer_key") % 3 == 0).select(
        "customer_key",
        F.concat(F.col("segment"), F.lit(" rev2")).alias("segment"),
        (F.col("acctbal") + 10.0).alias("acctbal"),
    )
    unchanged = cust.filter(
        (F.col("customer_key") % 5 == 0) & (F.col("customer_key") % 3 != 0)
    )
    stage = os.path.join(work, "stage")
    for tag, batch in (("b1", cust), ("b2", changed.unionByName(unchanged))):
        batch.write.parquet(stage)
        _land(stage, src, tag)
        stream_scd2_to_parquet(
            spark.readStream.schema(cust.schema).parquet(src),
            os.path.join(work, "target"),
            ["customer_key"],
            ["segment", "acctbal"],
            lambda bid: datetime(2025, 1, 1) + timedelta(days=bid),
            os.path.join(work, "ckpt"),
        )
    return read_upsert_target(spark, os.path.join(work, "target")).select(
        "customer_key",
        "segment",
        F.round("acctbal", 2).alias("acctbal"),
        "inserted_date",
        "modified_date",
        "is_current",
    )


# strict reference semantics: batch-1 changes EXPIRE the current row
# (modified_date advances, is_current false) without re-inserting the
# new version; unchanged batch-1 rows are no-ops
_ORACLE_STREAM_SCD2 = """
SELECT c_custkey AS customer_key,
       c_mktsegment AS segment,
       ROUND(c_acctbal, 2) AS acctbal,
       TIMESTAMP '2025-01-01' AS inserted_date,
       CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '2025-01-02'
            ELSE TIMESTAMP '2025-01-01' END AS modified_date,
       c_custkey % 3 <> 0 AS is_current
FROM customer
"""


def q_stream_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SEMANTIC dedup — the q_semdedup_incremental screen run
    as a foreachBatch micro-batch handler over a delta-vector FILE
    STREAM: the shape a continuously-ingesting training-data pipeline
    actually deploys. The standing state (centroid table, super-count
    frame, survivor set) is LOADED from the session's committed
    versioned warehouse tables
    (vector_queries.standing_semdedup_tables — the same nightly load
    half q_index_roundtrip gates), never re-derived from the corpus
    inside the stream: the index build is a separate job, and this
    query's per-invocation cost is load + route + screen ∝ |delta|.
    Each arriving micro-batch routes through the SAME standing
    centroids and screens only against its routed clusters' survivors.

    The delta lands as two id-hash files drained with
    ``maxFilesPerTrigger=1``, so the handler demonstrably runs per
    micro-batch; the screen is per-row independent given the frozen
    standing state, so the union of micro-batch outputs EQUALS the
    batch screen and the oracle is q_semdedup_incremental's, verbatim
    (the strongest statement available: streaming delivery changes
    nothing about the result — and parquet round-trips doubles
    bit-exactly, so loading the state changes nothing either, the
    q_index_roundtrip equality). Screen body, routing and standing
    state are the SAME definitions the batch queries use
    (vector_queries._semdedup_screen/_route_batch/
    standing_semdedup_tables) — one definition, zero drift."""
    import tempfile  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.functions.vectors import (  # noqa: PLC0415
        as_double,
    )
    from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (  # noqa: PLC0415
        _route_batch,
        _semdedup_screen,
        standing_semdedup_tables,
    )

    loaded = standing_semdedup_tables(spark, sf_dir)
    # pin the loaded tables in executor memory once before the stream:
    # they are small (centroids ~sqrt(n) rows, survivors the screened
    # corpus), and an eager checkpoint spares every micro-batch the
    # file-source re-resolution — the per-batch plan starts from an
    # in-memory scan
    centroids = loaded["centroids"].localCheckpoint(eager=True)
    # the standing super-count frame: each micro-batch routes with the
    # SAME m the full-delta batch route uses (derived from the standing
    # corpus — see _route_batch), so the union of micro-batch outputs
    # equals the batch screen at ANY scale, not just where the k floor
    # hides the difference (review finding)
    m_frame = loaded["m"].localCheckpoint(eager=True)
    survivors = loaded["survivors"].localCheckpoint(eager=True)

    work = tempfile.mkdtemp(prefix="q_stream_semdedup_")
    # everything below can raise (stream start, foreachBatch screen,
    # sink read) — reclaim the work dir on EVERY exit, not just the
    # happy path (r14 ADVICE: the dir leaked per failed call)
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)
        emb = load_tables(spark, sf_dir, "embeddings")
        delta = emb.filter(F.col("vec_id") % 10 == 0)
        # land the two micro-batch files in ONE job: partitionBy splits
        # the delta into _mb=0/_mb=1 dirs (the partition column stays in
        # the directory name, so the landed files keep the embeddings
        # schema the stream declares)
        stage = os.path.join(work, "stage")
        (
            delta.withColumn("_mb", F.col("vec_id") % 20 == 0)
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("_mb")
            .parquet(stage)
        )
        for tag, sub in (("even", "_mb=true"), ("odd", "_mb=false")):
            _land(os.path.join(stage, sub), src, tag)
        shutil.rmtree(stage, ignore_errors=True)

        sink = os.path.join(work, "sink")
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("vec_id", as_double("embedding").alias("v"))
        )

        def _screen_batch(bdf: DataFrame, _bid: int) -> None:
            ba = _route_batch(bdf.select("vec_id", "v"), centroids, m_frame)
            _semdedup_screen(ba, survivors).write.mode("append").parquet(sink)

        run_available(
            spark,
            stream.writeStream.foreachBatch(_screen_batch)
            .option("checkpointLocation", os.path.join(work, "ckpt")),
        )
        # pin the result in executor memory before the finally reclaims
        # the work dir (landed delta + checkpoint + sink would otherwise
        # persist per call for the machine's lifetime — review finding)
        return spark.read.parquet(sink).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_stream_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TEXT dedup — the q_dedup_incremental screen run as a
    foreachBatch micro-batch handler over a delta-document FILE STREAM:
    the continuously-ingesting twin of the r17 text-dedup lifecycle,
    mirroring what q_stream_semdedup is to the vector family. The
    standing state (md5 hash profile, MinHash band table, corpus
    shingle table) is LOADED from the session's committed versioned
    segment store (dedup_queries.standing_dedup_tables — the same
    nightly load half q_dedup_roundtrip gates), never re-derived inside
    the stream; the LSH epoch shape is pinned once before the stream
    starts, so every micro-batch bands with the corpus's (r, nb, k).

    The delta lands as two id-hash files drained with
    ``maxFilesPerTrigger=1``, so the handler demonstrably runs per
    micro-batch; the screen body (dedup_queries._screen_frame) is
    per-row independent given the frozen standing state, so the union
    of micro-batch outputs EQUALS the batch screen and the oracle is
    q_dedup_incremental's, verbatim. Screen body, epoch params and
    standing state are the SAME definitions the batch queries use —
    one definition, zero drift."""
    import tempfile  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.queries.dedup_queries import (  # noqa: PLC0415
        _corpus_lsh_params,
        _read_dedup_segments,
        _screen_frame,
        _standing_dedup_root,
        dedup_store_epoch,
    )

    root = _standing_dedup_root(spark, sf_dir)
    loaded = _read_dedup_segments(spark, root)
    # pin the loaded tables in executor memory once before the stream
    # (hash profile ~|corpus| tiny rows, band table nb·|corpus|): an
    # eager checkpoint spares every micro-batch the file-source
    # re-resolution — each per-batch plan starts from an in-memory scan
    state = {
        name: frame.localCheckpoint(eager=True)
        for name, frame in loaded.items()
    }
    # epoch shape read from the STORE's manifest before the stream: a
    # production screen bands with the shape the standing index was
    # built under (the EPOCH POLICY in operators.dedup.lsh_params),
    # never a per-batch rederive from the current corpus size
    params = dedup_store_epoch(root) or _corpus_lsh_params(spark, sf_dir)

    work = tempfile.mkdtemp(prefix="q_stream_text_dedup_")
    # everything below can raise (stream start, foreachBatch screen,
    # sink read) — reclaim the work dir on EVERY exit
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)
        docs = load_tables(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        delta = docs.filter(F.col("doc_id") % 10 == 0)
        # land the two micro-batch files in ONE job: partitionBy splits
        # the delta into _mb dirs (the partition column stays in the
        # directory name, so the landed files keep the (doc_id, text)
        # schema the stream declares)
        stage = os.path.join(work, "stage")
        (
            delta.withColumn("_mb", F.col("doc_id") % 20 == 0)
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("_mb")
            .parquet(stage)
        )
        for tag, sub in (("even", "_mb=true"), ("odd", "_mb=false")):
            _land(os.path.join(stage, sub), src, tag)
        shutil.rmtree(stage, ignore_errors=True)

        sink = os.path.join(work, "sink")
        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("doc_id", "text")
        )

        def _screen_batch(bdf: DataFrame, _bid: int) -> None:
            _screen_frame(bdf, state, params).write.mode("append").parquet(
                sink
            )

        run_available(
            spark,
            stream.writeStream.foreachBatch(_screen_batch)
            .option("checkpointLocation", os.path.join(work, "ckpt")),
        )
        # pin the result before the finally reclaims the work dir
        return spark.read.parquet(sink).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES = [
    QuerySpec(
        "q_stream_scd2", q_stream_scd2, _ORACLE_STREAM_SCD2,
        "J6 ext:streaming (SCD2 MERGE under streaming delivery)",
    ),
    QuerySpec(
        "q_stream_semdedup", q_stream_semdedup, _ORACLE_STREAM_SEMDEDUP,
        "ext:streaming ext:dedup (incremental semantic screen as a "
        "foreachBatch micro-batch body over a delta-vector file stream)",
    ),
    QuerySpec(
        "q_stream_text_dedup", q_stream_text_dedup,
        _ORACLE_STREAM_TEXT_DEDUP,
        "ext:streaming ext:dedup (incremental text screen — md5 exact + "
        "MinHash-LSH near — as a foreachBatch micro-batch body against "
        "the loaded standing segment store)",
    ),
    QuerySpec(
        "q_stream_stateful_profiles", q_stream_stateful_profiles,
        _ORACLE_STREAM_STATEFUL, "ext:streaming applyInPandasWithState",
    ),
    QuerySpec(
        "q_stream_backfill", q_stream_backfill, _ORACLE_STREAM_BACKFILL,
        "ext:streaming (checkpoint-resumed incremental file backfill)",
    ),
    QuerySpec(
        "q_stream_tumbling", q_stream_tumbling, _ORACLE_STREAM_TUMBLING,
        "ext:streaming withWatermark F.window",
    ),
    QuerySpec(
        "q_stream_sliding", q_stream_sliding, _ORACLE_STREAM_SLIDING,
        "ext:streaming sliding windows",
    ),
    QuerySpec(
        "q_stream_session", q_stream_session, _ORACLE_STREAM_SESSION,
        "ext:streaming F.session_window",
    ),
    QuerySpec(
        "q_stream_dedup", q_stream_dedup, _ORACLE_STREAM_DEDUP,
        "ext:streaming dropDuplicatesWithinWatermark",
    ),
    QuerySpec(
        "q_stream_static_join", q_stream_static_join,
        _ORACLE_STREAM_STATIC_JOIN, "ext:streaming stream-static join",
    ),
    QuerySpec(
        "q_stream_stream_join", q_stream_stream_join,
        _ORACLE_STREAM_STREAM_JOIN,
        "ext:streaming watermarked stream-stream interval join",
    ),
    QuerySpec(
        "q_stream_timeout_flush", q_stream_timeout_flush,
        _ORACLE_STREAM_TIMEOUT_FLUSH,
        "ext:streaming (EventTimeTimeout flush-on-expiry state)",
    ),
    QuerySpec(
        "q_stream_left_join", q_stream_left_join,
        _ORACLE_STREAM_LEFT_JOIN,
        "ext:streaming (LEFT OUTER stream-stream join, stable region)",
    ),
    QuerySpec(
        "q_stream_upsert", q_stream_upsert, _ORACLE_STREAM_UPSERT,
        "ext:streaming idempotent foreachBatch upsert sink",
    ),
]
