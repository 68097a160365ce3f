"""applyInPandasWithState: state must accumulate ACROSS micro-batches.

The events table is re-written as two parquet files; maxFilesPerTrigger=1
forces two micro-batches, so final per-user profiles are only correct if
state survives between batches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.session import event_ts_us
from gcp_healthcare_data_pipeline_spark.streaming.stateful import (
    running_user_profiles,
)

SF_DIR = "/root/testdata/sf0.001"


def test_state_accumulates_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "events_split")
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch = batch.withColumn("ts_us", event_ts_us(batch))
    batch.select("user_id", "value", "ts_us", "event_id").repartition(
        2
    ).write.parquet(src)

    stream = (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_user_profiles(stream)
        .writeStream.format("memory")
        .queryName("t_profiles")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM t_profiles")
    # several emissions per user (one per micro-batch containing it);
    # the final (max n_events) row must equal the batch ground truth
    final = {
        r.user_id: r
        for r in out.orderBy("n_events").collect()  # later rows overwrite
    }
    truth = {
        r.user_id: r
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("tot"),
            F.max("ts_us").alias("last"),
        )
        .collect()
    }
    assert set(final) == set(truth)
    multi_emit = out.groupBy("user_id").count().filter("count > 1").count()
    assert multi_emit > 0  # proves more than one micro-batch touched a user
    for uid, r in final.items():
        t = truth[uid]
        assert r.n_events == t.n
        assert r.total_value == pytest.approx(t.tot, abs=0.011)
        assert r.last_ts_us == t.last


def test_event_time_timeout_flushes_each_key_once(spark):
    """EventTimeTimeout: every key whose timeout the final watermark
    passes emits exactly one summary row matching the batch totals; the
    watermark-tail key (owner of the global max event time) is withheld
    by design."""
    from pyspark.sql import functions as F

    from gcp_healthcare_data_pipeline_spark.session import (
        event_time_col,
        event_ts_us,
    )
    from gcp_healthcare_data_pipeline_spark.streaming.drain import drain
    from gcp_healthcare_data_pipeline_spark.streaming.stateful import (
        profiles_on_timeout,
    )
    from gcp_healthcare_data_pipeline_spark.streaming.windows import (
        read_events_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = read_events_stream(spark, sf)
    stream = (
        ev.withColumn("ts_us", event_ts_us(ev))
        .withWatermark("event_time", "1 minute")
        .select("user_id", "value", "ts_us", "event_time")
    )
    out = drain(profiles_on_timeout(stream), mode="append")
    got = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    # exactly-once per emitted key
    assert len(got) == out.count()

    batch = spark.read.parquet(f"{sf}/events.parquet")
    batch = batch.withColumn("t", event_time_col(batch))
    per_user = (
        batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("tv"),
            F.max("t").alias("last_t"),
        )
        .collect()
    )
    max_t = max(r.last_t for r in per_user)
    for r in per_user:
        if r.user_id in got:
            assert got[r.user_id] == (r.n, r.tv)
        else:
            # only tail keys may be withheld: their timeout (last event
            # + 1ms) is not passed by the final watermark (max - 1min)
            assert (max_t - r.last_t).total_seconds() <= 60
