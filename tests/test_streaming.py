"""Streaming window tests: drain the events stream with availableNow and
cross-check the tumbling aggregation against the oracle-backed batch twin;
the drain's state-width and cleanup contract."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from gcp_healthcare_data_pipeline_spark.queries.event_queries import (
    q_events_tumbling,
)
from gcp_healthcare_data_pipeline_spark.streaming.drain import drain
from gcp_healthcare_data_pipeline_spark.streaming.windows import (
    read_events_stream,
    session_aggregates,
    sliding_rates,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_tumbling_matches_batch(spark):
    stream = read_events_stream(spark, SF_DIR)
    out = drain(tumbling_counts(stream), mode="complete")
    got = {
        (int(r.window_start.timestamp()), r.event_type): (r.n_events, r.total_value)
        for r in out.collect()
    }
    batch = {
        (r.bucket_start, r.event_type): (r.n_events, r.total_value)
        for r in q_events_tumbling(spark, SF_DIR).collect()
    }
    assert got == batch


def test_streaming_sliding_windows_overlap(spark):
    stream = read_events_stream(spark, SF_DIR)
    out = drain(sliding_rates(stream), mode="complete")
    rows = out.collect()
    assert len(rows) > 0
    starts = sorted(int(r.window_start.timestamp()) for r in rows)
    # 10-min windows sliding every 5 min: adjacent starts differ by 300s
    assert any(b - a == 300 for a, b in zip(starts, starts[1:]))
    total_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    # each event lands in exactly 2 overlapping windows
    assert sum(r.n_events for r in rows) == 2 * total_events


def test_streaming_session_windows(spark):
    stream = read_events_stream(spark, SF_DIR)
    out = drain(session_aggregates(stream), mode="complete")
    rows = out.collect()
    assert len(rows) > 0
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert sum(r.n_events for r in rows) == ev.count()
    # sessions per user are non-overlapping and respect the 30-min gap
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(
            (r.session_start.timestamp(), r.session_end.timestamp())
        )
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert s2 >= e1  # ordered, non-overlapping
            assert s2 - e1 >= 0  # separated by at least the closed gap


class _StateWidths(StreamingQueryListener):
    """Every progress event's stateful-operator widths; ``done`` is set
    once the query terminates (events arrive on Spark's listener bus,
    after ``awaitTermination`` returns)."""

    def __init__(self):
        self.widths: list[int] = []
        self.done = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.widths += [
            s.numShufflePartitions for s in event.progress.stateOperators
        ]

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.done.set()


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("session_width, state_width", [(4, 4), (32, 8)])
def test_drain_state_width_follows_session_up_to_cap(
    spark, session_width, state_width
):
    """The state stores number the session's shuffle partitions, capped
    at 8 (tasks, not threads: local[4] runs 8 stores in two waves)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    views = _temp_views(spark)
    listener = _StateWidths()
    spark.streams.addListener(listener)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(session_width))
        drain(tumbling_counts(read_events_stream(spark, SF_DIR)))
        assert listener.done.wait(60)
        width = spark.conf.get("spark.sql.shuffle.partitions")
        assert width == str(session_width)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert listener.widths and set(listener.widths) == {state_width}
    assert _temp_views(spark) == views


def test_drain_restores_session_when_query_raises(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    views = _temp_views(spark)
    failing = read_events_stream(spark, SF_DIR).select(
        F.when(F.col("event_id") >= 0, F.raise_error(F.lit("drain boom")))
        .alias("x")
    )
    with pytest.raises(Exception, match="drain boom"):
        drain(failing, mode="append")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert _temp_views(spark) == views
