"""Input-contract test: event-time operators must produce IDENTICAL
results whether ``events.parquet`` stores ``ts`` as TIMESTAMP(NANOS)
(pyarrow's default for ns data — surfaced as raw-nanos BIGINT under the
``nanosAsLong`` conf), TIMESTAMP(MICROS) without timezone
(TIMESTAMP_NTZ — what the round-4 testdata regeneration produced), or
TIMESTAMP(MICROS) UTC-adjusted (TIMESTAMP — what Spark itself writes).

This is the test that would have caught the round-4 regression (all 13
event-time queries dying at analysis time on micros data) before the
driver did. See VERDICT.md r4 and session.event_ts_us.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gcp_healthcare_data_pipeline_spark.queries.event_queries import (
    q_events_sessionize,
    q_events_tumbling,
)
from gcp_healthcare_data_pipeline_spark.session import event_ts_us
from gcp_healthcare_data_pipeline_spark.streaming.drain import drain
from gcp_healthcare_data_pipeline_spark.streaming.windows import (
    read_events_stream,
    tumbling_counts,
)

# 1000s-of-seconds worth of events: several 5-min buckets, 3 users,
# deliberately includes sub-microsecond nanos (…500ns) to pin the
# truncation direction (DIV truncates, matching DuckDB epoch_us)
_BASE_NS = 1_700_000_100 * 1_000_000_000
_ROWS = [
    (i, _BASE_NS + i * 37_000_000_000 + 500, i % 3,
     ["view", "click", "error", "purchase"][i % 4], float(i) / 7.0, "{}")
    for i in range(60)
]
_NAMES = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _arrow_table(ts_type):
    cols = list(zip(*_ROWS))
    unit = {"ns": 1, "us": 1000}[ts_type.unit]
    return pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array([t // unit for t in cols[1]], ts_type),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )


@pytest.fixture(scope="module")
def encoded_dirs(tmp_path_factory):
    """Three sf-dir layouts, one per physical encoding of events.ts."""
    dirs = {}
    for name, ts_type in [
        ("nanos", pa.timestamp("ns")),
        ("micros_ntz", pa.timestamp("us")),
        ("micros_utc", pa.timestamp("us", tz="UTC")),
    ]:
        d = tmp_path_factory.mktemp(f"enc_{name}")
        # version 2.6 keeps ns as TIMESTAMP(NANOS) instead of coercing
        pq.write_table(
            _arrow_table(ts_type), str(d / "events.parquet"), version="2.6"
        )
        dirs[name] = str(d)
    return dirs


def test_physical_encodings_resolve_as_expected(spark, encoded_dirs):
    dtypes = {
        name: dict(spark.read.parquet(d + "/events.parquet").dtypes)["ts"]
        for name, d in encoded_dirs.items()
    }
    assert dtypes["nanos"] == "bigint"  # nanosAsLong conf path
    assert dtypes["micros_ntz"] == "timestamp_ntz"
    assert dtypes["micros_utc"] == "timestamp"


def test_event_ts_us_identical_across_encodings(spark, encoded_dirs):
    outs = {}
    for name, d in encoded_dirs.items():
        df = spark.read.parquet(d + "/events.parquet")
        outs[name] = {
            r.event_id: r.us
            for r in df.select(
                "event_id", event_ts_us(df).alias("us")
            ).collect()
        }
    assert outs["nanos"] == outs["micros_ntz"] == outs["micros_utc"]
    # truncation pinned: the +500ns tail drops, micros survive exactly
    assert outs["nanos"][1] == _BASE_NS // 1000 + 37_000_000


@pytest.mark.parametrize("q", [q_events_tumbling, q_events_sessionize])
def test_batch_queries_identical_across_encodings(spark, encoded_dirs, q):
    results = {
        name: sorted(map(tuple, q(spark, d).collect()))
        for name, d in encoded_dirs.items()
    }
    assert results["nanos"] == results["micros_ntz"] == results["micros_utc"]
    assert len(results["nanos"]) >= 3  # non-degenerate


def test_streaming_reader_identical_across_encodings(spark, encoded_dirs):
    results = {}
    for name, d in encoded_dirs.items():
        ev = read_events_stream(spark, d)
        out = drain(tumbling_counts(ev), mode="complete")
        results[name] = sorted(map(tuple, out.collect()))
    assert results["nanos"] == results["micros_ntz"] == results["micros_utc"]
    assert len(results["nanos"]) > 3
