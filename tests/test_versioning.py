"""Versioned table writes + time travel (operators/versioning.py):
snapshot isolation via atomic pointer flips, retention pruning, and
crash-orphan sweeping."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.operators.versioning import (
    latest_version,
    list_versions,
    read_version,
    write_version,
    write_versions_concurrently,
)


def _snapshot(spark, n, tag):
    return spark.range(n).select(
        "id", F.lit(tag).alias("tag"), (F.col("id") * 2).alias("v")
    )


def test_sequential_versions_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    assert latest_version(path) is None
    v0 = write_version(_snapshot(spark, 10, "a"), path)
    v1 = write_version(_snapshot(spark, 20, "b"), path)
    assert (v0, v1) == (0, 1)
    assert latest_version(path) == 1
    # latest read
    assert read_version(spark, path).count() == 20
    # time travel to the previous snapshot
    old = read_version(spark, path, 0)
    assert old.count() == 10
    assert old.select("tag").distinct().collect()[0].tag == "a"


def test_retention_prunes_beyond_retain(spark, tmp_path):
    path = str(tmp_path / "r")
    for i in range(5):
        write_version(_snapshot(spark, 5 + i, f"s{i}"), path, retain=2)
    assert list_versions(path) == [3, 4]
    assert latest_version(path) == 4
    # pruned versions raise a clear error, committed ones still read
    assert read_version(spark, path, 3).count() == 8
    try:
        read_version(spark, path, 0)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass


def test_crash_orphan_is_invisible_and_swept(spark, tmp_path):
    path = str(tmp_path / "c")
    write_version(_snapshot(spark, 10, "good"), path)
    # simulate a writer that crashed AFTER writing data, BEFORE the
    # pointer flip: data dir exists, pointer still names version 0
    orphan = os.path.join(path, "v=000001")
    _snapshot(spark, 99, "crashed").write.parquet(orphan)
    assert latest_version(path) == 0  # reader isolation holds
    assert read_version(spark, path).count() == 10
    # next writer sweeps the orphan and reuses the id
    v = write_version(_snapshot(spark, 30, "next"), path)
    assert v == 1
    assert read_version(spark, path, 1).count() == 30
    tags = {r.tag for r in read_version(spark, path, 1).collect()}
    assert tags == {"next"}  # no crashed data leaked in


def test_reader_of_old_version_unaffected_by_new_commits(spark, tmp_path):
    path = str(tmp_path / "iso")
    write_version(_snapshot(spark, 10, "a"), path, retain=10)
    pinned = read_version(spark, path, 0)  # lazy plan over v=000000
    write_version(_snapshot(spark, 50, "b"), path, retain=10)
    # the pinned plan still scans the immutable v0 directory
    assert pinned.count() == 10


def test_runner_versioned_gold_snapshots(spark, tmp_path):
    """Two pipeline runs with versioned_gold: each mart gets snapshot
    history, latest matches the live mart, and v0 time-travels to the
    first run's state."""
    from datetime import datetime

    from gcp_healthcare_data_pipeline_spark.pipeline.runner import (
        Runner,
        SourcePaths,
    )
    from tests.fixtures import update_patient_for_run2, write_fixtures

    root = tmp_path
    src_root, wh = str(root / "sources"), str(root / "warehouse")
    sources = SourcePaths(**write_fixtures(src_root))

    r1 = Runner(spark, wh, clock=datetime(2024, 6, 1), versioned_gold=True)
    r1.run(sources)
    update_patient_for_run2(src_root)
    r2 = Runner(spark, wh, clock=datetime(2025, 6, 1), versioned_gold=True)
    r2.run(sources)

    hist = os.path.join(wh, "gold_history", "patient_history")
    assert latest_version(hist) == 1
    live = spark.read.parquet(os.path.join(wh, "gold", "patient_history"))
    latest = read_version(spark, hist)
    assert sorted(map(tuple, latest.collect()), key=str) == sorted(
        map(tuple, live.collect()), key=str
    )
    # v0 is the pre-delta snapshot and still readable
    assert read_version(spark, hist, 0).count() > 0


def test_snapshot_manifest_pins_cross_table_consistency(spark, tmp_path):
    """The manifest maps every table to the version committed by one
    run; read_snapshot_tables returns a mutually consistent set even
    after later runs advance the per-table pointers."""
    from gcp_healthcare_data_pipeline_spark.operators.versioning import (
        read_snapshot_manifest,
        read_snapshot_tables,
        write_snapshot_manifest,
        write_version,
    )

    root = str(tmp_path / "hist")
    # run 1 commits both tables at v0
    for t, n in (("a", 10), ("b", 20)):
        write_version(_snapshot(spark, n, "r1"), os.path.join(root, t),
                      retain=5)
    write_snapshot_manifest(root, {"a": 0, "b": 0}, "run1")
    # run 2 advances only table a (b's refresh "hasn't landed yet")
    write_version(_snapshot(spark, 99, "r2"), os.path.join(root, "a"),
                  retain=5)
    write_snapshot_manifest(root, {"a": 1, "b": 0}, "run2")

    # current = run2, with a consistent pair
    cur = read_snapshot_manifest(root)
    assert cur["run_id"] == "run2"
    tables = read_snapshot_tables(spark, root)
    assert tables["a"].count() == 99
    assert tables["b"].count() == 20
    # time travel to run1: BOTH tables at run1's versions
    old = read_snapshot_tables(spark, root, "run1")
    assert old["a"].count() == 10
    assert {r.tag for r in old["a"].collect()} == {"r1"}


def test_runner_writes_manifest_per_versioned_run(spark, tmp_path):
    from datetime import datetime

    from gcp_healthcare_data_pipeline_spark.operators.versioning import (
        read_snapshot_manifest,
        read_snapshot_tables,
    )
    from gcp_healthcare_data_pipeline_spark.pipeline.runner import (
        Runner,
        SourcePaths,
    )
    from tests.fixtures import write_fixtures

    root = tmp_path
    src_root, wh = str(root / "sources"), str(root / "warehouse")
    sources = SourcePaths(**write_fixtures(src_root))
    Runner(
        spark, wh, clock=datetime(2024, 6, 1), versioned_gold=True
    ).run(sources)

    hist = os.path.join(wh, "gold_history")
    m = read_snapshot_manifest(hist)
    assert m["run_id"] == "20240601T000000"
    assert set(m["versions"]) == {
        "provider_charge_summary", "patient_history",
        "provider_performance", "department_performance",
        "financial_metrics", "payor_performance",
    }
    tables = read_snapshot_tables(spark, hist)
    assert all(df.count() > 0 for df in tables.values())


def test_retention_honors_manifest_pins(spark, tmp_path):
    """A version an old-but-retained manifest pins survives newest-N
    retention; once the manifest is GC'd the pin is released. This is
    the coordination that keeps read_snapshot_tables for a retained run
    working even when one table advances more than `retain` times."""
    from gcp_healthcare_data_pipeline_spark.operators.versioning import (
        manifest_pins,
        prune_snapshot_manifests,
        read_snapshot_tables,
        write_snapshot_manifest,
        write_version,
    )

    root = str(tmp_path / "hist")
    t = os.path.join(root, "a")
    write_version(_snapshot(spark, 10, "r1"), t, retain=2)
    write_snapshot_manifest(root, {"a": 0}, "run1")

    # table advances 4 more times; retain=2 alone would prune v0
    for i in range(4):
        write_version(
            _snapshot(spark, 20 + i, f"r{i + 2}"), t, retain=2,
            pinned=manifest_pins(root, "a"),
        )
        write_snapshot_manifest(root, {"a": i + 1}, f"run{i + 2}")

    # run1's pinned v0 still resolves alongside the newest two
    assert read_snapshot_tables(spark, root, "run1")["a"].count() == 10
    assert read_version(spark, t, 0).count() == 10

    # GC manifests to the newest 2 -> run1's pin is released, and the
    # next write prunes v0 with it
    pruned = prune_snapshot_manifests(root, keep_runs=2)
    assert "run1" in pruned
    write_version(_snapshot(spark, 99, "r9"), t, retain=2,
                  pinned=manifest_pins(root, "a"))
    from gcp_healthcare_data_pipeline_spark.operators.versioning import (
        list_versions,
    )

    assert 0 not in list_versions(t)


def test_runner_gc_keeps_retained_manifests_resolvable(spark, tmp_path):
    """Every manifest the runner retains must fully resolve via
    read_snapshot_tables — no FileNotFoundError from a pruned version."""
    from datetime import datetime

    from gcp_healthcare_data_pipeline_spark.operators.versioning import (
        list_snapshot_manifests,
        read_snapshot_tables,
    )
    from gcp_healthcare_data_pipeline_spark.pipeline.runner import Runner
    from gcp_healthcare_data_pipeline_spark.queries.pipeline_queries import FX
    from gcp_healthcare_data_pipeline_spark.pipeline.runner import SourcePaths

    src_root = str(tmp_path / "src")
    wh = str(tmp_path / "wh")
    sources = SourcePaths(**FX.write_fixtures(src_root))
    for day in range(1, 5):
        Runner(
            spark, wh, clock=datetime(2025, 1, day), versioned_gold=True,
            gold_retain=2,
        ).run(sources)

    root = os.path.join(wh, "gold_history")
    runs = list_snapshot_manifests(root)
    assert len(runs) <= 2 + 1  # GC runs before this run's manifest lands
    for run_id in runs:
        tables = read_snapshot_tables(spark, root, run_id)
        for name, df in tables.items():
            df.count()  # must not raise FileNotFoundError


def test_write_versions_concurrently_aggregates_failures(spark, tmp_path):
    """write_versions_concurrently settles ALL writes and raises one
    aggregated error on partial failure (r17 ADVICE)."""
    ok = spark.range(3).select(F.col("id").alias("k"))
    bad = spark.range(3).select(
        F.assert_true(F.col("id") < 0, F.lit("boom")).alias("x"), "id"
    )
    with pytest.raises(RuntimeError) as ei:
        write_versions_concurrently(
            {
                "good": (ok, os.path.join(str(tmp_path), "good"), {}),
                "bad": (bad, os.path.join(str(tmp_path), "bad"), {}),
            }
        )
    msg = str(ei.value)
    assert "bad" in msg and "1 table write(s) failed" in msg
    # the sibling write settled (not cancelled): its version committed
    # and is named as an orphan pin in the error
    assert "good" in msg
    assert list_versions(os.path.join(str(tmp_path), "good")) == [0]
