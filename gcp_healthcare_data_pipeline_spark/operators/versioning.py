"""Versioned table writes with time travel (snapshot isolation on plain
parquet).

The reference truncate-and-reloads its gold marts in place (reference
gold.sql:11,53,103,145) — a reader mid-reload sees half a table, and
yesterday's mart is gone the moment today's lands. Production lakes fix
this with a table format (Delta/Iceberg snapshots); this module is the
dependency-free core of that idea:

- every write lands in a NEW immutable directory ``v=NNNNNN`` — never
  mutating the version a reader may be scanning,
- a one-line ``_LATEST`` pointer file flips atomically (``os.replace``)
  only after the data commit completes — readers see the old or the new
  version, never a mix, and a crash mid-write leaves the pointer on the
  last good version (the orphaned directory is swept by the next write),
- old versions are retained (``retain``) for time travel — reproducible
  training runs pin ``read_version(path, v)`` the way they pin a git
  SHA — then pruned.

At 100 TB the version directory is the unit of retention cost; the
pointer flip is O(1) metadata regardless of table size, which is exactly
why every serious table format commits through a pointer, not a rename
of the data itself.
"""

from __future__ import annotations

import functools
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from gcp_healthcare_data_pipeline_spark.concurrency import (
    MAX_WORKERS,
    settle_all,
)

_VDIR = re.compile(r"^v=(\d{6})$")
_POINTER = "_LATEST"


def list_versions(path: str) -> list[int]:
    """All committed + orphaned version ids present on disk, ascending."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = _VDIR.match(name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def latest_version(path: str) -> int | None:
    """The committed version the pointer names, or None before the first
    commit. Orphaned directories (crash after data write, before the
    pointer flip) are invisible here — that is the isolation contract."""
    ptr = os.path.join(path, _POINTER)
    if not os.path.isfile(ptr):
        return None
    with open(ptr) as fh:
        return int(fh.read().strip())


def write_version(
    df: DataFrame, path: str, retain: int = 3, pinned: set[int] | None = None
) -> int:
    """Commit ``df`` as the next version of the table at ``path``.

    Returns the committed version id. Sweep-then-write: orphans from a
    crashed previous writer are removed first so their ids are reused
    safely (single-writer discipline, same as the runner's swap sinks).

    ``pinned``: version ids that must survive retention regardless of
    age — callers coordinating with snapshot manifests pass
    ``manifest_pins(root, table)`` so a manifest never references a
    pruned directory (GC manifests first via
    ``prune_snapshot_manifests`` to bound the pin set).
    """
    os.makedirs(path, exist_ok=True)
    committed = latest_version(path)
    # sweep orphans: any version dir newer than the pointer never
    # committed — a previous writer crashed between data and pointer
    for v in list_versions(path):
        if committed is None or v > committed:
            shutil.rmtree(os.path.join(path, f"v={v:06d}"))
    new_v = (committed + 1) if committed is not None else 0
    vdir = os.path.join(path, f"v={new_v:06d}")
    df.write.mode("error").parquet(vdir)  # immutable: never overwrite
    # atomic pointer flip commits the version
    tmp = os.path.join(path, _POINTER + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(f"{new_v}\n")
    os.replace(tmp, os.path.join(path, _POINTER))
    # retention: keep the newest ``retain`` committed versions, plus any
    # version a retained snapshot manifest still pins
    keep = {new_v - i for i in range(retain)} | set(pinned or ())
    for v in list_versions(path):
        if v not in keep and v <= new_v:
            shutil.rmtree(os.path.join(path, f"v={v:06d}"))
    return new_v


def write_versions_concurrently(
    jobs: "dict[str, tuple[DataFrame, str, dict]]",
    max_workers: int = MAX_WORKERS,
) -> dict[str, int]:
    """Commit several INDEPENDENT tables' versions at once from a small
    driver thread pool: ``jobs`` maps table name -> (frame, path,
    write_version kwargs); returns {table: committed version id}.

    Why (r17 optimization, guide §2.6 "overlap independent jobs"): a
    snapshot commit writes one version per standing table, and those
    writes have no data dependency on each other — run serially, each
    write's task tail leaves the cluster idle while the next write's
    plan hasn't started. Spark's FIFO scheduler happily overlaps jobs
    submitted from driver threads, so the later writes back-fill the
    earlier ones' stragglers. Safety: each table path is its own
    single-writer domain (the sweep/pointer protocol in
    :func:`write_version` never crosses paths), and the caller commits
    the cross-table snapshot manifest strictly AFTER every table write
    returns — the manifest, not the table pointer, is what readers
    consume, so concurrency here cannot widen the isolation contract.
    Shared lazily-checkpointed parents are safe under concurrent
    first-materialization (block-level locking: one job computes a
    cached partition, the others wait).

    Failure contract (:func:`concurrency.settle_all`): every submitted
    write runs to completion (success or failure) before this returns —
    a partial failure raises ONE aggregated error naming every failed
    table, and the error message lists the sibling tables whose
    per-table versions DID commit (they become unreferenced
    pins/orphans: the caller never writes the snapshot manifest, so no
    reader can observe them, and the next successful commit's retention
    sweep reclaims them)."""
    results, failures = settle_all(
        {
            table: functools.partial(write_version, frame, path, **kwargs)
            for table, (frame, path, kwargs) in jobs.items()
        },
        max_workers,
    )
    if failures:
        failed = ", ".join(f"{t}: {e}" for t, e in sorted(failures.items()))
        committed = ", ".join(sorted(results)) or "none"
        raise RuntimeError(
            f"write_versions_concurrently: {len(failures)} table write(s) "
            f"failed [{failed}]; committed-but-unreferenced table versions "
            f"(orphan pins, invisible without a manifest): {committed}"
        ) from next(iter(failures.values()))
    return results


def write_snapshot_manifest(
    root: str, versions: dict[str, int], run_id: str,
    meta: dict | None = None,
) -> str:
    """Pin a CONSISTENT multi-table snapshot: one manifest mapping every
    table to the version id committed by this run, plus an atomic
    ``_CURRENT`` pointer. Per-table pointers give single-table atomicity;
    a reader joining two marts mid-refresh could still see table A from
    run N and table B from run N-1 — the manifest closes that gap
    (the multi-table-transaction idea behind lakehouse catalog commits).

    ``meta``: optional JSON-serializable table-group metadata stored in
    the manifest — derivation-time parameters that must TRAVEL WITH the
    persisted state rather than be re-derived at read time (the text
    dedup store pins its LSH epoch shape here: re-deriving from the
    current corpus size would silently change the banding once the
    corpus crosses a decade boundary, invalidating every persisted
    band row — the EPOCH POLICY in ``operators.dedup.lsh_params``).
    """
    import json

    os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
    mpath = os.path.join(root, "_manifests", f"{run_id}.json")
    tmp = mpath + ".tmp"
    doc = {"run_id": run_id, "versions": versions}
    if meta is not None:
        doc["meta"] = meta
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, mpath)
    cur_tmp = os.path.join(root, "_CURRENT.tmp")
    with open(cur_tmp, "w") as fh:
        fh.write(run_id + "\n")
    os.replace(cur_tmp, os.path.join(root, "_CURRENT"))
    return mpath


def list_snapshot_manifests(root: str) -> list[str]:
    """run_ids of all snapshot manifests on disk, ascending (run_ids are
    UTC ``%Y%m%dT%H%M%S`` stamps, so lexical order == commit order)."""
    mdir = os.path.join(root, "_manifests")
    if not os.path.isdir(mdir):
        return []
    return sorted(
        f[: -len(".json")] for f in os.listdir(mdir) if f.endswith(".json")
    )


def manifest_pins(root: str, table: str) -> set[int]:
    """Version ids of ``table`` that any retained manifest references.

    Pass to ``write_version(pinned=...)`` so retention never prunes a
    version a manifest still points at — the coordination that keeps
    ``read_snapshot_tables`` for an old (but retained) run working even
    when one table has advanced more than ``retain`` times since.
    """
    pins: set[int] = set()
    for run_id in list_snapshot_manifests(root):
        try:
            manifest = read_snapshot_manifest(root, run_id)
        except (OSError, ValueError):
            continue
        v = manifest.get("versions", {}).get(table)
        if v is not None:
            pins.add(int(v))
    return pins


def prune_snapshot_manifests(root: str, keep_runs: int) -> list[str]:
    """GC old snapshot manifests, keeping the newest ``keep_runs``.

    Returns the pruned run_ids. Run BEFORE computing ``manifest_pins``
    for a new write: dropping a manifest releases the versions only it
    pinned, so manifests and versions are garbage-collected together
    (never a manifest pointing at a pruned version, never a version kept
    alive by a manifest nobody can list). The ``_CURRENT`` pointer is
    never pruned-under: the newest manifest always survives.
    """
    runs = list_snapshot_manifests(root)
    doomed = runs[:-keep_runs] if keep_runs > 0 else runs
    for run_id in doomed:
        os.remove(os.path.join(root, "_manifests", f"{run_id}.json"))
    return doomed


def read_snapshot_manifest(root: str, run_id: str | None = None) -> dict:
    """Load a pinned multi-table snapshot (default: the current run)."""
    import json

    if run_id is None:
        with open(os.path.join(root, "_CURRENT")) as fh:
            run_id = fh.read().strip()
    with open(os.path.join(root, "_manifests", f"{run_id}.json")) as fh:
        return json.load(fh)


def read_snapshot_tables(
    spark: SparkSession, root: str, run_id: str | None = None
) -> dict[str, DataFrame]:
    """DataFrames for every table at the manifest's pinned versions —
    mutually consistent regardless of refreshes happening now."""
    manifest = read_snapshot_manifest(root, run_id)
    return {
        name: read_version(spark, os.path.join(root, name), v)
        for name, v in manifest["versions"].items()
    }


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: ``version=None`` reads the committed latest."""
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version at {path}")
    vdir = os.path.join(path, f"v={v:06d}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"version {v} not on disk at {path} (pruned or never committed)"
        )
    return spark.read.parquet(vdir)
