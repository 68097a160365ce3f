"""Idempotent foreachBatch upsert sink — exactly-once on top of replays.

Structured Streaming guarantees at-least-once delivery to ``foreachBatch``:
after a crash the SAME micro-batch (same ``batch_id``) can be handed to the
sink again. A sink is exactly-once only if replays are no-ops. This module
implements the standard two-part recipe on a plain parquet target (no
Delta/Iceberg in the container):

1. **Batch ledger** — the target directory carries a ``_ledger`` file
   holding the highest committed batch_id; a replayed batch_id <= ledger
   returns immediately.
2. **Atomic upsert** — MERGE semantics (new keys inserted, existing keys
   replaced) via read-current -> anti-join -> union -> write-tmp ->
   atomic directory swap, the same swap discipline as the warehouse sink
   (sources/writers.py / pipeline/runner.py:95).

At scale the read-merge-swap is the parquet-format cost of upsert; with a
transactional table format step 2 becomes a real MERGE and step 1 is the
format's own idempotent commit (txn appId/version). The ledger pattern is
identical either way.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gcp_healthcare_data_pipeline_spark.streaming.drain import run_available


def _ledger_path(target_dir: str) -> str:
    return os.path.join(target_dir, "_ledger")


def _data_dirs(target_dir: str) -> tuple[str, str, str]:
    return (
        os.path.join(target_dir, "data"),
        os.path.join(target_dir, "_data_old"),
        os.path.join(target_dir, "_tmp_upsert"),
    )


def recover_target(target_dir: str) -> None:
    """Roll the target back to a consistent state after a crash.

    The commit sequence is: rename data -> _data_old (atomic), replace
    _tmp_upsert -> data (atomic), write ledger, delete _data_old. A crash
    can therefore leave exactly one of two inconsistencies, both repaired
    here before any read or merge touches the target:

    - ``data`` missing but ``_data_old`` present: died between the two
      renames — restore the last committed state (ledger was not
      advanced, so the interrupted batch will replay in full).
    - both present: died after the replace but before ``_data_old``
      cleanup — the new state is live; drop the leftover. The ledger may
      or may not have advanced; either way the merge is idempotent
      (anti-join on keys then union), so a replay converges to the same
      rows.
    """
    data_dir, old_dir, _ = _data_dirs(target_dir)
    if os.path.exists(old_dir):
        if not os.path.exists(data_dir):
            os.rename(old_dir, data_dir)
        else:
            shutil.rmtree(old_dir)


def last_committed_batch(target_dir: str) -> int:
    try:
        with open(_ledger_path(target_dir)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def _commit(merged: DataFrame, batch_id: int, target_dir: str) -> None:
    """Make ``merged`` the target's state and record ``batch_id``.

    ``merged`` is materialized BEFORE the live dir is touched; then a
    crash-recoverable two-rename swap: the committed state is never
    destroyed until the new state is live AND the ledger records the
    batch (recover_target repairs every intermediate crash point)."""
    data_dir, old_dir, tmp_dir = _data_dirs(target_dir)
    merged.write.mode("overwrite").parquet(tmp_dir)
    if os.path.exists(data_dir):
        os.rename(data_dir, old_dir)
    os.replace(tmp_dir, data_dir)
    with open(_ledger_path(target_dir), "w") as fh:
        fh.write(str(batch_id))
    if os.path.exists(old_dir):
        shutil.rmtree(old_dir)


def upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_dir: str,
    key_cols: list[str],
    order_col: str,
) -> bool:
    """Merge one micro-batch into the parquet target, idempotently.

    Returns True if the batch was applied, False if it was a replay
    (batch_id already committed). Within a batch, only the latest row per
    key (highest ``order_col``, deterministic) survives before the merge.
    """
    recover_target(target_dir)
    if batch_id <= last_committed_batch(target_dir):
        return False  # replay of an already-committed batch: no-op
    spark = batch_df.sparkSession
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    latest = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    data_dir = _data_dirs(target_dir)[0]
    if os.path.exists(data_dir):
        current = spark.read.parquet(data_dir)
        merged = current.join(
            latest.select(*key_cols), key_cols, "left_anti"
        ).unionByName(latest)
    else:
        merged = latest
    _commit(merged, batch_id, target_dir)
    return True


def stream_upsert_to_parquet(
    stream_df: DataFrame,
    target_dir: str,
    key_cols: list[str],
    order_col: str,
    checkpoint_dir: str,
) -> None:
    """Drain a stream into an idempotent keyed parquet upsert sink
    (availableNow trigger: process everything pending, then stop)."""
    os.makedirs(target_dir, exist_ok=True)

    def _sink(df: DataFrame, bid: int) -> None:
        upsert_batch(df, bid, target_dir, key_cols, order_col)

    run_available(
        stream_df.sparkSession,
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir),
    )


def read_upsert_target(spark: SparkSession, target_dir: str) -> DataFrame:
    recover_target(target_dir)
    return spark.read.parquet(os.path.join(target_dir, "data"))


def apply_scd2_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_dir: str,
    key_cols: list[str],
    tracked_cols: list[str],
    batch_ts,
    carry_cols: tuple[str, ...] = (),
    order_col: str | None = None,
    strict_reference_semantics: bool = True,
) -> bool:
    """Apply one micro-batch of dimension changes as an SCD2 merge —
    the reference's core MERGE (silver.sql:142-199) under streaming
    delivery: operators/scd2.py composed with this module's ledger +
    two-rename swap, so replays of an already-committed batch_id are
    no-ops and a crash at any point is recoverable (recover_target).

    ``batch_ts(batch_id) -> datetime`` supplies the run timestamp for
    the batch's inserted/modified/expired rows; keying it on batch_id
    (not wall clock) keeps a replayed batch byte-identical — the same
    injectable-clock discipline as pipeline/runner.py. With
    ``order_col``, only the latest row per key (highest order_col,
    deterministic) participates — a micro-batch may carry several
    versions of one key.
    """
    recover_target(target_dir)
    if batch_id <= last_committed_batch(target_dir):
        return False  # replay: no-op
    from gcp_healthcare_data_pipeline_spark.operators.scd2 import (  # noqa: PLC0415
        scd2_initial,
        scd2_merge,
    )

    spark = batch_df.sparkSession
    if order_col is not None:
        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        batch_df = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    ts = F.lit(batch_ts(batch_id)).cast("timestamp")
    data_dir = _data_dirs(target_dir)[0]
    if os.path.exists(data_dir):
        target = spark.read.parquet(data_dir)
        merged = scd2_merge(
            target,
            batch_df,
            key_cols,
            tracked_cols,
            ts,
            carry_cols=carry_cols,
            strict_reference_semantics=strict_reference_semantics,
        )
    else:
        merged = scd2_initial(batch_df, ts)
    _commit(merged, batch_id, target_dir)
    return True


def stream_scd2_to_parquet(
    stream_df: DataFrame,
    target_dir: str,
    key_cols: list[str],
    tracked_cols: list[str],
    batch_ts,
    checkpoint_dir: str,
    **scd2_opts,
) -> None:
    """Drain a stream of dimension change batches into an SCD2-maintained
    parquet table (availableNow trigger; exactly-once via the ledger)."""
    os.makedirs(target_dir, exist_ok=True)

    def _sink(df: DataFrame, bid: int) -> None:
        apply_scd2_batch(
            df, bid, target_dir, key_cols, tracked_cols, batch_ts,
            **scd2_opts,
        )

    run_available(
        stream_df.sparkSession,
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir),
    )
