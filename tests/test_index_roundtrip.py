"""q_index_roundtrip — the persisted index lifecycle (r14 verdict item 1).

Two halves of the contract:
 1. load-then-screen EQUALS rebuild-then-screen (parquet round-trips
    doubles bit-exactly, so the versioned store cannot change the
    answer);
 2. the store itself survives hostile lifecycles — a crashed writer's
    corrupt/aged orphan version is invisible to readers, the pointer
    flip is atomic (readers see old-or-new, never a mix), and a stale
    snapshot manifest keeps serving a CONSISTENT multi-table view even
    after one table advances underneath it.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.operators.versioning import (
    latest_version,
    list_versions,
    read_snapshot_tables,
    read_version,
    write_snapshot_manifest,
    write_version,
)
from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (
    q_ann_ivf_incremental,
    q_index_roundtrip,
    q_ivf_roundtrip,
    q_pq_incremental,
    q_pq_roundtrip,
    q_semdedup_incremental,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_roundtrip_equals_rebuild_path(spark):
    """The gate's core claim, asserted locally: screening the delta from
    the LOADED versioned tables is row-identical to the in-session
    rebuild path (q_semdedup_incremental)."""
    assert _rows(q_index_roundtrip(spark, SF_DIR)) == _rows(
        q_semdedup_incremental(spark, SF_DIR)
    )


def test_pq_roundtrip_equals_frozen_codebook_path(spark):
    """Same claim for the PQ family: encoding the delta against the
    LOADED versioned codebook is row-identical to the in-session
    train-then-encode path (q_pq_incremental)."""
    assert _rows(q_pq_roundtrip(spark, SF_DIR)) == _rows(
        q_pq_incremental(spark, SF_DIR)
    )


def test_ivf_roundtrip_equals_standing_quantizer_path(spark):
    """Same claim for the IVF family: appending the delta through the
    LOADED versioned quantizer (supers + child map + occupancy, one
    snapshot manifest) is row-identical to the in-session
    build-then-append path (q_ann_ivf_incremental)."""
    assert _rows(q_ivf_roundtrip(spark, SF_DIR)) == _rows(
        q_ann_ivf_incremental(spark, SF_DIR)
    )


def test_tombstone_filtered_search_excludes_deleted(spark):
    """The q_ann_ivf_deletes search contract: deletions are tombstones,
    and search OVER-FETCHES (k + margin), anti-joins the tombstone set
    (probed candidates only — never the corpus), and re-ranks to k.
    The filtered result must contain no deleted id and still fill k
    slots per query from live vectors."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gcp_healthcare_data_pipeline_spark.operators.similarity import (
        ivf_topk,
    )
    from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (
        _DELETE_LABELS,
    )
    from gcp_healthcare_data_pipeline_spark.session import load_tables

    raw = load_tables(spark, SF_DIR, "embeddings")
    corpus = raw.filter(F.col("vec_id") % 10 != 0)
    queries = corpus.filter(F.col("vec_id") % 100 == 51).limit(5)
    tomb = corpus.filter(F.col("label").isin(*_DELETE_LABELS)).select(
        F.col("vec_id").alias("neighbor_id")
    )
    k = 3
    over = ivf_topk(
        corpus.select("vec_id", "embedding"),
        queries.select("vec_id", "embedding"),
        k=k + 8,  # over-fetch margin for the ~30% dead rate
        centroid_mod=64,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    filtered = (
        over.join(F.broadcast(tomb), "neighbor_id", "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
    )
    rows = filtered.collect()
    dead = {r.neighbor_id for r in tomb.collect()}
    assert rows, "filtered search returned nothing"
    assert not any(r.neighbor_id in dead for r in rows)
    per_q = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(v == k for v in per_q.values()), per_q


def test_list_compaction_preserves_filtered_search(spark, tmp_path):
    """Executing the q_ann_ivf_deletes compaction signal: rewrite ONLY
    the flagged lists (drop their dead rows), keep every other list
    byte-identical, commit the compacted lists as the next index
    version, and shrink the tombstone set to the dead rows of
    UNFLAGGED lists. The invariant that makes the rewrite safe:
    search(compacted lists, residual tombstones) must equal
    search(original lists, full tombstones) row-for-row — compaction
    changes storage, never results."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gcp_healthcare_data_pipeline_spark.functions.vectors import (
        cosine_precomputed,
    )
    from gcp_healthcare_data_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_index,
    )
    from gcp_healthcare_data_pipeline_spark.operators.versioning import (
        read_version,
        write_version,
    )
    from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (
        _COMPACT_DEAD_PCT,
        _DELETE_LABELS,
    )
    from gcp_healthcare_data_pipeline_spark.session import load_tables

    raw = load_tables(spark, SF_DIR, "embeddings")
    corpus = raw.filter(F.col("vec_id") % 10 != 0)
    supers, cmap, inv = ivf_index(
        corpus.select("vec_id", "embedding"), centroid_mod=64, lloyd_iters=1
    )
    inv = inv.localCheckpoint(eager=True)  # the standing lists
    tomb = corpus.filter(F.col("label").isin(*_DELETE_LABELS)).select(
        F.col("vec_id").alias("neighbor_id")
    )
    dead = inv.join(tomb, "neighbor_id").select("neighbor_id", "centroid_id")
    pct = (
        inv.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(
            dead.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("d")),
            "centroid_id",
            "left",
        )
        .select(
            "centroid_id",
            F.round(F.coalesce("d", F.lit(0)) * 100.0 / F.col("n"), 4).alias(
                "dead_pct"
            ),
        )
    )
    # the search-equivalence invariant is threshold-INDEPENDENT (any
    # subset of lists may compact); production flags at
    # _COMPACT_DEAD_PCT, but sf0.001's lists all sit below it, so the
    # test compacts the single dirtiest list to guarantee a mixed
    # flagged/unflagged state
    assert _COMPACT_DEAD_PCT > 0
    flagged = (
        pct.orderBy(F.col("dead_pct").desc(), F.col("centroid_id").asc())
        .limit(1)
        .select("centroid_id")
        .localCheckpoint(eager=True)
    )
    # compaction: drop dead rows from flagged lists ONLY
    dead_in_flagged = dead.join(flagged, "centroid_id").select("neighbor_id")
    compacted = inv.join(
        F.broadcast(dead_in_flagged), "neighbor_id", "left_anti"
    )
    store = str(tmp_path / "inv")
    write_version(inv, store)
    v1 = write_version(compacted, store)
    compacted = read_version(spark, store, v1)
    # residual tombstones: dead rows living in UNFLAGGED lists
    residual = dead.join(flagged, "centroid_id", "left_anti").select(
        "neighbor_id"
    )

    def _search(lists, tombstones):
        q = ivf_assign(
            corpus.filter(F.col("vec_id") % 100 == 51)
            .limit(5)
            .select(
                F.col("vec_id").alias("query_id"),
                F.expr("transform(embedding, x -> cast(x as double))").alias(
                    "_qv"
                ),
            )
            .withColumn(
                "_qn",
                F.sqrt(
                    F.aggregate(
                        "_qv", F.lit(0.0), lambda a, x: a + x * x
                    )
                ),
            ),
            "_qv", "_qn", 2, supers, cmap,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        return (
            q.select("query_id", "centroid_id", "_qv", "_qn")
            .join(lists, "centroid_id")
            .join(F.broadcast(tombstones), "neighbor_id", "left_anti")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "cos_sim",
                F.round(
                    cosine_precomputed(
                        F.col("_qv"), F.col("_v"), F.col("_qn"), F.col("_cn")
                    ),
                    6,
                ),
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 3)
            .select("query_id", "neighbor_id", "cos_sim")
        )

    before = _rows(_search(inv, tomb))
    after = _rows(_search(compacted, residual))
    assert before and before == after
    # the rewrite actually removed rows, and only from flagged lists
    n_flagged = flagged.count()
    assert n_flagged >= 1, "fixture produced no flagged list"
    assert compacted.count() == inv.count() - dead_in_flagged.count()
    untouched = inv.join(flagged, "centroid_id", "left_anti")
    assert untouched.exceptAll(
        compacted.join(flagged, "centroid_id", "left_anti")
    ).count() == 0


def test_roundtrip_cleans_up_workdir(spark, tmp_path):
    """The versioned store is reclaimed after the result is pinned —
    no per-call directory leak (the q_stream_semdedup discipline)."""
    import glob
    import tempfile

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "q_index_roundtrip_*")))
    q_index_roundtrip(spark, SF_DIR).count()
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "q_index_roundtrip_*")))
    assert after <= before


def _state(spark, n, tag):
    return spark.range(n).select(
        "id", F.lit(tag).alias("tag"), (F.col("id") * 3).alias("v")
    )


def test_corrupt_orphan_invisible_and_swept(spark, tmp_path):
    """A writer that crashed AFTER writing data but BEFORE the pointer
    flip leaves a (possibly corrupt) orphan directory: readers must
    never see it, and the next writer must sweep it."""
    path = str(tmp_path / "centroids")
    write_version(_state(spark, 5, "good"), path)  # committed v0
    # simulate the crash: v1 data lands (corrupt — not even parquet),
    # pointer never flips
    orphan = os.path.join(path, "v=000001")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "w") as fh:
        fh.write("not parquet at all")
    assert latest_version(path) == 0  # pointer still names v0
    loaded = read_version(spark, path)  # reader: committed state only
    assert loaded.filter(F.col("tag") == "good").count() == 5
    # next successful write sweeps the orphan and commits cleanly as v1
    v = write_version(_state(spark, 7, "next"), path)
    assert v == 1
    assert read_version(spark, path).count() == 7
    assert list_versions(path) == [0, 1]


def test_pointer_flip_is_atomic_old_or_new_never_mix(spark, tmp_path):
    """Across a commit, the pointer names exactly the old version until
    the instant it names the new one — a reader that resolved the old
    pointer keeps a fully consistent old snapshot, one that resolves
    after sees the complete new one. (os.replace supplies the atomic
    step; this pins that the MODULE routes every commit through it —
    no window where the pointer is absent or names a half-written
    version.)"""
    path = str(tmp_path / "t")
    write_version(_state(spark, 4, "v0"), path)
    old_reader = read_version(spark, path)  # resolves v0 NOW
    old_rows = _rows(old_reader)
    write_version(_state(spark, 9, "v1"), path)
    # the pre-commit reader still sees all of v0, none of v1
    assert _rows(old_reader) == old_rows
    assert {r[1] for r in old_rows} == {"v0"}
    # a post-commit resolve sees all of v1
    new_rows = _rows(read_version(spark, path))
    assert len(new_rows) == 9 and {r[1] for r in new_rows} == {"v1"}
    # and at no point is the pointer file missing or unparsable
    assert latest_version(path) == 1


def test_aged_manifest_serves_consistent_snapshot(spark, tmp_path):
    """A manifest pinned before one table advanced keeps serving the
    MATCHED pair — the aged-state read never mixes a new centroids
    version with old survivors."""
    root = str(tmp_path / "store")
    vc = write_version(_state(spark, 3, "cent-run1"), os.path.join(root, "centroids"))
    vs = write_version(_state(spark, 6, "surv-run1"), os.path.join(root, "survivors"))
    write_snapshot_manifest(root, {"centroids": vc, "survivors": vs}, "run-000001")
    # centroids advances (run 2 half-finished: no new manifest yet)
    write_version(_state(spark, 8, "cent-run2"), os.path.join(root, "centroids"))
    tabs = read_snapshot_tables(spark, root)  # resolves run-000001
    assert {r.tag for r in tabs["centroids"].select("tag").distinct().collect()} == {
        "cent-run1"
    }
    assert tabs["survivors"].count() == 6


def test_corrupted_pointer_fails_loudly_not_silently(spark, tmp_path):
    """A garbage pointer (torn disk, manual edit) must raise, not serve
    an arbitrary version."""
    import pytest

    path = str(tmp_path / "t")
    write_version(_state(spark, 3, "x"), path)
    with open(os.path.join(path, "_LATEST"), "w") as fh:
        fh.write("garbage\n")
    with pytest.raises(ValueError):
        latest_version(path)
