"""q_ann_ivfpq_deletes — tombstone delete maintenance for the IVF-PQ
composite path (r15 verdict item 6), mirroring
tests/test_index_roundtrip.py's two search-safety halves for the float
lists:

 1. an ADC search over the code tables OVER-FETCHES (k + margin),
    anti-joins the tombstone set on the candidate list only, and
    re-ranks to k — the filtered result contains no deleted id and
    still fills k slots per query;
 2. compacting the flagged lists (dropping dead vectors' CODE rows
    only, committed as the next versioned code table) plus the residual
    tombstones of unflagged lists yields row-identical search results —
    compaction changes storage, never answers.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.functions.vectors import as_double
from gcp_healthcare_data_pipeline_spark.operators.similarity import ivf_index
from gcp_healthcare_data_pipeline_spark.operators.versioning import (
    read_version,
    write_version,
)
from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (
    _COMPACT_DEAD_PCT,
    _DELETE_LABELS,
    _IVF_INCREMENTAL_MOD,
    _PQ_SUBS,
    _pq_adc_topk,
    _pq_codebook_and_codes,
    _pq_subvectors,
)
from gcp_healthcare_data_pipeline_spark.session import load_tables

SF_DIR = "/root/testdata/sf0.001"
K = 3
OVERFETCH = 8  # margin for the ~30% clustered dead rate


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _fixture(spark):
    raw = load_tables(spark, SF_DIR, "embeddings")
    corpus = raw.filter(F.col("vec_id") % 10 != 0)
    emb = corpus.select(
        "vec_id", as_double("embedding").alias("v")
    ).localCheckpoint(eager=True)
    cb1, codes = _pq_codebook_and_codes(spark, emb)
    codes = codes.localCheckpoint(eager=True)  # the standing code table
    tomb = corpus.filter(F.col("label").isin(*_DELETE_LABELS)).select(
        F.col("vec_id").alias("neighbor_id")
    )
    qsub = _pq_subvectors(
        emb.join(
            corpus.filter(F.col("vec_id") % 100 == 51)
            .limit(5)
            .select("vec_id"),
            "vec_id",
        )
    ).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("sv").alias("qsv")
    )
    return corpus, cb1, codes, tomb, qsub


def _filtered_search(cb1, codes, qsub, tomb):
    """Over-fetch ADC scan -> anti-join tombstones on the CANDIDATE
    list only (never the corpus) -> re-rank to K: the q_ann_ivfpq
    search contract under standing deletes."""
    over = _pq_adc_topk(cb1, codes, qsub, K + OVERFETCH)
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        over.join(F.broadcast(tomb), "neighbor_id", "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= K)
        .select("query_id", "neighbor_id", "approx_dist")
    )


def test_tombstone_filtered_adc_search_excludes_deleted(spark):
    corpus, cb1, codes, tomb, qsub = _fixture(spark)
    rows = _filtered_search(cb1, codes, qsub, tomb).collect()
    dead = {r.neighbor_id for r in tomb.collect()}
    assert rows, "filtered ADC search returned nothing"
    assert not any(r.neighbor_id in dead for r in rows)
    per_q = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(v == K for v in per_q.values()), per_q


def test_code_compaction_preserves_filtered_search(spark, tmp_path):
    corpus, cb1, codes, tomb, qsub = _fixture(spark)
    _s, _c, assigned = ivf_index(
        corpus.select("vec_id", "embedding"),
        centroid_mod=_IVF_INCREMENTAL_MOD,
        lloyd_iters=1,
    )
    assigned = assigned.select("neighbor_id", "centroid_id").localCheckpoint(
        eager=True
    )
    dead = assigned.join(tomb, "neighbor_id")
    pct = (
        assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(
            dead.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("d")),
            "centroid_id",
            "left",
        )
        .select(
            "centroid_id",
            F.round(
                F.coalesce("d", F.lit(0)) * 100.0 / F.col("n"), 4
            ).alias("dead_pct"),
        )
    )
    # search-equivalence is threshold-independent; production flags at
    # _COMPACT_DEAD_PCT, but sf0.001's lists can all sit below it, so
    # compact the single dirtiest list to force a mixed state
    assert _COMPACT_DEAD_PCT > 0
    flagged = (
        pct.orderBy(F.col("dead_pct").desc(), F.col("centroid_id").asc())
        .limit(1)
        .select("centroid_id")
        .localCheckpoint(eager=True)
    )
    dead_in_flagged = dead.join(flagged, "centroid_id").select("neighbor_id")
    # compaction = drop the dead vectors' CODE rows in flagged lists
    compacted = codes.join(
        F.broadcast(dead_in_flagged.withColumnRenamed("neighbor_id", "vec_id")),
        "vec_id",
        "left_anti",
    )
    store = str(tmp_path / "codes")
    write_version(codes, store)
    v1 = write_version(compacted, store)
    compacted = read_version(spark, store, v1)
    residual = dead.join(flagged, "centroid_id", "left_anti").select(
        "neighbor_id"
    )

    before = _rows(_filtered_search(cb1, codes, qsub, tomb))
    after = _rows(_filtered_search(cb1, compacted, qsub, residual))
    assert before and before == after
    # the rewrite removed exactly the flagged lists' dead code rows
    n_dead_flagged = dead_in_flagged.count()
    assert flagged.count() == 1
    assert n_dead_flagged >= 1, "fixture produced no dead row to compact"
    assert compacted.count() == codes.count() - n_dead_flagged * _PQ_SUBS
    # untouched vectors' code rows are byte-identical
    untouched = codes.join(
        F.broadcast(dead_in_flagged.withColumnRenamed("neighbor_id", "vec_id")),
        "vec_id",
        "left_anti",
    )
    assert untouched.exceptAll(compacted).count() == 0
    assert compacted.exceptAll(untouched).count() == 0
