"""Hostile-session parity: the driver hands queries ITS OWN session —
ANSI mode on, a non-UTC timezone — not the engine's pinned one
(session.py). Every registry query must stay oracle-green under those
confs, because query-local expressions (try_cast, unix_micros under
explicit UTC handling, the epsilon-guarded LOG10/LN/POWER band-shape
formulas) carry their own semantics instead of leaning on session
defaults.

This file pins that property for the round-10/11-touched adaptive
families the r10 verdict named explicitly (q_dedup_minhash_lsh,
q_semdedup, q_ann_ivf — their oracles depend on IEEE double
LOG10/LN/POWER parity) plus the incremental screen and the curation
composite that share the banding code path.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))

from check import duck_con, normalize  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

HOSTILE_CONFS = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "America/New_York",
}

QUERIES = [
    "q_dedup_minhash_lsh",
    "q_semdedup",
    "q_ann_ivf",
    "q_dedup_incremental",
    "q_corpus_curation",
    # round-11 additions
    "q_dedup_substring",
    "q_coreset_select",
    # round-12 addition (codec round-trip + hierarchical assignment)
    "q_image_coreset",
    # round-12 plan rewrite: the rest of the hierarchical-assignment
    # family (q_semdedup/q_ann_ivf/q_coreset_select already above)
    "q_kmeans",
    "q_knn_graph",
    "q_cluster_balance",
    # round-13 additions: the executable shard driver (per-shard k-means
    # + cross-shard reconcile; concurrent per-shard jobs must inherit
    # the caller's confs identically on every thread) and the video
    # frame-sample chain
    "q_semdedup_sharded",
    "q_video_coreset",
    # round-14 additions: the scatter-gather IVF shard driver, the
    # incremental delta screen (standing state + batch assignment must
    # agree under ANSI/non-UTC), and the WAV window-feature chain
    "q_ann_ivf_sharded",
    "q_semdedup_incremental",
    "q_audio_coreset",
    "q_knn_graph_sharded",
    "q_ann_ivf_incremental",
    # late round-14 additions: PQ (per-subspace Lloyd + ADC fold must
    # agree under ANSI/non-UTC), the incremental graph append (shares
    # the standing-state stages with q_semdedup_incremental), and the
    # interpolated-LM ln() parity
    "q_ann_pq",
    "q_knn_graph_incremental",
    "q_bigram_logprob",
    "q_ann_ivfpq",
    "q_label_denoise",
    "q_hard_negatives",
    "q_pq_incremental",
    # round-17 additions: the text-dedup lifecycle gate (loaded band
    # table must reproduce the banding math under ANSI/non-UTC), the
    # loaded-index ADC serving twin, and the 13-stage curation
    # composite (banding + hierarchical assignment + LN quality/LM
    # gates all in one flow)
    "q_dedup_roundtrip",
    "q_ann_ivfpq_serve",
    "q_curation_pipeline",
    "q_stream_text_dedup",
    "q_dedup_compaction",
    "q_dedup_takedown",
]


@pytest.fixture()
def hostile(spark):
    saved = {k: spark.conf.get(k) for k in HOSTILE_CONFS}
    for k, v in HOSTILE_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        # fail LOUDLY if restoration didn't take (a silently leaked
        # hostile conf would poison every later test in this session
        # with an error pointing at the wrong file)
        restored = {k: spark.conf.get(k) for k in HOSTILE_CONFS}
        assert restored == saved, f"hostile confs leaked: {restored}"


@pytest.mark.parametrize("name", QUERIES)
def test_adaptive_families_under_hostile_session(hostile, name):
    from gcp_healthcare_data_pipeline_spark.queries import all_queries

    spec = all_queries()[name]
    got = normalize(spec.fn(hostile, SF_DIR).toPandas())
    con = duck_con(SF_DIR)  # hold the ref: the relation evaluates lazily
    want = normalize(con.sql(spec.oracle).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)}"
    assert got.equals(want), f"{name}: values differ under hostile session"
