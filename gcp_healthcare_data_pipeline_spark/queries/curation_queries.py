"""Training-data curation: the composed end-to-end selection pipeline.

q_corpus_curation chains the extension operators the way a real
LLM-data pipeline would: quality scoring -> language filter -> near-dup
removal (MinHash-LSH losers dropped, min-doc_id kept) -> surviving corpus
with per-source stats. One oracle checks the whole composition.

q_events_sliding is the batch twin of the streaming sliding window
(each event lands in exactly two overlapping 10-min/5-min windows).

q_user_zscore is per-user z-score normalization via built-in window
functions (JVM-side); user_zscore_grouped_map is the same computation on
the Arrow grouped-map (applyInPandas) surface, kept for API coverage and
asserted equivalent in tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from gcp_healthcare_data_pipeline_spark.functions.text import STOPWORDS, tokens
from gcp_healthcare_data_pipeline_spark.operators.dedup import (
    lsh_candidate_pairs,
    jaccard,
    minhash_signatures,
    with_shingles,
)
from gcp_healthcare_data_pipeline_spark.queries.dedup_queries import (
    _corpus_lsh_params,
    _lsh_sql_cte,
)
from gcp_healthcare_data_pipeline_spark.queries.registry import QuerySpec
from gcp_healthcare_data_pipeline_spark.session import event_ts_us, load_tables

_QUALITY_MIN = 0.6
_JACCARD_MIN = 0.6


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality >= 0.6, known language, near-dup losers removed; per-source
    survivor stats."""
    docs = load_tables(spark, sf_dir, "documents")
    docs = docs.withColumn("_toks", tokens("text"))
    n_tok = F.size("_toks").cast("double")
    stop = F.size(
        F.filter(
            F.col("_toks"),
            lambda t: F.array_contains(F.array(*[F.lit(w) for w in STOPWORDS]), t),
        )
    ).cast("double")
    punct_ratio = F.length(
        F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")
    ).cast("double") / F.length("text")
    score = (
        F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.4) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.2) * F.least(stop / n_tok * F.lit(5.0), F.lit(1.0))
    )
    scored = docs.select(
        "doc_id", "source", "lang", "text", F.round(score, 6).alias("q")
    )
    kept = scored.filter(
        (F.col("q") >= _QUALITY_MIN)
        & F.col("lang").isin("en", "fr", "de", "es", "zh")
    )

    # near-dup losers (doc_b of verified pairs) computed on the FULL corpus
    sh = with_shingles(
        load_tables(spark, sf_dir, "documents").select("doc_id", "text"),
        "text", n=3,
    ).localCheckpoint(eager=False)
    r, nb, k = _corpus_lsh_params(spark, sf_dir)
    sig = minhash_signatures(sh, "doc_id", "shingles", k=k).localCheckpoint(
        eager=False
    )
    cand = lsh_candidate_pairs(sig, "doc_id", "sig", bands=nb, rows_per_band=r)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    losers = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6) >= _JACCARD_MIN
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    survivors = kept.join(losers, "doc_id", "left_anti")
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.min("doc_id").alias("min_doc_id"),
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
_ORACLE_CORPUS_CURATION = f"""
WITH d AS (
  SELECT doc_id, source, lang, text, string_split(text, ' ') AS toks
  FROM documents
), m AS (
  SELECT doc_id, source, lang,
    CAST(len(toks) AS DOUBLE) AS n_tok,
    CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE) AS stop,
    CAST(LENGTH(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
         AS DOUBLE) / LENGTH(text) AS punct_ratio
  FROM d
), scored AS (
  SELECT doc_id, source, lang,
    ROUND(0.4 * LEAST(n_tok / 100.0, 1.0)
        + 0.4 * (1.0 - punct_ratio)
        + 0.2 * LEAST(stop / n_tok * 5.0, 1.0), 6) AS q
  FROM m
), kept AS (
  SELECT * FROM scored
  WHERE q >= {_QUALITY_MIN} AND lang IN ('en','fr','de','es','zh')
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
  FROM d WHERE len(toks) >= 3
), {_lsh_sql_cte("sh")}, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
), losers AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b
  WHERE ROUND(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        / len(list_distinct(x.shingles || y.shingles)), 6) >= {_JACCARD_MIN}
), survivors AS (
  SELECT k.* FROM kept k
  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = k.doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       ROUND(AVG(q), 6) AS avg_quality,
       MIN(doc_id) AS min_doc_id
FROM survivors
GROUP BY 1
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sliding windows (10 min window, 5 min slide): each event
    contributes to exactly two overlapping windows (explode of the two
    covering window starts)."""
    ev = load_tables(spark, sf_dir, "events")
    base = (F.floor(event_ts_us(ev) / 300_000_000) * 300).cast("bigint")
    win = F.explode(F.array(base - 300, base)).alias("window_start")
    n_err = F.count(F.when(F.col("event_type") == "error", F.lit(1)))
    return (
        ev.select(win, "event_type", "value")
        .groupBy("window_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            n_err.alias("n_errors"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


_ORACLE_EVENTS_SLIDING = """
WITH e AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 300000000) * 300 AS BIGINT) AS base,
         event_type, value
  FROM events
), exploded AS (
  SELECT base - 300 AS window_start, event_type, value FROM e
  UNION ALL
  SELECT base AS window_start, event_type, value FROM e
)
SELECT window_start,
       COUNT(*) AS n_events,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
       ROUND(SUM(value), 2) AS total_value
FROM exploded
GROUP BY 1
"""

_Z_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("user_id", LongType(), True),
        StructField("zscore", DoubleType(), True),
    ]
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    mu = pdf["value"].mean()
    sd = pdf["value"].std(ddof=1)  # sample std == SQL stddev_samp
    z = (pdf["value"] - mu) / sd if sd and sd == sd else pdf["value"] * float("nan")
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "zscore": z.round(4),
        }
    )


def user_zscore_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score via grouped applyInPandas — kept as the API
    demonstration / test surface for the Arrow grouped-map path.  NOT the
    registry plan: the same math is expressible with built-in window
    functions (pure JVM, no Arrow hop), which is what q_user_zscore uses.
    """
    ev = load_tables(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    return ev.groupBy("user_id").applyInPandas(_zscore_group, schema=_Z_SCHEMA)


def q_user_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score normalization with built-in window functions.

    (value - avg) / stddev_samp over Window.partitionBy(user_id): one
    shuffle on user_id, whole-stage-codegen window evaluation, no Python
    workers.  Replaces the round-1 applyInPandas plan (~3.3s -> ~0.3s at
    sf0.1); the grouped-map variant survives as user_zscore_grouped_map,
    asserted equivalent in tests/test_curation.py.
    """
    ev = load_tables(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    w = Window.partitionBy("user_id")
    return ev.select(
        "event_id",
        "user_id",
        (
            F.round(
                (F.col("value") - F.avg("value").over(w))
                / F.stddev_samp("value").over(w),
                4,
            )
            + F.lit(0.0)  # -0.0 + 0.0 = +0.0: normalize IEEE negative zero
        ).alias("zscore"),
    )


_ORACLE_USER_ZSCORE = """
SELECT event_id, user_id,
  ROUND((value - AVG(value) OVER (PARTITION BY user_id))
        / STDDEV_SAMP(value) OVER (PARTITION BY user_id), 4) + 0.0 AS zscore
FROM events
"""


_BOILER_MIN_DF = 2  # shingle counts as boilerplate if >= this many docs of a source share it


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level boilerplate detection (CCNet/RefinedWeb line-dedup
    analog, adapted to token shingles since the corpus has no newlines).

    A 3-gram shingle is boilerplate *within a source* when >=
    ``_BOILER_MIN_DF`` documents of that source contain it (headers,
    footers, navigation chrome repeat across a crawl domain's pages).
    Emits each doc's boilerplate fraction — the upstream signal a real
    pipeline thresholds on before training.

    Plan shape: ONE explode of distinct shingles, ONE exchange on
    (source, shingle) where a window count supplies each shingle's
    document frequency in place, then the per-doc re-aggregation. The
    window replaces the earlier groupBy-then-join-back plan, which
    evaluated the shingling subtree twice and shuffled the exploded
    strings twice (22.6s -> 5.0s at sf0.1). No self-join; shuffle volume
    is bounded by the exploded (doc, shingle) space.
    """
    docs = load_tables(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    sh = with_shingles(docs, "text", n=3)
    ex = sh.select("doc_id", "source", F.explode("shingles").alias("s"))
    w = Window.partitionBy("source", "s")
    counted = ex.withColumn("shingle_df", F.count(F.lit(1)).over(w))
    is_boiler = (F.col("shingle_df") >= _BOILER_MIN_DF).cast("int")
    return (
        counted.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(is_boiler).alias("n_boiler"),
            F.round(
                F.sum(is_boiler).cast("double") / F.count(F.lit(1)), 6
            ).alias("boiler_ratio"),
        )
    )


_ORACLE_BOILERPLATE = f"""
WITH d AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, source,
    list_distinct(list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
  FROM d WHERE len(toks) >= 3
), ex AS (
  SELECT doc_id, source, UNNEST(shingles) AS s FROM sh
), dfc AS (
  SELECT source, s, COUNT(*) AS shingle_df FROM ex GROUP BY 1, 2
)
SELECT ex.doc_id, ex.source,
  CAST(COUNT(*) AS BIGINT) AS n_shingles,
  CAST(SUM(CASE WHEN dfc.shingle_df >= {_BOILER_MIN_DF} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_boiler,
  ROUND(CAST(SUM(CASE WHEN dfc.shingle_df >= {_BOILER_MIN_DF} THEN 1 ELSE 0
             END) AS DOUBLE) / COUNT(*), 6) AS boiler_ratio
FROM ex JOIN dfc USING (source, s)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q_curation_pipeline: the FULL pretraining-curation composition gate
# (r16 verdict item 2) — every stage the portfolio implements, run as
# ONE flow over one survivor set, emitting the per-stage survivor
# ledger (the "data card": rows in/out per stage).
# ---------------------------------------------------------------------------

_CANON = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '),"
    " ' +', ' '))"
)
# the DuckDB twin needs the 'g' flag (duckdb replaces FIRST match by
# default; Spark regexp_replace is always global)
_CANON_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', "
    "'g'), ' +', ' ', 'g'))"
)
_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))"
)


def _keep_first_per_key(df: DataFrame, key: "F.Column") -> DataFrame:
    """min-doc_id keeper per key as a partial-combining
    ``groupBy(key).agg(min(struct(doc_id, ...)))`` — lexicographic
    struct-min with the unique doc_id leading IS the former
    ``row_number() over (partition by key order by doc_id) = 1`` window
    (r17 optimization, guide §2.3 "aggregate before you shuffle"): the
    exchange now carries one pre-reduced row per key per map partition
    instead of the window's full-table sort shuffle, and a hot literal
    key (the boilerplate case) partially collapses map-side instead of
    skewing one sort partition."""
    cols = ["doc_id"] + [c for c in df.columns if c != "doc_id"]
    return (
        df.groupBy(key.alias("_k"))
        .agg(F.min(F.struct(*cols)).alias("_w"))
        .select(*[F.col(f"_w.{c}").alias(c) for c in df.columns])
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed END-TO-END pretraining curation flow — every stage
    the portfolio holds, chained over ONE survivor set (until r17 the
    stages were gated individually but never run as one pipeline):

      0 ingest            raw corpus
      1 heldout_split     doc_id % 10 == 0 held out as the eval set
                          (the corpus/batch convention family-wide)
      2 exact_dedup       min-doc_id keeper per md5(text)
      3 canonical_dedup   keeper per md5(canonicalized text)
      4 minhash_lsh       near-dup losers (verified jaccard >= 0.6)
                          dropped; band shape = the corpus EPOCH
                          (_corpus_lsh_params, derived from the base
                          table size — survivors keep the epoch shape)
      5 semdedup          SemDeDup drop rule over the survivors' vectors
                          (docs without embeddings pass: they cannot be
                          semantically deduped)
      6 gopher_repetition intra-doc repetition keep flag (q_repetition_
                          gopher's exact per-row metrics)
      7 quality_gate      per-language median quality (percent_rank on
                          the survivor set >= 0.5)
      8 lm_gate           unigram avg logprob (model trained ON the
                          survivor set, min-df-capped vocab) >= cutoff
      9 contamination     survivors with 3-gram containment > 0.5
                          against the HELD-OUT eval shingle set dropped
     10 temperature_mix   per-language hash downsample toward n^0.5
     11 packing           survivors -> fixed-256-token packs (rows_out
                          = pack count)
     12 export            survivors -> 16 deterministic shuffle shards
                          (rows_out = occupied shard count)

    Returns the survivor LEDGER: (stage_idx, stage, rows_in, rows_out).
    Corpus-derived structures (LSH pairs, semdedup blocking, quality
    ranks, LM counts, temperature rates) are computed on the CURRENT
    survivor set — the pipeline semantics, mirrored stage-for-stage in
    the oracle. Each stage's frame is lazily checkpointed so the ledger
    counts share lineage instead of recomputing the prefix per stage.

    Scale shape: the flow inherits each stage's audited plan — hash
    windows for the dedup keepers, the banded LSH join (never a corpus
    self-join), cluster-blocked semdedup pairs, per-row Gopher HOFs,
    broadcast vocab/rate tables, shard-local packing windows. Nothing
    new is invented here; the gate pins that the COMPOSITION preserves
    each stage's semantics."""
    frames = _curation_stage_frames(spark, sf_dir)
    return _curation_ledger(frames)


def _curation_stage_frames(
    spark: SparkSession, sf_dir: str
) -> "list[tuple[str, DataFrame]]":
    """The pipeline's stage frames, in order: ('ingest', d0) through
    ('temperature_mix', s10), then the two manifest frames ('packing',
    packs) and ('export', shards). Factored from q_curation_pipeline so
    each stage's MARGINAL cost can be timed against the exact production
    frames (the per-stage table in SCALING_r17.md §2)."""
    from gcp_healthcare_data_pipeline_spark.operators.dedup import (  # noqa: PLC0415
        band_keys as _band_keys,
    )
    from gcp_healthcare_data_pipeline_spark.queries.dedup_queries import (  # noqa: PLC0415
        _JACCARD_THRESHOLD,
    )
    from gcp_healthcare_data_pipeline_spark.queries.text_queries import (  # noqa: PLC0415
        _LM_KEEP_THRESHOLD,
        _LM_MIN_DF,
        gopher_repetition_metrics,
    )
    from gcp_healthcare_data_pipeline_spark.queries.training_queries import (  # noqa: PLC0415
        _CONTAM_THRESHOLD,
        _N_SHARDS,
        _PACK_BUDGET,
        _PACK_SHARDS,
        _hash_bucket,
    )
    from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (  # noqa: PLC0415
        _semdedup_drops,
    )
    from gcp_healthcare_data_pipeline_spark.functions.vectors import (  # noqa: PLC0415
        as_double,
    )

    def ckpt(df: DataFrame) -> DataFrame:
        # localCheckpoint, deliberately: a persist() chain was tried in
        # r17 — it defers all execution to the ledger's single action,
        # but 13 levels of nested InMemoryRelations (each embedding the
        # previous stage's adaptive plan) blew up plan rendering/
        # planning outright. The checkpoint cuts the lineage flat per
        # stage; its toRdd does materialize each stage eagerly under
        # AQE, which is the measured cost of this query (see
        # OPTIMIZATION_r17.md §D).
        return df.localCheckpoint(eager=False)

    d0 = load_tables(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    # 1: hold out the eval split (it screens stage 9; it never trains)
    s1 = ckpt(d0.filter(F.col("doc_id") % 10 != 0))
    # 2: raw exact dedup
    s2 = ckpt(_keep_first_per_key(s1, F.md5("text")))
    # 3: canonicalization-keyed dedup
    s3 = ckpt(_keep_first_per_key(s2, F.md5(F.expr(_CANON))))
    # 4: MinHash-LSH near-dup removal on the survivor set
    r, nb, k = _corpus_lsh_params(spark, sf_dir)  # the corpus epoch shape
    sh4 = ckpt(
        with_shingles(s3.select("doc_id", "text"), "text", n=3).select(
            "doc_id", "shingles"
        )
    )
    sig4 = minhash_signatures(sh4, "doc_id", "shingles", k=k)
    cand4 = lsh_candidate_pairs(sig4, "doc_id", "sig", bands=nb, rows_per_band=r)
    a4 = sh4.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b4 = sh4.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    losers = (
        cand4.join(a4, "id_a")
        .join(b4, "id_b")
        .filter(
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
            >= _JACCARD_THRESHOLD
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s4 = ckpt(s3.join(losers, "doc_id", "left_anti"))
    # 5: semantic dedup over the survivors' vectors
    vecs = (
        s4.select(F.col("doc_id").alias("vec_id"))
        .join(
            load_tables(spark, sf_dir, "embeddings").select(
                "vec_id", as_double("embedding").alias("v")
            ),
            "vec_id",
        )
        .select("vec_id", "v")
    )
    sdrops = _semdedup_drops(vecs).select(F.col("id_drop").alias("doc_id"))
    s5 = ckpt(s4.join(sdrops, "doc_id", "left_anti"))
    # 6: Gopher intra-document repetition gate (per-row, zero exchanges)
    gkeep = gopher_repetition_metrics(
        s5.select("doc_id", F.split("text", " ").alias("ws"))
    ).filter(F.col("keep") == 1).select("doc_id")
    s6 = ckpt(s5.join(gkeep, "doc_id"))
    # 7: per-language median quality gate on the survivor set
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("double")
    stop = F.size(
        F.filter(
            toks,
            lambda t: F.array_contains(F.array(*[F.lit(w) for w in STOPWORDS]), t),
        )
    ).cast("double")
    punct_ratio = F.length(
        F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")
    ).cast("double") / F.length("text")
    q = F.round(
        F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.4) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.2) * F.least(stop / n_tok * F.lit(5.0), F.lit(1.0)),
        6,
    )
    wq = Window.partitionBy("lang").orderBy("_q")
    s7 = ckpt(
        s6.withColumn("_q", q)
        .withColumn("_pct", F.round(F.percent_rank().over(wq), 6))
        .filter(F.col("_pct") >= 0.5)
        .drop("_q", "_pct")
    )
    # 8: unigram LM gate — model trained on the survivor set itself
    ltoks = s7.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    lcnt = ltoks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    ltot = lcnt.agg(F.sum("cnt").alias("n_total"))
    lvocab = lcnt.filter(F.col("cnt") >= _LM_MIN_DF)
    logp = F.log(
        F.coalesce(F.col("cnt"), F.lit(1)).cast("double") / F.col("n_total")
    )
    lm_pass = (
        ltoks.join(F.broadcast(lvocab), "tok", "left")
        .crossJoin(F.broadcast(ltot))
        .groupBy("doc_id")
        # ROUNDED before the cutoff (both engines): the unrounded mean
        # of logs is order-dependent in the last ulps, and a survivor
        # corpus could land a doc exactly on the boundary
        .agg(F.round(F.avg(logp), 6).alias("_lp"))
        .filter(F.col("_lp") >= _LM_KEEP_THRESHOLD)
        .select("doc_id")
    )
    s8 = ckpt(s7.join(lm_pass, "doc_id"))
    # 9: contamination screen vs the HELD-OUT eval shingle set
    eval_sh = (
        with_shingles(
            d0.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text"),
            "text", n=3,
        )
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    surv_sh = with_shingles(
        s8.select("doc_id", "text"), "text", n=3
    ).select("doc_id", F.explode("shingles").alias("shingle"))
    contaminated = (
        surv_sh.join(eval_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("_hits"),
        )
        .filter(F.col("_hits") / F.col("_n") > _CONTAM_THRESHOLD)
        .select("doc_id")
    )
    s9 = ckpt(s8.join(contaminated, "doc_id", "left_anti"))
    # 10: temperature mix (alpha=0.5) from the survivor language counts
    tc = s9.groupBy("lang").agg(F.count(F.lit(1)).alias("_nl"))
    wall = Window.partitionBy()
    tr = tc.withColumn(
        "_keep_pct",
        F.floor(
            100.0
            * F.sqrt(F.min("_nl").over(wall).cast("double") / F.col("_nl"))
        ).cast("bigint"),
    ).select("lang", "_keep_pct")
    s10 = ckpt(
        s9.join(F.broadcast(tr), "lang")
        .filter(_hash_bucket(F.col("doc_id")) < F.col("_keep_pct"))
        .drop("_keep_pct")
    )
    # 11/12: packing + export manifests over the final survivors
    wp = (
        Window.partitionBy("_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packs = (
        s10.select(
            "doc_id",
            (F.col("doc_id") % _PACK_SHARDS).alias("_shard"),
            F.size(F.split("text", " ")).alias("_nt"),
        )
        .withColumn("_cum", F.sum("_nt").over(wp))
        .select(
            "_shard",
            F.floor((F.col("_cum") - F.col("_nt")) / F.lit(_PACK_BUDGET)).alias(
                "_pack"
            ),
        )
        .distinct()
    )
    pos = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"),
                              F.lit("seed42"))),
            1, 12,
        ),
        16, 10,
    ).cast("bigint")
    shards = s10.select((pos % _N_SHARDS).alias("_sh")).distinct()

    return [
        ("ingest", d0), ("heldout_split", s1), ("exact_dedup", s2),
        ("canonical_dedup", s3), ("minhash_lsh", s4), ("semdedup", s5),
        ("gopher_repetition", s6), ("quality_gate", s7), ("lm_gate", s8),
        ("contamination", s9), ("temperature_mix", s10),
        ("packing", packs), ("export", shards),
    ]


def _curation_ledger(frames: "list[tuple[str, DataFrame]]") -> DataFrame:
    """(stage_idx, stage, rows_in, rows_out) from the stage frames:
    rows_in of stage k = rows_out of stage k-1 (the two manifest stages
    both consume the final survivor set). Counts are 1-row lazily
    checkpointed aggregates crossJoined pairwise — tiny frames only."""

    def cnt(df: DataFrame) -> DataFrame:
        # no checkpoint: the parent stage frame is persisted, so the
        # two consumers of each count (rows_out of stage k, rows_in of
        # stage k+1) re-run only a 1-row aggregate over cached blocks
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))

    counts = [(name, cnt(df)) for name, df in frames]
    c0 = counts[0][1]
    entries = [(0, "ingest", c0, c0)]
    prev = c0
    for i, (name, cur) in enumerate(counts[1:-2], start=1):
        entries.append((i, name, prev, cur))
        prev = cur
    entries.append((11, counts[-2][0], prev, counts[-2][1]))
    entries.append((12, counts[-1][0], prev, counts[-1][1]))

    ledger = None
    for idx, name, cin, cout in entries:
        row = (
            cin.select(F.col("_n").alias("rows_in"))
            .crossJoin(cout.select(F.col("_n").alias("rows_out")))
            .select(
                F.lit(idx).alias("stage_idx"),
                F.lit(name).alias("stage"),
                "rows_in",
                "rows_out",
            )
        )
        ledger = row if ledger is None else ledger.unionByName(row)
    return ledger


def _curation_pipeline_oracle() -> str:
    from gcp_healthcare_data_pipeline_spark.queries.text_queries import (  # noqa: PLC0415
        _LM_KEEP_THRESHOLD,
        _LM_MIN_DF,
        _REP_DUP_10GRAM_MAX,
        _REP_DUP_PASSAGE_MAX,
        _REP_PASSAGE_W,
        _REP_TOP_BIGRAM_MAX,
    )
    from gcp_healthcare_data_pipeline_spark.queries.training_queries import (  # noqa: PLC0415
        _CONTAM_THRESHOLD,
        _N_SHARDS,
        _PACK_BUDGET,
        _PACK_SHARDS,
    )
    from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (  # noqa: PLC0415
        _COS_SQL,
        _SEMDEDUP_THR,
        _c0_sql,
        _hier_assign_sql,
    )

    return f"""
WITH d0 AS MATERIALIZED (
  SELECT doc_id, text, lang, source FROM documents
), s1 AS MATERIALIZED (
  SELECT * FROM d0 WHERE doc_id % 10 <> 0
), s2 AS MATERIALIZED (
  SELECT doc_id, text, lang, source FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM s1) _x WHERE rn = 1
), s3 AS MATERIALIZED (
  SELECT doc_id, text, lang, source FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY md5({_CANON_SQL}) ORDER BY doc_id) AS rn
    FROM s2) _x WHERE rn = 1
), sh AS MATERIALIZED (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM s3) _t
  WHERE len(toks) >= 3
), {_lsh_sql_cte("sh", count_src="documents")}, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
), losers AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b
  WHERE ROUND(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        / len(list_distinct(x.shingles || y.shingles)), 6) >= {_JACCARD_MIN}
), s4 AS MATERIALIZED (
  SELECT s3.* FROM s3
  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = s3.doc_id)
), e4 AS MATERIALIZED (
  SELECT s4.doc_id AS vec_id, emb.embedding::DOUBLE[] AS v
  FROM s4 JOIN embeddings emb ON emb.vec_id = s4.doc_id
), {_c0_sql("e4", "c0p")}, {_hier_assign_sql("c0p", "a1p", "p1", "e4")}, d1p AS (
  SELECT centroid_id, i AS pos, AVG(v[i]) AS cval
  FROM a1p, UNNEST(range(1, len(v) + 1)) AS t(i)
  GROUP BY 1, 2
), c1p AS (
  SELECT centroid_id, list(cval ORDER BY pos) AS c FROM d1p GROUP BY 1
), {_hier_assign_sql("c1p", "a2p", "p2", "e4")}, gpairs AS (
  SELECT b.vec_id AS id_drop, a.v AS qv, b.v AS cv
  FROM a2p a JOIN a2p b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
), sdrops AS (
  SELECT DISTINCT id_drop AS doc_id FROM gpairs
  WHERE {_COS_SQL} >= {_SEMDEDUP_THR}
), s5 AS MATERIALIZED (
  SELECT s4.* FROM s4
  WHERE NOT EXISTS (SELECT 1 FROM sdrops x WHERE x.doc_id = s4.doc_id)
), grep_g AS (
  SELECT doc_id,
    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
      i -> array_to_string(ws[i : i + 1], ' '))
      ELSE []::VARCHAR[] END AS bg,
    CASE WHEN len(ws) >= 10 THEN list_transform(range(1, len(ws) - 8),
      i -> array_to_string(ws[i : i + 9], ' '))
      ELSE []::VARCHAR[] END AS tg,
    list_transform(range(0, CAST(ceil(len(ws) / {_REP_PASSAGE_W}.0)
        AS BIGINT)),
      i -> array_to_string(
        ws[i * {_REP_PASSAGE_W} + 1 : i * {_REP_PASSAGE_W}
           + {_REP_PASSAGE_W}], ' ')) AS ps
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM s5) _w
), grep_topb AS (
  SELECT doc_id, MAX(c) AS top_n FROM (
    SELECT doc_id, b, COUNT(*) AS c
    FROM (SELECT doc_id, UNNEST(bg) AS b FROM grep_g) _b GROUP BY 1, 2
  ) _c GROUP BY 1
), gkeep AS (
  SELECT g.doc_id FROM grep_g g LEFT JOIN grep_topb t ON t.doc_id = g.doc_id
  WHERE (CASE WHEN len(bg) > 0
          THEN ROUND(COALESCE(t.top_n, 0) * 1.0 / len(bg), 6)
          ELSE 0.0 END) <= {_REP_TOP_BIGRAM_MAX}
    AND (CASE WHEN len(tg) > 0
          THEN ROUND((len(tg) - len(list_distinct(tg))) * 1.0 / len(tg), 6)
          ELSE 0.0 END) <= {_REP_DUP_10GRAM_MAX}
    AND (CASE WHEN len(ps) > 0
          THEN ROUND((len(ps) - len(list_distinct(ps))) * 1.0 / len(ps), 6)
          ELSE 0.0 END) <= {_REP_DUP_PASSAGE_MAX}
), s6 AS MATERIALIZED (
  SELECT s5.* FROM s5 JOIN gkeep USING (doc_id)
), qsc AS (
  SELECT doc_id,
    ROUND(0.4 * LEAST(n_tok / 100.0, 1.0)
        + 0.4 * (1.0 - punct_ratio)
        + 0.2 * LEAST(stop / n_tok * 5.0, 1.0), 6) AS q
  FROM (
    SELECT doc_id,
      CAST(len(toks) AS DOUBLE) AS n_tok,
      CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL})))
           AS DOUBLE) AS stop,
      CAST(LENGTH(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
           AS DOUBLE) / LENGTH(text) AS punct_ratio
    FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM s6) _t
  ) _m
), qranked AS (
  SELECT s6.doc_id,
    ROUND(PERCENT_RANK() OVER (PARTITION BY s6.lang ORDER BY qsc.q), 6)
      AS pct
  FROM s6 JOIN qsc USING (doc_id)
), s7 AS MATERIALIZED (
  SELECT s6.* FROM s6 JOIN qranked USING (doc_id) WHERE qranked.pct >= 0.5
), ltoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM s7
), lcnt AS (
  SELECT tok, COUNT(*) AS cnt FROM ltoks GROUP BY 1
), ltot AS (
  SELECT SUM(cnt) AS n_total FROM lcnt
), lvocab AS (
  SELECT tok, cnt FROM lcnt WHERE cnt >= {_LM_MIN_DF}
), lm_pass AS (
  SELECT t.doc_id
  FROM ltoks t LEFT JOIN lvocab v USING (tok) CROSS JOIN ltot
  GROUP BY t.doc_id
  HAVING ROUND(AVG(ln(CAST(COALESCE(v.cnt, 1) AS DOUBLE) / n_total)), 6)
         >= {_LM_KEEP_THRESHOLD}
), s8 AS MATERIALIZED (
  SELECT s7.* FROM s7 JOIN lm_pass USING (doc_id)
), esh AS MATERIALIZED (
  SELECT DISTINCT u.shingle
  FROM (
    SELECT {_SHINGLES_SQL} AS shingles
    FROM (SELECT string_split(text, ' ') AS toks
          FROM d0 WHERE doc_id % 10 = 0) _t
    WHERE len(toks) >= 3
  ) _s, UNNEST(_s.shingles) AS u(shingle)
), ssh AS MATERIALIZED (
  SELECT doc_id, u.shingle
  FROM (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM s8) _t
    WHERE len(toks) >= 3
  ) _s, UNNEST(_s.shingles) AS u(shingle)
), contaminated AS (
  SELECT doc_id FROM (
    SELECT s.doc_id, COUNT(*) AS n,
      SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS hits
    FROM ssh s LEFT JOIN esh e USING (shingle)
    GROUP BY 1) _c
  WHERE CAST(hits AS DOUBLE) / n > {_CONTAM_THRESHOLD}
), s9 AS MATERIALIZED (
  SELECT s8.* FROM s8
  WHERE NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = s8.doc_id)
), tc AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl FROM s9 GROUP BY 1
), tm AS (
  SELECT MIN(nl) AS mn FROM tc
), tr AS (
  SELECT lang,
    CAST(FLOOR(100.0 * sqrt(CAST(mn AS DOUBLE) / nl)) AS BIGINT) AS keep_pct
  FROM tc CROSS JOIN tm
), s10 AS MATERIALIZED (
  SELECT s9.* FROM s9 JOIN tr USING (lang)
  WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100)
        < keep_pct
), pcum AS MATERIALIZED (
  SELECT doc_id % {_PACK_SHARDS} AS shard,
         len(string_split(text, ' ')) AS n_tokens,
         SUM(len(string_split(text, ' '))) OVER (
           PARTITION BY doc_id % {_PACK_SHARDS} ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) AS c
  FROM s10
), pk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT shard, CAST(FLOOR((c - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
      AS pack_id
    FROM pcum GROUP BY 1, 2) _p
), ex AS (
  SELECT CAST(COUNT(DISTINCT
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':seed42'), 1, 12))::BIGINT
    % {_N_SHARDS}) AS BIGINT) AS n
  FROM s10
)
SELECT 0 AS stage_idx, 'ingest' AS stage,
  (SELECT COUNT(*) FROM d0) AS rows_in,
  (SELECT COUNT(*) FROM d0) AS rows_out
UNION ALL SELECT 1, 'heldout_split',
  (SELECT COUNT(*) FROM d0), (SELECT COUNT(*) FROM s1)
UNION ALL SELECT 2, 'exact_dedup',
  (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2)
UNION ALL SELECT 3, 'canonical_dedup',
  (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3)
UNION ALL SELECT 4, 'minhash_lsh',
  (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM s4)
UNION ALL SELECT 5, 'semdedup',
  (SELECT COUNT(*) FROM s4), (SELECT COUNT(*) FROM s5)
UNION ALL SELECT 6, 'gopher_repetition',
  (SELECT COUNT(*) FROM s5), (SELECT COUNT(*) FROM s6)
UNION ALL SELECT 7, 'quality_gate',
  (SELECT COUNT(*) FROM s6), (SELECT COUNT(*) FROM s7)
UNION ALL SELECT 8, 'lm_gate',
  (SELECT COUNT(*) FROM s7), (SELECT COUNT(*) FROM s8)
UNION ALL SELECT 9, 'contamination',
  (SELECT COUNT(*) FROM s8), (SELECT COUNT(*) FROM s9)
UNION ALL SELECT 10, 'temperature_mix',
  (SELECT COUNT(*) FROM s9), (SELECT COUNT(*) FROM s10)
UNION ALL SELECT 11, 'packing',
  (SELECT COUNT(*) FROM s10), (SELECT n FROM pk)
UNION ALL SELECT 12, 'export',
  (SELECT COUNT(*) FROM s10), (SELECT n FROM ex)
"""


_ORACLE_CURATION_PIPELINE = _curation_pipeline_oracle()


QUERIES = [
    QuerySpec(
        "q_corpus_curation", q_corpus_curation, _ORACLE_CORPUS_CURATION,
        "ext:curation (quality+lang+dedup composition)",
    ),
    QuerySpec(
        "q_curation_pipeline", q_curation_pipeline,
        _ORACLE_CURATION_PIPELINE,
        "ext:curation (the full composed pretraining flow: dedup chain "
        "-> semdedup -> gates -> mix -> pack/export, survivor ledger)",
    ),
    QuerySpec(
        "q_boilerplate", q_boilerplate, _ORACLE_BOILERPLATE,
        "ext:curation (per-source boilerplate shingle fraction)",
    ),
    QuerySpec(
        "q_events_sliding", q_events_sliding, _ORACLE_EVENTS_SLIDING,
        "ext:streaming-batch sliding",
    ),
    QuerySpec(
        "q_user_zscore", q_user_zscore, _ORACLE_USER_ZSCORE,
        "ext:applyInPandas grouped-map",
    ),
]
