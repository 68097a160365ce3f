"""Text-analysis queries over the ``documents`` table (north-star ops:
language-ID, quality scoring, token counting, fingerprinting)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    lang_predict,
    lang_scores,
    punct_count,
    token_count,
    tokens,
)
from gcp_healthcare_data_pipeline_spark.functions.windows import (
    tiny_frame_window,
)
from gcp_healthcare_data_pipeline_spark.queries.registry import QuerySpec
from gcp_healthcare_data_pipeline_spark.session import load_tables


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        token_count(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("char_len"),
    )


_ORACLE_TOKEN_COUNT = """
SELECT
  doc_id,
  len(string_split(text, ' ')) AS n_tokens,
  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
  LENGTH(text) AS char_len
FROM documents
"""


def _quality_parts(docs: DataFrame):
    """(docs_with_toks, n_tok, punct_ratio, stop_ratio, score) — the
    shared quality formula, plain double arithmetic so the identical
    expression tree in the oracle is bit-identical."""
    docs = docs.withColumn("_toks", tokens("text"))
    n_tok = F.size("_toks").cast("double")
    stop = F.size(
        F.filter(
            F.col("_toks"),
            lambda t: F.array_contains(F.array(*[F.lit(w) for w in STOPWORDS]), t),
        )
    ).cast("double")
    punct_ratio = punct_count(F.col("text")).cast("double") / F.length("text")
    stop_ratio = stop / n_tok
    score = (
        F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.4) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.2) * F.least(stop_ratio * F.lit(5.0), F.lit(1.0))
    )
    return docs, n_tok, punct_ratio, stop_ratio, score


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / punctuation / stopword-ratio heuristics.

    Score formula is plain double arithmetic (identical expression tree in
    the oracle => bit-identical), rounded to 6dp.
    """
    docs, n_tok, punct_ratio, stop_ratio, score = _quality_parts(
        load_tables(spark, sf_dir, "documents")
    )
    return docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
_ORACLE_TEXT_QUALITY = f"""
WITH d AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(toks) AS DOUBLE) AS n_tok,
    CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE) AS stop,
    CAST(LENGTH(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
         AS DOUBLE) / LENGTH(text) AS punct_ratio
  FROM d
)
SELECT doc_id,
  CAST(n_tok AS BIGINT) AS n_tokens,
  ROUND(punct_ratio, 6) AS punct_ratio,
  ROUND(stop / n_tok, 6) AS stopword_ratio,
  ROUND(0.4 * LEAST(n_tok / 100.0, 1.0)
      + 0.4 * (1.0 - punct_ratio)
      + 0.2 * LEAST(stop / n_tok * 5.0, 1.0), 6) AS quality_score
FROM m
"""


# Gopher-style repetition thresholds (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", table A1 — adapted from character-mass
# to token-occurrence fractions since the corpus has no newlines and
# the tokenizer is whitespace): a doc is dropped when its most common
# bigram covers > 20% of bigram occurrences, when > 10% of its 10-gram
# occurrences are repeats of an earlier one, or when > 30% of its
# disjoint 5-word passages duplicate an earlier passage (the
# duplicate-line-fraction analog).
_REP_TOP_BIGRAM_MAX = 0.20
_REP_DUP_10GRAM_MAX = 0.10
_REP_DUP_PASSAGE_MAX = 0.30
_REP_PASSAGE_W = 5


def _rep_grams_sql(g: int) -> str:
    """Stride-1 g-gram strings of the split column `ws`, empty array
    for docs shorter than g (sequence(1,0) would DESCEND in Spark)."""
    return (
        f"CASE WHEN size(ws) >= {g} THEN "
        f"transform(sequence(1, size(ws) - {g} + 1), "
        f"i -> concat_ws(' ', slice(ws, i, {g}))) "
        f"ELSE array() END"
    )


def q_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition filters — the Gopher repetition-rule
    family (Rae et al. 2021 §A1.1), the standard public quality gate
    the text family lacked: cross-document dedup (q_dedup_*) removes
    corpus-level copies, but a single document that repeats ITSELF
    (scraper loops, boilerplate stutter, keyword stuffing) passes every
    cross-doc screen and still poisons a training mix.

    Per doc: the token-occurrence share of the most frequent bigram,
    the fraction of 10-gram occurrences that repeat an earlier one, the
    fraction of disjoint 5-word passages duplicating an earlier passage
    (the duplicate-line analog), and the keep flag at the documented
    thresholds.

    Plan shape — the 100 TB ideal for a text filter: every metric is a
    per-row HOF over the token array (grams via transform+slice; the
    top-bigram count via sort + one linear run-length fold, O(L log L)
    per row), so the WHOLE query is one Project over the parquet scan —
    zero exchanges, zero candidate space, embarrassingly parallel. The
    oracle recomputes the mode with unnest+GROUP BY; values match
    because both count the same multiset."""
    docs = load_tables(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    return gopher_repetition_metrics(docs)


def gopher_repetition_metrics(docs: DataFrame) -> DataFrame:
    """The q_repetition_gopher body over any (doc_id, ws) frame —
    factored so the composed curation pipeline (q_curation_pipeline)
    can gate its survivor set with the IDENTICAL per-row metrics."""
    bg = _rep_grams_sql(2)
    tg = _rep_grams_sql(10)
    ps = (
        f"transform(sequence(0, cast(ceil(size(ws) / {_REP_PASSAGE_W}.0) "
        f"as int) - 1), i -> concat_ws(' ', "
        f"slice(ws, i * {_REP_PASSAGE_W} + 1, {_REP_PASSAGE_W})))"
    )
    # most-frequent-bigram count: sort the gram array, then a single
    # linear fold tracking the current and best run length — no explode,
    # no shuffle, deterministic
    top_bg = f"""aggregate(array_sort({bg}),
      named_struct('prev', cast(null as string), 'run', 0, 'best', 0),
      (acc, x) -> named_struct('prev', x,
        'run', CASE WHEN x <=> acc.prev THEN acc.run + 1 ELSE 1 END,
        'best', GREATEST(acc.best,
          CASE WHEN x <=> acc.prev THEN acc.run + 1 ELSE 1 END)),
      acc -> acc.best)"""

    def frac(num: str, den: str) -> F.Column:
        return F.round(
            F.when(F.expr(den) > 0, F.expr(num) / F.expr(den)).otherwise(
                F.lit(0.0)
            ),
            6,
        )

    top_bigram_frac = frac(f"cast({top_bg} as double)", f"size({bg})")
    dup_10gram_frac = frac(
        f"cast(size({tg}) - size(array_distinct({tg})) as double)",
        f"size({tg})",
    )
    dup_passage_frac = frac(
        f"cast(size({ps}) - size(array_distinct({ps})) as double)",
        f"size({ps})",
    )
    keep = (
        (top_bigram_frac <= _REP_TOP_BIGRAM_MAX)
        & (dup_10gram_frac <= _REP_DUP_10GRAM_MAX)
        & (dup_passage_frac <= _REP_DUP_PASSAGE_MAX)
    )
    return docs.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        top_bigram_frac.alias("top_bigram_frac"),
        dup_10gram_frac.alias("dup_10gram_frac"),
        dup_passage_frac.alias("dup_passage_frac"),
        keep.cast("int").alias("keep"),
    )


_ORACLE_REPETITION_GOPHER = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), g AS (
  SELECT doc_id, len(ws) AS n_tokens,
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
  FROM d
), bx AS (
  SELECT doc_id, UNNEST(bg) AS b FROM g
), topb AS (
  SELECT doc_id, MAX(c) AS top_n FROM (
    SELECT doc_id, b, COUNT(*) AS c FROM bx GROUP BY 1, 2
  ) GROUP BY 1
), m AS (
  SELECT g.doc_id, g.n_tokens,
    CASE WHEN len(bg) > 0
      THEN ROUND(COALESCE(t.top_n, 0) * 1.0 / len(bg), 6)
      ELSE 0.0 END AS top_bigram_frac,
    CASE WHEN len(tg) > 0
      THEN ROUND((len(tg) - len(list_distinct(tg))) * 1.0 / len(tg), 6)
      ELSE 0.0 END AS dup_10gram_frac,
    CASE WHEN len(ps) > 0
      THEN ROUND((len(ps) - len(list_distinct(ps))) * 1.0 / len(ps), 6)
      ELSE 0.0 END AS dup_passage_frac
  FROM g LEFT JOIN topb t ON t.doc_id = g.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  top_bigram_frac, dup_10gram_frac, dup_passage_frac,
  CAST(top_bigram_frac <= {_REP_TOP_BIGRAM_MAX}
   AND dup_10gram_frac <= {_REP_DUP_10GRAM_MAX}
   AND dup_passage_frac <= {_REP_DUP_PASSAGE_MAX} AS INT) AS keep
FROM m
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with deterministic argmax tie-break."""
    docs = load_tables(spark, sf_dir, "documents")
    docs = docs.withColumn("_toks", tokens("text"))
    scores = lang_scores(F.col("_toks"))
    return docs.select(
        "doc_id",
        scores["en"].alias("en_score"),
        scores["es"].alias("es_score"),
        scores["de"].alias("de_score"),
        lang_predict(scores["en"], scores["es"], scores["de"]).alias("predicted"),
    )


def _marker_sql(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])


_ORACLE_LANG_ID = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id,
    len(list_filter(toks, t -> t IN ({_marker_sql('en')}))) AS en_score,
    len(list_filter(toks, t -> t IN ({_marker_sql('es')}))) AS es_score,
    len(list_filter(toks, t -> t IN ({_marker_sql('de')}))) AS de_score
  FROM d
)
SELECT doc_id, en_score, es_score, de_score,
  CASE WHEN en_score >= es_score AND en_score >= de_score AND en_score > 0
         THEN 'en'
       WHEN es_score >= de_score AND es_score > 0 THEN 'es'
       WHEN de_score > 0 THEN 'de'
       ELSE 'und' END AS predicted
FROM s
"""


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the confusion matrix of the
    marker-word language ID against the labeled ``lang`` column, with
    per-cell share of the actual class — precision/recall inputs for
    any categorical model scored at corpus scale. One pass computes the
    deterministic prediction map-side; the matrix is a tiny
    (|actual| × |predicted|) aggregate with the per-actual totals
    supplied by a window over it.
    """
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, "documents")
    docs = docs.withColumn("_toks", tokens("text"))
    scores = lang_scores(F.col("_toks"))
    pred = lang_predict(scores["en"], scores["es"], scores["de"])
    cell = (
        docs.select(F.col("lang").alias("actual"), pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    per_actual = Window.partitionBy("actual")
    return cell.select(
        "actual",
        "predicted",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(per_actual),
            6,
        ).alias("share_of_actual"),
    )


_ORACLE_LANG_CONFUSION = f"""
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT lang AS actual,
    len(list_filter(toks, t -> t IN ({_marker_sql('en')}))) AS en_score,
    len(list_filter(toks, t -> t IN ({_marker_sql('es')}))) AS es_score,
    len(list_filter(toks, t -> t IN ({_marker_sql('de')}))) AS de_score
  FROM d
), p AS (
  SELECT actual,
    CASE WHEN en_score >= es_score AND en_score >= de_score
              AND en_score > 0 THEN 'en'
         WHEN es_score >= de_score AND es_score > 0 THEN 'es'
         WHEN de_score > 0 THEN 'de'
         ELSE 'und' END AS predicted
  FROM s
), cell AS (
  SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM p GROUP BY 1, 2
)
SELECT actual, predicted, n_docs,
  ROUND(CAST(n_docs AS DOUBLE)
        / SUM(n_docs) OVER (PARTITION BY actual), 6) AS share_of_actual
FROM cell
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: raw md5 + order-insensitive token-set md5."""
    docs = load_tables(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.md5("text").alias("exact_hash"),
        fingerprint(toks).alias("tokenset_hash"),
    )


_ORACLE_FINGERPRINT = """
SELECT
  doc_id,
  md5(text) AS exact_hash,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
    AS tokenset_hash
FROM documents
"""


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization: alpha runs / digit runs / single other
    chars as separate tokens (the pre-tokenizer shape BPE vocabularies
    assume), counted per document."""
    docs = load_tables(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe_tokens"),
    )


_ORACLE_TOKEN_COUNT_BPE = r"""
SELECT doc_id,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
  len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')))
    AS n_distinct_bpe_tokens
FROM documents
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint: fold h = (h*31 + b) mod p
    over per-token md5-derived bases. Equal only for documents with the
    SAME token sequence (the order-insensitive twin is q_fingerprint)."""
    docs = load_tables(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(
            "aggregate(transform(split(text, ' '), "
            "t -> cast(conv(substr(md5(t), 1, 12), 16, 10) as bigint)), "
            "cast(0 as bigint), "
            "(acc, b) -> pmod(acc * 31 + b, 2147483647))"
        ).alias("rolling_hash"),
    )


_ORACLE_ROLLING_FINGERPRINT = """
SELECT doc_id,
  list_reduce(
    [0::BIGINT] || list_transform(string_split(text, ' '),
                     t -> ('0x' || substr(md5(t), 1, 12))::BIGINT),
    (acc, b) -> (acc * 31 + b) % 2147483647) AS rolling_hash
FROM documents
"""


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: fraction of word 3-gram occurrences
    that are repeats (1 - distinct/total). A standard LLM-corpus quality
    signal (boilerplate / template spam scores high). Pure per-row HOFs
    — narrow plan, no shuffle, scales linearly with corpus bytes."""
    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    gram = "_toks[i] || ' ' || _toks[i + 1] || ' ' || _toks[i + 2]"
    return (
        docs.withColumn("_toks", tokens("text"))
        .filter(F.size("_toks") >= 3)
        .withColumn(
            "_grams",
            F.expr(f"transform(sequence(0, size(_toks) - 3), i -> {gram})"),
        )
        .select(
            "doc_id",
            F.size("_grams").alias("n_grams"),
            F.size(F.array_distinct("_grams")).alias("n_distinct"),
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct("_grams")) / F.size("_grams"),
                6,
            ).alias("rep_ratio"),
        )
    )


_ORACLE_REPETITION_RATIO = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
    list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS grams
  FROM d WHERE len(toks) >= 3
)
SELECT doc_id,
  len(grams) AS n_grams,
  len(list_distinct(grams)) AS n_distinct,
  ROUND(1.0 - len(list_distinct(grams)) / len(grams), 6) AS rep_ratio
FROM g
"""


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality gating: keep documents at or above their
    language's median quality score (corpus curation's usual 'filter by
    per-slice quantile' step). percent_rank over (lang, rounded score)
    is deterministic because ties rank equally; one window shuffle on
    lang — at 100 TB the partition count follows the language count, so
    heavy languages would be range-partitioned by score instead (same
    semantics, Spark does this automatically for window ORDER BY)."""
    from pyspark.sql import Window

    scored = q_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("quality_score")
    return (
        docs.join(scored, "doc_id")
        .withColumn("lang_pct", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("lang_pct") >= 0.5)
        .select("doc_id", "lang", "quality_score", "lang_pct")
    )


_ORACLE_QUALITY_GATE = f"""
WITH d AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id, lang,
    CAST(len(toks) AS DOUBLE) AS n_tok,
    CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE) AS stop,
    CAST(LENGTH(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
         AS DOUBLE) / LENGTH(text) AS punct_ratio
  FROM d
), scored AS (
  SELECT doc_id, lang,
    ROUND(0.4 * LEAST(n_tok / 100.0, 1.0)
        + 0.4 * (1.0 - punct_ratio)
        + 0.2 * LEAST(stop / n_tok * 5.0, 1.0), 6) AS quality_score
  FROM m
), ranked AS (
  SELECT doc_id, lang, quality_score,
    ROUND(PERCENT_RANK() OVER (
      PARTITION BY lang ORDER BY quality_score), 6) AS lang_pct
  FROM scored
)
SELECT doc_id, lang, quality_score, lang_pct
FROM ranked WHERE lang_pct >= 0.5
"""


_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48  # 16-token overlap between adjacent chunks


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into fixed-size token windows with overlap (the
    standard pre-training chunking step). Chunk starts come from a
    per-row sequence HOF + posexplode — the fan-out happens inside the
    scan stage with no shuffle at all; chunk text is emitted as an md5
    so the compare pins every chunk's exact content without shipping
    the text itself."""
    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.withColumn("_toks", tokens("text"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(_toks) - 1, {_CHUNK_STRIDE}),"
                    f" s -> slice(_toks, s + 1, {_CHUNK_TOKENS}))"
                )
            ).alias("chunk_idx", "_chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("_chunk").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", "_chunk")).alias("chunk_hash"),
        )
    )


_ORACLE_DOC_CHUNKING = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), starts AS (
  SELECT doc_id, toks, s, CAST(s / {_CHUNK_STRIDE} AS INT) AS chunk_idx
  FROM d, UNNEST(range(0, len(toks), {_CHUNK_STRIDE})) AS t(s)
), chunks AS (
  SELECT doc_id, chunk_idx,
    list_slice(toks, s + 1, s + {_CHUNK_TOKENS}) AS chunk
  FROM starts
)
SELECT doc_id, chunk_idx,
  len(chunk) AS n_chunk_tokens,
  md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM chunks
"""


def q_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean corpus frequency of each document's tokens — a statistical
    commonness/rarity proxy (very low = unusual vocabulary or noise,
    very high = boilerplate). Two stages: corpus unigram counts
    (explode -> groupBy token, map-side combined), then a token join
    back and a per-doc average. All integer sums until the final
    division — no libm transcendentals, so the oracle matches exactly.
    No global window or sort anywhere, unlike rank-based scores."""
    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    posting = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    vocab = posting.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    return (
        posting.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("tf"), 4).alias("mean_token_freq"),
        )
    )


_ORACLE_RARITY_SCORE = """
WITH posting AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM posting GROUP BY 1
)
SELECT p.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(AVG(v.tf), 4) AS mean_token_freq
FROM posting p JOIN vocab v USING (token)
GROUP BY 1
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most frequent tokens per language (exact heavy hitters).

    Plan: explode -> partial-aggregated groupBy(lang, token) -> per-lang
    top-k window. The groupBy map-side combine collapses the exploded
    token stream before the shuffle, so shuffle volume is bounded by
    |vocab| x |langs|, not corpus token count — the property that keeps
    this viable at 100 TB. Tie-break on token for rank stability.
    """
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("lang", "token", "n_occurrences", "rank")
    )


_ORACLE_HEAVY_HITTERS = """
WITH posting AS (
  SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents
), counts AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM posting GROUP BY 1, 2
), ranked AS (
  SELECT lang, token, n_occurrences,
    CAST(ROW_NUMBER() OVER (PARTITION BY lang
         ORDER BY n_occurrences DESC, token ASC) AS INT) AS rank
  FROM counts
)
SELECT lang, token, n_occurrences, rank FROM ranked WHERE rank <= 10
"""


_BM25_TERMS = ("hash", "merge", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: top-10 documents for a fixed term set.

    The inverted-index shape at scale: the token explode is filtered to
    the query terms BEFORE any shuffle (a scan-stage filter, so shuffle
    volume is |matching postings|, not corpus tokens); document frequency
    and the corpus-wide N / avgdl statistics ride tiny broadcast frames.
    Per-(doc, term) BM25 contributions sum per doc, global top-10.
    """
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, "documents").select(
        "doc_id", "text", F.size(tokens("text")).alias("dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg(F.col("dl").cast("double")).alias("_avgdl"),
    )
    postings = docs.select(
        "doc_id", "dl", F.explode(tokens("text")).alias("term")
    ).filter(F.col("term").isin(*_BM25_TERMS))
    tf = postings.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "_score",
            F.col("_idf")
            * F.col("tf")
            * (_BM25_K1 + 1.0)
            / (
                F.col("tf")
                + _BM25_K1
                * (
                    1.0
                    - _BM25_B
                    + _BM25_B * F.col("dl") / F.col("_avgdl")
                )
            ),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.round(F.sum("_score"), 6).alias("bm25"),
    )
    # top-k FIRST via orderBy().limit() -> TakeOrderedAndProject
    # (per-partition heaps, driver merges k rows); the rank window then
    # touches only those k rows, never the full per-doc score table —
    # ``scored`` is one row per matching document, which at corpus scale
    # would melt a single-partition global window.
    topk = scored.orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    ).limit(10)
    # frame = the 10 TakeOrdered rows; tiny_frame_window keeps the
    # "No Partition Defined" warning reserved for real global windows
    w = tiny_frame_window("doc_id", F.col("bm25").desc(), F.col("doc_id").asc())
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("doc_id", "n_terms_matched", "bm25", "rank")
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)
_ORACLE_BM25_SEARCH = f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl, text FROM documents
), stats AS (
  SELECT COUNT(*) AS n, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM d
), postings AS (
  SELECT doc_id, dl, t.term
  FROM d, UNNEST(string_split(text, ' ')) AS t(term)
  WHERE t.term IN ({_BM25_TERMS_SQL})
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM postings GROUP BY 1, 2, 3
), dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), contrib AS (
  SELECT tf.doc_id,
    ln(1.0 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
      * tf.tf * ({_BM25_K1} + 1.0)
      / (tf.tf + {_BM25_K1}
         * (1.0 - {_BM25_B} + {_BM25_B} * tf.dl / s.avgdl)) AS score
  FROM tf JOIN dft USING (term) CROSS JOIN stats s
), scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         ROUND(SUM(score), 6) AS bm25
  FROM contrib GROUP BY 1
)
SELECT doc_id, n_terms_matched, bm25,
  CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
FROM scored QUALIFY rank <= 10
"""


_BPE_TOP_MERGES = 20


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge-learning iteration: the corpus's top adjacent
    character-pair counts — the statistic a tokenizer trainer maximizes
    at each merge step.

    Scale shape (how real BPE trainers distribute): counts come from the
    frequency-weighted VOCABULARY, not the raw corpus — explode tokens
    once into a (token, count) table (map-side combined, shuffle bounded
    by |vocab|), then enumerate each distinct word's character pairs and
    sum word counts per pair. A 100 TB corpus with a 10M-word vocab does
    the pair work on 10M rows, not 10T tokens. The final top-k window is
    a TakeOrdered (per-partition heaps) — no single-partition window.
    """
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = vocab.filter(F.length("tok") >= 2).select(
        "wc",
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("wc").alias("n"))
    # TakeOrdered top-k first; the rank window sees only k rows
    topk = agg.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(
        _BPE_TOP_MERGES
    )
    # frame = the _BPE_TOP_MERGES TakeOrdered rows (tiny by construction)
    w = tiny_frame_window("pair", F.col("n").desc(), F.col("pair").asc())
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("pair", "n", "rank")
    )


_ORACLE_BPE_MERGES = f"""
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, COUNT(*) AS wc FROM toks GROUP BY 1
), pairs AS (
  SELECT substr(tok, CAST(i AS INT), 2) AS pair, wc
  FROM vocab, UNNEST(range(1, length(tok))) t(i)
  WHERE length(tok) >= 2
), agg AS (
  SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM pairs GROUP BY 1
), ranked AS (
  SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS rank
  FROM agg
)
SELECT pair, n, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_BPE_TOP_MERGES}
"""


_VOCAB_V = 24  # tokenizer vocabulary size (top-V corpus tokens)


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage analysis: the vocabulary is the top-V corpus
    tokens by frequency (ties broken on token text), and every document
    reports its out-of-vocabulary token fraction — the sanity check run
    before committing a tokenizer to a corpus.

    Scale shape: ONE corpus shuffle (token frequency groupBy, map-side
    combined), then the tiny top-V aggregate collapses to a single-row
    array that broadcast-crossJoins back; the per-doc OOV count is a
    map-side HOF filter against that array — no explode and no second
    corpus shuffle.
    """
    docs = load_tables(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .count()
    )
    vocab = (
        freq.orderBy(F.col("count").desc(), F.col("tok"))
        .limit(_VOCAB_V)
        .agg(F.collect_list("tok").alias("vocab"))
    )
    toks = F.split(F.col("text"), " ")
    return (
        docs.crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(
                F.filter(
                    toks, lambda t: ~F.array_contains(F.col("vocab"), t)
                )
            ).cast("bigint").alias("n_oov"),
        )
        .withColumn(
            "oov_pct",
            F.round(F.col("n_oov") * 100.0 / F.col("n_tokens"), 4),
        )
    )


_ORACLE_OOV_RATE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), freq AS (
  SELECT u AS tok, COUNT(*) AS c
  FROM (SELECT unnest(t) AS u FROM toks) GROUP BY 1
), vocab AS (
  SELECT list(tok ORDER BY c DESC, tok ASC)[1:{_VOCAB_V}] AS v FROM freq
)
SELECT doc_id, lang,
  CAST(len(t) AS BIGINT) AS n_tokens,
  CAST(len(list_filter(t, x -> NOT list_contains(v, x))) AS BIGINT) AS n_oov,
  ROUND(len(list_filter(t, x -> NOT list_contains(v, x))) * 100.0
        / len(t), 4) AS oov_pct
FROM toks, vocab
"""


_HASH_K = 64  # feature-hash buckets


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashingTF-style feature hashing: each token maps to one of
    ``_HASH_K`` buckets via md5 (the repo's established
    ``conv(substr(md5))`` ↔ ``('0x'||substr(md5))::BIGINT`` oracle-parity
    trick), producing a fixed-width sparse count vector per document —
    the standard collision-accepting featurizer when a vocabulary is too
    big to broadcast.

    The full vector content is pinned by ``vec_md5`` (md5 over the
    bucket-sorted "bucket:count" string). Plan: explode rides the scan
    stage, then two key-local aggregations — same shuffle shape as the
    other token statistics, no Python.
    """
    docs = load_tables(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("t")
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5(F.col("t")), 1, 6), 16, 10).cast("bigint")
        % _HASH_K,
    )
    per = tok.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    entry = F.concat_ws(
        ":",
        F.lpad(F.col("bucket").cast("string"), 2, "0"),
        F.col("c").cast("string"),
    )
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("nnz"),
        F.md5(F.array_join(F.array_sort(F.collect_list(entry)), " ")).alias(
            "vec_md5"
        ),
    )


_ORACLE_FEATURE_HASHING = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), b AS (
  SELECT doc_id,
         ('0x' || substr(md5(t), 1, 6))::BIGINT % {_HASH_K} AS bucket
  FROM tok
), per AS (
  SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS nnz,
       md5(string_agg(lpad(bucket::VARCHAR, 2, '0') || ':' || c::VARCHAR,
                      ' ' ORDER BY bucket)) AS vec_md5
FROM per GROUP BY 1
"""


# min corpus frequency for a token to enter the LM vocabulary; below it
# the token scores with the floor probability 1/N (an OOV class). 50
# drops the synthetic corpus's rare 'dup' token, exercising the OOV path.
_LM_MIN_DF = 50
_LM_KEEP_THRESHOLD = -6.0  # avg nats/token; ≈ ppl 403 cutoff


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: average log-probability (nats per
    token) of each document under the corpus's own unigram distribution —
    the perplexity-proxy quality gate (CCNet-style) every LLM data
    pipeline runs before training. Low average logprob = gibberish or
    boilerplate-heavy text; the ``keep`` flag applies the cutoff.

    Scale shape: the vocabulary is min-df-capped (``_LM_MIN_DF``) so it
    stays broadcastable no matter how much junk-token long-tail the
    corpus has — rare tokens fall through to a floor probability 1/N
    (an OOV class) via the LEFT join + COALESCE, exactly how production
    scorers bound vocab size. One corpus shuffle builds the counts
    (map-side combined); the scalar total and the capped vocab are both
    broadcast; the per-doc aggregation is the only other exchange. No
    Python, no global sort.
    """
    docs = load_tables(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n_total"))  # one row
    vocab = counts.filter(F.col("cnt") >= _LM_MIN_DF)
    logp = F.log(
        F.coalesce(F.col("cnt"), F.lit(1)).cast("double") / F.col("n_total")
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("cnt").isNull().cast("bigint")).alias("n_oov"),
            F.round(F.avg(logp), 6).alias("avg_logprob"),
            (F.avg(logp) >= F.lit(_LM_KEEP_THRESHOLD)).alias("keep"),
        )
    )


_ORACLE_UNIGRAM_LOGPROB = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), counts AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1
), tot AS (
  SELECT SUM(cnt) AS n_total FROM counts
), vocab AS (
  SELECT tok, cnt FROM counts WHERE cnt >= {_LM_MIN_DF}
)
SELECT t.doc_id,
  COUNT(*) AS n_tokens,
  CAST(SUM(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  ROUND(AVG(ln(CAST(COALESCE(v.cnt, 1) AS DOUBLE) / n_total)), 6)
    AS avg_logprob,
  AVG(ln(CAST(COALESCE(v.cnt, 1) AS DOUBLE) / n_total))
    >= {_LM_KEEP_THRESHOLD} AS keep
FROM toks t LEFT JOIN vocab v USING (tok) CROSS JOIN tot
GROUP BY t.doc_id
"""


_PMI_MIN_DF = 50  # corpus occurrences for vocabulary membership
_PMI_MIN_PAIR = 5  # doc-cooccurrence floor to report a pair


def _pmi_doc_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, arr): each document's sorted distinct IN-VOCAB token set
    (vocab = min-df-capped). The downstream a<b fan-out is C(|arr|, 2)
    per doc — THE pair space whose growth SCALING_r12.md §8 records for
    q_pmi_collocations.

    Plan shape (r12): exploded tokens BROADCAST-HASH-JOIN the vocab
    table — O(1) per token occurrence — then one groupBy(doc_id)
    collect_set rebuilds the per-doc set. The previous formulation
    broadcast the vocab as ONE array row and membership-tested each
    token with ``array_contains`` (a linear scan): per-token work grew
    with |vocab|, and since a growing corpus grows its min-df vocab
    ~linearly, total work was tokens x vocab ~ quadratic — measured
    25.1x on the 10x->100x step by the r12 third-decade probe before
    this change. Docs with zero in-vocab tokens drop out here; they
    contribute no pairs and no presence, so results are identical.
    Checkpointed so the presence and pair branches both reuse one
    tokenization instead of re-scanning the corpus."""
    docs = load_tables(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= _PMI_MIN_DF)
        .select("tok")
    )
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("tok")).alias("arr"))
        .localCheckpoint(eager=False)
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: for every pair of
    vocabulary tokens, how much more often they co-occur in the same
    document than independence predicts — the statistic behind phrase
    detection (word2vec-style bigram joining) and topic co-occurrence
    maps.

    Scale shape: the vocabulary is min-df-capped and joined as a
    broadcast HASH table (O(1) per token occurrence — see
    :func:`_pmi_doc_arrays` for the measured quadratic the previous
    broadcast-array membership scan caused), and the a<b pairs are
    generated by a nested ``transform``/``slice``/``flatten`` — no
    self-join anywhere, and the per-doc pair fan-out is bounded by
    |vocab-distinct-per-doc|², NOT doc length. One exchange counts pair
    document-frequencies, one counts per-token presence (vocab-sized,
    broadcast back). PMI is then arithmetic on three broadcastable
    aggregates.
    """
    docs = load_tables(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    arrs = _pmi_doc_arrays(spark, sf_dir)
    presence = (
        arrs.select(F.explode("arr").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    pairs = arrs.select(
        F.explode(
            F.expr(
                "flatten(transform(arr, (x, i) ->"
                " transform(slice(arr, i + 2, size(arr)),"
                " y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    pair_counts = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _PMI_MIN_PAIR)
    )
    return (
        pair_counts.join(
            F.broadcast(presence.withColumnRenamed("tok", "a")), "a"
        )
        .withColumnRenamed("n_tok", "n_a")
        .join(F.broadcast(presence.withColumnRenamed("tok", "b")), "b")
        .withColumnRenamed("n_tok", "n_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("a").alias("tok_a"),
            F.col("b").alias("tok_b"),
            "n_pair",
            F.round(
                F.log(
                    F.col("n_pair").cast("double") * F.col("n_docs")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


_ORACLE_PMI_COLLOCATIONS = f"""
WITH occ AS (
  SELECT tok, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1
), vocab AS (
  SELECT tok FROM occ WHERE cnt >= {_PMI_MIN_DF}
), pres AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  WHERE tok IN (SELECT tok FROM vocab)
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), tokc AS (
  SELECT tok, COUNT(*) AS n_tok FROM pres GROUP BY 1
), pairc AS (
  SELECT x.tok AS tok_a, y.tok AS tok_b, COUNT(*) AS n_pair
  FROM pres x JOIN pres y ON x.doc_id = y.doc_id AND x.tok < y.tok
  GROUP BY 1, 2
)
SELECT tok_a, tok_b, n_pair,
  ROUND(ln(CAST(n_pair AS DOUBLE) * n_docs
           / (CAST(a.n_tok AS DOUBLE) * b.n_tok)), 6) AS pmi
FROM pairc
JOIN tokc a ON a.tok = tok_a
JOIN tokc b ON b.tok = tok_b
CROSS JOIN n
WHERE n_pair >= {_PMI_MIN_PAIR}
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-comparison matrix: vocabulary Jaccard overlap between
    every pair of sources — the redundancy map consulted before adding
    a new crawl to the mix (a source whose vocabulary is already ~fully
    covered adds little diversity).

    Inverted-index pair generation, never a source×source loop over
    vocabularies: one (source, token) distinct table, a self-join on
    TOKEN (fan-out bounded by sources-per-token ≤ |sources|, the
    posting-list discipline of the dedup family), intersection counts
    per pair, and broadcast per-source vocabulary sizes for the union
    denominator.
    """
    docs = load_tables(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = st.select(F.col("source").alias("src_a"), "tok")
    b = st.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")), "src_a"
        )
        .withColumnRenamed("v", "v_a")
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "src_b")), "src_b"
        )
        .withColumnRenamed("v", "v_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("v_a") + F.col("v_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


_ORACLE_SOURCE_OVERLAP = """
WITH st AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
  FROM documents
), sizes AS (
  SELECT source, COUNT(*) AS v FROM st GROUP BY 1
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_shared,
  ROUND(CAST(n_shared AS DOUBLE) / (sa.v + sb.v - n_shared), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
"""


def q_text_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization-keyed exact dedup — the normalization pass
    (CCNet/RefinedWeb-style) that runs BEFORE hash dedup in a
    training-data pipeline: lower-case, map punctuation to spaces,
    collapse whitespace, trim; then group on md5(canonical). Catches
    the case/spacing/punctuation re-encodings that raw exact dedup
    (q_dedup_exact) misses by construction.

    Re-ingest simulation: the corpus is unioned with a mangled copy
    (upper-cased, double-spaced, id-offset) — every canonical group
    must reunite the original with its mangled twin, so the operator's
    value is visible in ``n_raw_variants >= 2``. The twin offset is
    DERIVED from the corpus (max(doc_id)+1, a broadcast 1-row scalar —
    r14 ADVICE: a fixed +200000 collides with real ids at SFs where
    doc_id >= 200000, and the oracle mirroring the constant hid it),
    so keeper_id = min(doc_id) is always the true original. Pure
    map-side string work + one hash groupBy: the same single-shuffle
    shape as exact dedup at any scale."""
    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    off = docs.agg((F.max("doc_id") + F.lit(1)).alias("_off"))  # one row
    mangled = docs.crossJoin(F.broadcast(off)).select(
        (F.col("doc_id") + F.col("_off")).alias("doc_id"),
        F.upper(F.regexp_replace("text", " ", "  ")).alias("text"),
    )
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return (
        docs.unionByName(mangled)
        .withColumn("_c", canon)
        .groupBy(F.md5("_c").alias("canon_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("text").alias("n_raw_variants"),
        )
        .filter(F.col("n_copies") >= 2)
    )


_ORACLE_TEXT_CANONICAL = """
WITH off AS (
  SELECT MAX(doc_id) + 1 AS o FROM documents
), all_rows AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT o FROM off) AS doc_id,
         upper(regexp_replace(text, ' ', '  ', 'g')) AS text
  FROM documents
), c AS (
  SELECT doc_id, text,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
         ' +', ' ', 'g')) AS canon
  FROM all_rows
)
SELECT md5(canon) AS canon_hash,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies,
       COUNT(DISTINCT text) AS n_raw_variants
FROM c
GROUP BY 1
HAVING COUNT(*) >= 2
"""


_BIGRAM_MIN_DF = 3  # corpus occurrences for bigram-table membership
_BIGRAM_KEEP_THRESHOLD = -3.42  # avg nats/bigram; splits every test SF


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated BIGRAM language-model scoring — the sequence-aware
    upgrade of q_unigram_logprob's perplexity-proxy gate: each document
    scores the average log of p(w2|w1) = 0.75 * c(w1 w2)/c(w1) +
    0.25 * c(w2)/N (Jelinek-Mercer interpolation with unigram backoff),
    so shuffled-token gibberish that fools a unigram gate scores low
    here — bigram structure is what it cannot fake.

    Scale shape mirrors the unigram gate: the bigram table is
    min-df-capped (unseen/rare bigrams fall through to the backoff
    term), the unigram vocab is the same _LM_MIN_DF-capped broadcast
    with a 1-count OOV floor, the scalar total broadcasts, and the only
    corpus-wide exchanges are the two count groupBys and the per-doc
    aggregation. No Python, no global sort."""
    docs = load_tables(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("_toks")).filter(
        F.size("_toks") >= 2
    )
    big = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(_toks) - 2), "
                "i -> struct(_toks[i] AS w1, _toks[i + 1] AS w2))"
            )
        ).alias("_bg"),
    ).select("doc_id", F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    uni = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ucnt"))
    )
    total = uni.agg(F.sum("ucnt").alias("n_total"))  # one row
    vocab = uni.filter(F.col("ucnt") >= _LM_MIN_DF)
    bcnt = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("bcnt"))
        .filter(F.col("bcnt") >= _BIGRAM_MIN_DF)
    )
    u1 = vocab.select(F.col("tok").alias("w1"), F.col("ucnt").alias("c1"))
    u2 = vocab.select(F.col("tok").alias("w2"), F.col("ucnt").alias("c2"))
    # the bigram term is trusted ONLY when w1 is inside the capped vocab:
    # there c1 is the TRUE corpus count, so c(w1 w2) <= c(w1) guarantees
    # p <= 1. Flooring a filtered-out c1 to 1 instead would yield
    # probabilities > 1 (positive logs) for exactly the repetitive
    # rare-token spam the gate exists to reject — found by review, and
    # invisible to the oracle sweep because the oracle mirrored the bug.
    lp = F.log(
        F.when(
            F.col("c1").isNotNull(),
            F.lit(0.75)
            * F.coalesce(F.col("bcnt"), F.lit(0)).cast("double")
            / F.col("c1").cast("double"),
        ).otherwise(F.lit(0.0))
        + F.lit(0.25)
        * F.coalesce(F.col("c2"), F.lit(1)).cast("double")
        / F.col("n_total")
    )
    return (
        big.join(F.broadcast(bcnt), ["w1", "w2"], "left")
        .join(F.broadcast(u1), "w1", "left")
        .join(F.broadcast(u2), "w2", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("bcnt").isNotNull().cast("bigint")).alias(
                "n_seen_bigrams"
            ),
            F.round(F.avg(lp), 6).alias("avg_logprob"),
            (F.avg(lp) >= F.lit(_BIGRAM_KEEP_THRESHOLD)).alias("keep"),
        )
    )


_ORACLE_BIGRAM_LOGPROB = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), big AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM d, UNNEST(range(1, len(toks))) AS t(i)
  WHERE len(toks) >= 2
), tk AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), uni AS (
  SELECT tok, COUNT(*) AS ucnt FROM tk GROUP BY 1
), tot AS (
  SELECT SUM(ucnt) AS n_total FROM uni
), vocab AS (
  SELECT tok, ucnt FROM uni WHERE ucnt >= {_LM_MIN_DF}
), bc AS (
  SELECT w1, w2, COUNT(*) AS bcnt FROM big GROUP BY 1, 2
  HAVING COUNT(*) >= {_BIGRAM_MIN_DF}
), scored AS (
  SELECT b.doc_id,
    CASE WHEN bc.bcnt IS NOT NULL THEN 1 ELSE 0 END AS seen,
    ln(CASE WHEN v1.ucnt IS NOT NULL
            THEN 0.75 * CAST(COALESCE(bc.bcnt, 0) AS DOUBLE)
                 / CAST(v1.ucnt AS DOUBLE)
            ELSE 0.0 END
       + 0.25 * CAST(COALESCE(v2.ucnt, 1) AS DOUBLE) / n_total) AS lp
  FROM big b
  LEFT JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
  LEFT JOIN vocab v1 ON v1.tok = b.w1
  LEFT JOIN vocab v2 ON v2.tok = b.w2
  CROSS JOIN tot
)
SELECT doc_id,
  COUNT(*) AS n_bigrams,
  CAST(SUM(seen) AS BIGINT) AS n_seen_bigrams,
  ROUND(AVG(lp), 6) AS avg_logprob,
  AVG(lp) >= {_BIGRAM_KEEP_THRESHOLD} AS keep
FROM scored GROUP BY 1
"""


QUERIES = [
    QuerySpec("q_token_count", q_token_count, _ORACLE_TOKEN_COUNT, "ext:text"),
    QuerySpec(
        "q_source_overlap", q_source_overlap, _ORACLE_SOURCE_OVERLAP,
        "ext:text (pairwise source vocabulary Jaccard, inverted index)",
    ),
    QuerySpec(
        "q_pmi_collocations", q_pmi_collocations, _ORACLE_PMI_COLLOCATIONS,
        "ext:text (PMI collocation mining, join-free pair generation)",
    ),
    QuerySpec(
        "q_unigram_logprob", q_unigram_logprob, _ORACLE_UNIGRAM_LOGPROB,
        "ext:text (unigram-LM perplexity-proxy quality gate)",
    ),
    QuerySpec(
        "q_bigram_logprob", q_bigram_logprob, _ORACLE_BIGRAM_LOGPROB,
        "ext:text (interpolated bigram-LM quality gate; sequence-aware "
        "upgrade of the unigram gate)",
    ),
    QuerySpec(
        "q_text_canonical", q_text_canonical, _ORACLE_TEXT_CANONICAL,
        "ext:dedup ext:text (canonicalization-keyed exact dedup: "
        "case/punct/whitespace-normalized hash groups)",
    ),
    QuerySpec(
        "q_feature_hashing", q_feature_hashing, _ORACLE_FEATURE_HASHING,
        "ext:text (HashingTF-style fixed-width featurizer)",
    ),
    QuerySpec(
        "q_oov_rate", q_oov_rate, _ORACLE_OOV_RATE,
        "ext:text (tokenizer vocabulary coverage / OOV fraction)",
    ),
    QuerySpec(
        "q_token_count_bpe", q_token_count_bpe, _ORACLE_TOKEN_COUNT_BPE,
        "ext:text",
    ),
    QuerySpec(
        "q_rolling_fingerprint", q_rolling_fingerprint,
        _ORACLE_ROLLING_FINGERPRINT, "ext:text",
    ),
    QuerySpec("q_text_quality", q_text_quality, _ORACLE_TEXT_QUALITY, "ext:text"),
    QuerySpec(
        "q_repetition_gopher", q_repetition_gopher,
        _ORACLE_REPETITION_GOPHER,
        "ext:text (Gopher intra-doc repetition filters: top-bigram "
        "share, duplicate 10-gram fraction, duplicate passage "
        "fraction — one Project over the scan, zero exchanges)",
    ),
    QuerySpec("q_lang_id", q_lang_id, _ORACLE_LANG_ID, "ext:text"),
    QuerySpec(
        "q_lang_confusion", q_lang_confusion, _ORACLE_LANG_CONFUSION,
        "ext:text (classifier confusion matrix vs labeled lang)",
    ),
    QuerySpec(
        "q_bpe_merges", q_bpe_merges, _ORACLE_BPE_MERGES,
        "ext:text (BPE merge-learning statistic on the weighted vocab)",
    ),
    QuerySpec("q_fingerprint", q_fingerprint, _ORACLE_FINGERPRINT, "ext:text"),
    QuerySpec(
        "q_repetition_ratio", q_repetition_ratio, _ORACLE_REPETITION_RATIO,
        "ext:text (intra-doc repetition quality signal)",
    ),
    QuerySpec(
        "q_quality_gate", q_quality_gate, _ORACLE_QUALITY_GATE,
        "ext:text (per-language quantile gating)",
    ),
    QuerySpec(
        "q_doc_chunking", q_doc_chunking, _ORACLE_DOC_CHUNKING,
        "ext:text (overlapping token-window chunking)",
    ),
    QuerySpec(
        "q_rarity_score", q_rarity_score, _ORACLE_RARITY_SCORE,
        "ext:text (corpus-frequency rarity proxy)",
    ),
    QuerySpec(
        "q_heavy_hitters", q_heavy_hitters, _ORACLE_HEAVY_HITTERS,
        "ext:text (exact per-language heavy hitters)",
    ),
    QuerySpec(
        "q_bm25_search", q_bm25_search, _ORACLE_BM25_SEARCH,
        "ext:text (BM25 inverted-index retrieval)",
    ),
]
