"""Deduplication queries over ``documents`` (north-star ops).

- q_dedup_exact: hash-groupBy dedup of a re-ingested batch (the reference's
  claims double-load scenario, claims.py:25) with deterministic keeper.
- q_dedup_minhash_lsh: MinHash banding -> candidate pairs -> exact Jaccard
  verify. The oracle reproduces the identical md5-based signatures, so the
  candidate set (not just the final answer) is engine-portable.
- q_dedup_ngram_jaccard: inverted-index n-gram join with a document-
  frequency cap — the classic exact near-dup path at scale.
- q_dedup_simhash: bit-voted simhash signatures (rows checked vs oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.operators.dedup import (
    band_keys,
    connected_components,
    exact_dedup,
    jaccard,
    jaccard_from_counts,
    lsh_candidate_pairs,
    lsh_params,
    pair_intersections,
    shingle_sizes,
    minhash_signatures,
    with_shingles,
    with_simhash,
)
from gcp_healthcare_data_pipeline_spark.queries.registry import QuerySpec
from gcp_healthcare_data_pipeline_spark.session import load_tables

_JACCARD_THRESHOLD = 0.6
_DF_CAP = 50  # n-gram inverted-index document-frequency cap
# pairs must share at least this many rare shingles to be scored; the
# df-cap's recall cost at these settings is recorded in SCALING_r16.md §2
_MIN_SHARED_SHINGLES = 5

# Both near-dup paths (minhash-LSH and n-gram inverted index) start from
# the same shingled corpus; compute + checkpoint it once per (session,
# sf_dir) so the second query reuses the materialized shingles instead of
# re-tokenizing the whole corpus (~1s duplicated work per bench run).
# The verified LSH pair set is likewise shared: q_dedup_minhash_lsh emits
# it and q_dedup_clusters consumes it as its edge list.
_SHINGLE_CACHE: dict[tuple[str, str], DataFrame] = {}
_PAIR_CACHE: dict[tuple[str, str], DataFrame] = {}
_LSH_PARAM_CACHE: dict[tuple[str, str], tuple[int, int, int]] = {}


def clear_shared_state() -> None:
    """Drop the session-scoped lazy-checkpoint caches so the NEXT dedup
    query pays its own full build. Exists for bench.py's per-query
    attribution: with the caches live, whichever of
    q_dedup_minhash_lsh / q_dedup_clusters happens to run first absorbs
    the shared LSH build (~2 s at sf0.1), so a registry reorder reads
    as a phantom 3x regression across rounds (r14 verdict item 6).
    Production pipelines WANT the sharing; a benchmark of independent
    entries wants cold plans — this is the switch between the two."""
    import gc  # noqa: PLC0415

    _SHINGLE_CACHE.clear()
    _PAIR_CACHE.clear()
    _LSH_PARAM_CACHE.clear()
    # drop the py4j refs promptly: the lazily-checkpointed frames'
    # blocks are released by Spark's ContextCleaner only once the JVM
    # objects are unreachable, which requires the PYTHON refs to be
    # collected first — without this, repeated clears at larger SFs
    # stack dead checkpoint blocks in executor storage until a GC
    # happens to run (review finding)
    gc.collect()


def _corpus_lsh_params(
    spark: SparkSession, sf_dir: str
) -> tuple[int, int, int]:
    """(rows_per_band, bands, k) derived from the documents-table
    cardinality — a planning-time catalog statistic. Read from the
    parquet FOOTER metadata (no Spark job — query builders calling this
    stay fully lazy; at 100 TB this is table metadata from the catalog,
    never a scan), with a Spark ``count()`` fallback for exotic layouts;
    either way cached per (session, corpus). Footer count == scan count
    here because ``load_tables`` never filters rows. See
    ``operators.dedup.lsh_params`` for the theory (including the EPOCH
    POLICY for growing corpora) and ``_lsh_sql_cte`` for the oracle-side
    mirror."""
    import os  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.session import (  # noqa: PLC0415
        parquet_num_rows,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    p = _LSH_PARAM_CACHE.get(key)
    if p is None:
        n = parquet_num_rows(os.path.join(sf_dir, "documents.parquet"))
        if n is None:
            n = load_tables(spark, sf_dir, "documents").count()
        p = lsh_params(n)
        _LSH_PARAM_CACHE[key] = p
    return p


def _lsh_sql_cte(
    src: str = "sh",
    count_src: str = "documents",
    pinned: "tuple[int, int] | None" = None,
) -> str:
    """The SQL mirror of the adaptive MinHash/LSH pipeline: ``lshp``
    computes (r, nb) with the SAME IEEE-double formulas, the same
    r-clamp [2, 4], and the same 1e-9 epsilon guard inside every CEIL
    as ``operators.dedup.lsh_params`` (verified to agree for corpus
    sizes 0..10^9), then sig/bands use them dynamically — ``k = r * nb``
    minhashes, band key = band index + ':'-joined signature slice,
    bit-identical to the Spark construction at every corpus size.
    Expects a prior CTE ``src``(doc_id, shingles). ``count_src`` is the
    relation whose COUNT(*) drives the band shape — it must name the
    same corpus the Spark side derived its shape from (default: the
    ``documents`` base table, matching ``_corpus_lsh_params``); an
    oracle over a derived/subset corpus must pass its own count source
    or the band shapes silently diverge across engines. ``pinned``
    bypasses the derivation entirely with an explicit (r, nb) — the
    oracle form of the EPOCH POLICY (``operators.dedup.lsh_params``):
    a persisted corpus keeps its epoch shape even after n outgrows the
    derivation point."""
    lshp = (
        f"SELECT {pinned[0]} AS r, {pinned[1]} AS nb"
        if pinned is not None
        else f"""SELECT r, CAST(CEIL(LN(0.1) / LN(1 - POWER(0.6, r)) - 1e-9) AS INT) AS nb
  FROM (SELECT LEAST(4, GREATEST(2,
                 CAST(CEIL(LOG10(GREATEST(COUNT(*), 1)) - 1e-9) AS INT) - 1))
                 AS r
        FROM {count_src}) _n"""
    )
    return f"""lshp AS (
  {lshp}
), based AS (
  SELECT doc_id, shingles,
    list_transform(shingles,
      s -> ('0x' || substr(md5(s), 1, 12))::BIGINT) AS bases
  FROM {src}
), sig AS (
  SELECT doc_id,
    list_transform(range(0, r * nb),
      j -> list_min(list_transform(bases,
             b -> ((2*j + 1) * b + j * 12345 + 67) % 2147483647))) AS sig
  FROM based, lshp
), bands AS (
  SELECT doc_id,
    CAST(b AS VARCHAR) || ':' ||
      array_to_string(list_slice(sig, b * r + 1, b * r + r), ':') AS band_key
  FROM (SELECT doc_id, sig, r, UNNEST(range(0, nb)) AS b
        FROM sig, lshp) _x
)"""


def _shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # applicationId, not id(spark): object ids can be reused after GC
    key = (spark.sparkContext.applicationId, sf_dir)
    sh = _SHINGLE_CACHE.get(key)
    if sh is None:
        docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
        sh = with_shingles(docs, "text", n=3).localCheckpoint(eager=False)
        _SHINGLE_CACHE[key] = sh
    return sh


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-ingest simulation: documents ∪ (documents with offset ids),
    dedup on content hash, keep min doc_id."""
    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    reingested = docs.select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"), "text"
    )
    return exact_dedup(docs.unionByName(reingested), "text", "doc_id")


_ORACLE_DEDUP_EXACT = """
WITH all_rows AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
)
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM all_rows
GROUP BY 1
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH candidates, exact-Jaccard verified at >= 0.6.

    Band shape is corpus-adaptive (``lsh_params``): r rows/band grows
    with log10(n) to pin the random-collision rate, band count grows to
    hold recall >= 0.9 at the 0.6 threshold — at fixed (r=2, b=6) the
    candidate-pair space measured 6.7x per-doc growth on a 10x corpus
    step (SCALING_r10.md §2), the one curve that would
    have gone quadratic at 100 TB."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _PAIR_CACHE.get(key)
    if cached is not None:
        return cached
    r, nb, k = _corpus_lsh_params(spark, sf_dir)
    # materialized once per session: the verify stage branches this DF
    # twice AND the n-gram query reuses it (see _shared_shingles)
    sh = _shared_shingles(spark, sf_dir)
    # ...and the signature table once: the band self-join branches it twice
    sig = minhash_signatures(sh, "doc_id", "shingles", k=k).localCheckpoint(
        eager=False
    )
    cand = lsh_candidate_pairs(sig, "doc_id", "sig", bands=nb, rows_per_band=r)
    # exact verify by joining shingle arrays onto the (few) candidates —
    # candidate count scales with true near-dups, so the array join stays
    # tiny while the corpus-wide work is only signatures + band buckets
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .localCheckpoint(eager=False)
    )
    _PAIR_CACHE[key] = pairs
    return pairs


_ORACLE_DEDUP_MINHASH = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
  FROM d WHERE len(toks) >= 3
), {_lsh_sql_cte("sh")}, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
  ROUND(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        / len(list_distinct(x.shingles || y.shingles)), 6) AS jaccard
FROM cand c
JOIN sh x ON x.doc_id = c.doc_a
JOIN sh y ON y.doc_id = c.doc_b
WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
      / len(list_distinct(x.shingles || y.shingles)) >= {_JACCARD_THRESHOLD}
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard via inverted index.

    Explode shingles -> per-shingle posting list -> pair join, with a
    document-frequency cap on shingles (common shingles add candidates
    without adding information — the cap bounds the worst-case join
    fan-out at scale). Pairs sharing >= 5 rare shingles are scored.
    """
    sh = _shared_shingles(spark, sf_dir)
    pairs = pair_intersections(sh, min_df=2, max_df=_DF_CAP).filter(
        F.col("n_shared") >= _MIN_SHARED_SHINGLES
    )
    sizes = shingle_sizes(sh)
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.col("n_shared"),
            F.round(
                jaccard_from_counts(F.col("n_shared"), F.col("n_a"), F.col("n_b")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


_ORACLE_DEDUP_NGRAM = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
  FROM d WHERE len(toks) >= 3
), posting AS (
  SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
), rare AS (
  SELECT shingle FROM posting GROUP BY 1
  HAVING COUNT(*) >= 2 AND COUNT(*) <= {_DF_CAP}
), rp AS (
  SELECT p.doc_id, p.shingle FROM posting p JOIN rare r USING (shingle)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM rp a JOIN rp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_MIN_SHARED_SHINGLES}
), sizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh
)
SELECT p.doc_a, p.doc_b, p.n_shared,
  ROUND(CAST(p.n_shared AS DOUBLE) / (x.n_sh + y.n_sh - p.n_shared), 6)
    AS jaccard
FROM pairs p
JOIN sizes x ON x.doc_id = p.doc_a
JOIN sizes y ON y.doc_id = p.doc_b
WHERE CAST(p.n_shared AS DOUBLE) / (x.n_sh + y.n_sh - p.n_shared)
      >= {_JACCARD_THRESHOLD}
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> dedup GROUPS: connected components over the
    verified MinHash-LSH pair graph, one keeper (min doc_id) per
    component plus the component size — the final step of a corpus
    dedup pass (keep ``is_keeper = 1``, drop the rest)."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "component").select(
        F.col("id").alias("doc_id"),
        "component",
        "cluster_size",
        (F.col("id") == F.col("component")).cast("int").alias("is_keeper"),
    )


# The pair CTEs are the (already value-checked) minhash oracle; the CC
# itself is a recursive min-reachable-label closure — UNION-distinct
# recursion terminates because the reachability set is finite.
_ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
  FROM d WHERE len(toks) >= 3
), {_lsh_sql_cte("sh")}, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
), pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b
  WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        / len(list_distinct(x.shingles || y.shingles)) >= {_JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst
), comp AS (
  SELECT id, MIN(lbl) AS component FROM reach GROUP BY id
), sizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1
)
SELECT comp.id AS doc_id, comp.component, sizes.cluster_size,
  CAST(comp.id = comp.component AS INT) AS is_keeper
FROM comp JOIN sizes USING (component)
"""


def _incremental_band_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, corpus_id): distinct asymmetric batch-vs-corpus LSH
    band-join candidates (batch = ``doc_id % 10 == 0``) — the candidate
    space whose growth SCALING_r10.md §2 records. Since
    r17, q_dedup_incremental sources the SAME candidate space from the
    loaded standing band table (``_dedup_screen``); the band-key
    construction is shared (``band_keys`` + ``_corpus_lsh_params``), so
    the audited pair space still matches the production one row-for-row
    (pinned in tests/test_dedup_roundtrip.py)."""
    is_batch = F.col("doc_id") % 10 == 0
    sh = _shared_shingles(spark, sf_dir)
    r, nb, k = _corpus_lsh_params(spark, sf_dir)
    sig = minhash_signatures(sh, "doc_id", "shingles", k=k).localCheckpoint(
        eager=False
    )
    keys_b = band_keys(sig.filter(is_batch), "doc_id", "sig", nb, r)
    keys_c = band_keys(sig.filter(~is_batch), "doc_id", "sig", nb, r).select(
        F.col("doc_id").alias("corpus_id"), "band_key"
    )
    return (
        keys_b.join(keys_c, "band_key").select("doc_id", "corpus_id").distinct()
    )


# ------------------------------------------------------------------
# Persisted standing-state lifecycle for the TEXT dedup family
# (r16 verdict item 1 — the text-side mirror of the vector family's
# q_index_roundtrip / standing_semdedup_tables lifecycle).
#
# At 100 TB the corpus MinHash BAND TABLE *is* the index: rebuilding the
# corpus hash profile + band keys + shingle arrays per ingest batch is
# the recompute sin the vector lifecycle fixed in r15. The standing
# state is committed as versioned tables (operators/versioning.py:
# immutable v=NNNNNN dirs, atomic _LATEST pointer flips, one snapshot
# manifest), with one text-specific twist: the manifest pins a LIST of
# SEGMENT versions per table, so the maintenance half appends an ingest
# batch's rows as a NEW SEGMENT (write cost ∝ |batch|) instead of
# rewriting corpus-scale tables per ingest. Readers union the pinned
# segments; the hash profile is aggregated at read time (per-segment
# partial counts summed in the screen's groupBy), the text analog of an
# LSM merge-on-read. A compaction job may later fold segments into one
# (operators/compaction.py holds the generic machinery); correctness
# never depends on it.
# ------------------------------------------------------------------

_DEDUP_STATE_TABLES = ("hash_profile", "bands", "shingles")
# session-standing committed text-dedup index stores, one per sf_dir —
# the in-session stand-in for the production warehouse the nightly
# corpus-index build writes to (mirror of vector_queries._SEMDEDUP_STORES)
_DEDUP_STORES: "dict[str, str]" = {}


def _dedup_state_frames(
    docs: DataFrame, params: tuple[int, int, int]
) -> "dict[str, DataFrame]":
    """The three corpus-side standing tables for ``docs`` under a PINNED
    LSH epoch shape (r, nb, k): ``hash_profile`` (h, n_exact) partial
    md5-count rows, ``bands`` (corpus_id, band_key) LSH band keys,
    ``shingles`` (corpus_id, shingles). One definition feeds the nightly
    build, the roundtrip gate and the segment-append maintenance, so the
    persisted shape can never drift from the in-session one."""
    r, nb, k = params
    profile = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    # checkpoint the shingled corpus: it is BOTH the ``shingles``
    # standing table and the input to the band build, and a segment
    # commit writes the two as separate jobs — without the cut each
    # write re-tokenizes and re-shingles the whole batch (guide §2.4:
    # two operations keyed the same way share one computation)
    sh = (
        with_shingles(docs.select("doc_id", "text"), "text", n=3)
        .select(F.col("doc_id").alias("corpus_id"), "shingles")
        .localCheckpoint(eager=False)
    )
    sig = minhash_signatures(sh, "corpus_id", "shingles", k=k)
    bands = band_keys(sig, "corpus_id", "sig", nb, r)
    return {"hash_profile": profile, "bands": bands, "shingles": sh}


def _commit_dedup_segments(
    frames: "dict[str, DataFrame]", root: str, run_id: str,
    meta: "dict | None" = None,
) -> None:
    """Append one SEGMENT per standing table and commit a manifest whose
    ``versions`` values are the full live-segment LISTS. ``retain=1 +
    pinned`` makes write_version keep exactly the live segments: old
    segments stay (they are still pinned), snapshots-as-segments never
    prune each other.

    ``meta`` (creation only): manifest metadata — the store's pinned LSH
    epoch shape. Append commits leave it ``None`` and the previous
    manifest's meta is CARRIED FORWARD, so the epoch pinned at store
    creation travels with the index through every append/compaction.

    A commit writes segments only for the tables in ``frames``; every
    other live table's segment list is carried forward untouched — a
    retraction commit, for example, touches only ``hash_profile`` and
    ``tombstones``."""
    import os  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.operators.versioning import (  # noqa: PLC0415
        read_snapshot_manifest,
        write_snapshot_manifest,
        write_versions_concurrently,
    )

    try:
        prev = read_snapshot_manifest(root)
    except (FileNotFoundError, OSError):
        prev = {"versions": {}}
    live = prev["versions"]
    if meta is None:
        meta = prev.get("meta")
    versions = {t: sorted(vs) for t, vs in live.items() if t not in frames}
    # per-table segment writes are independent single-writer domains —
    # overlap them from a driver thread pool (guide §2.6); the manifest
    # below is the only thing a reader consumes and commits strictly
    # after every table write returns
    committed = write_versions_concurrently(
        {
            table: (
                frame,
                os.path.join(root, table),
                {"retain": 1, "pinned": set(live.get(table, []))},
            )
            for table, frame in frames.items()
        }
    )
    for table, v in committed.items():
        versions[table] = sorted(set(live.get(table, [])) | {v})
    write_snapshot_manifest(root, versions, run_id=run_id, meta=meta)


def _read_dedup_segments(
    spark: SparkSession, root: str, run_id: "str | None" = None
) -> "dict[str, DataFrame]":
    """Load the manifest-pinned live segments of every standing table as
    one unioned DataFrame per table — the text-family segment-list
    analog of ``versioning.read_snapshot_tables``."""
    import functools  # noqa: PLC0415
    import os  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.operators.versioning import (  # noqa: PLC0415
        read_snapshot_manifest,
        read_version,
    )

    manifest = read_snapshot_manifest(root, run_id)
    out = {}
    for table, vs in manifest["versions"].items():
        frames = [
            read_version(spark, os.path.join(root, table), v) for v in vs
        ]
        out[table] = functools.reduce(DataFrame.unionByName, frames)
    return out


def clear_standing_dedup_store() -> None:
    """Drop every session-standing text-dedup store (test isolation /
    forcing the nightly build back into a measured path)."""
    import shutil  # noqa: PLC0415

    for root in _DEDUP_STORES.values():
        shutil.rmtree(root, ignore_errors=True)
    _DEDUP_STORES.clear()


def _standing_dedup_root(spark: SparkSession, sf_dir: str) -> str:
    """Path of the session-standing committed text-dedup store for
    ``sf_dir``, building and committing it through the versioned-table
    lifecycle first if this session hasn't yet — the nightly-index cost
    model: the corpus is scanned when the index is built, never per
    screen. The LSH epoch shape derived at build time is pinned in the
    manifest meta (EPOCH POLICY: it travels with the index; readers
    never re-derive it from the current corpus size)."""
    import atexit  # noqa: PLC0415
    import os  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    root = _DEDUP_STORES.get(sf_dir)
    if root is None or not os.path.isdir(root):
        root = tempfile.mkdtemp(prefix="dedup_store_")
        docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
        params = _corpus_lsh_params(spark, sf_dir)
        frames = _dedup_state_frames(
            docs.filter(F.col("doc_id") % 10 != 0), params
        )
        _commit_dedup_segments(
            frames, root, run_id="nightly-000001",
            meta={"lsh": list(params)},
        )
        if not _DEDUP_STORES:
            atexit.register(clear_standing_dedup_store)
        _DEDUP_STORES[sf_dir] = root
    return root


def standing_dedup_tables(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """LOAD the committed standing text-dedup state (hash profile, band
    table, shingle table over the corpus = ``doc_id % 10 != 0``) for
    ``sf_dir``, building it first if this session hasn't yet. md5 hex
    strings, band keys and shingle string-arrays round-trip parquet
    exactly, so a screen off the loaded tables hash-equals one off the
    in-session lineage."""
    return _read_dedup_segments(spark, _standing_dedup_root(spark, sf_dir))


def dedup_store_epoch(root: str) -> "tuple[int, int, int] | None":
    """The LSH epoch shape ``(r, nb, k)`` pinned in the store's current
    manifest at creation — the shape every screen and every appended
    segment must band with, REGARDLESS of how far the corpus has grown
    since (re-deriving from the current size would silently change the
    banding and orphan every persisted band row). ``None`` for
    pre-epoch stores (callers fall back to the derived shape)."""
    from gcp_healthcare_data_pipeline_spark.operators.versioning import (  # noqa: PLC0415
        read_snapshot_manifest,
    )

    lsh = read_snapshot_manifest(root).get("meta", {}).get("lsh")
    return None if lsh is None else (int(lsh[0]), int(lsh[1]), int(lsh[2]))


def _dedup_screen(
    spark: SparkSession, sf_dir: str, state: "dict[str, DataFrame]"
) -> DataFrame:
    """Screen the incoming BATCH (doc_id % 10 == 0) against the standing
    corpus tables — the per-ingest hot path, cost ∝ |batch|: the batch's
    hashes/signatures/band keys are computed fresh (delta-sized), exact
    matches via a hash join onto the profile (per-segment partial counts
    summed per batch doc), near-dups via the ASYMMETRIC batch-vs-corpus
    band join (never a corpus self-join), exact-Jaccard verified on
    candidates only. One definition shared by q_dedup_incremental
    (loads the session-standing store), q_dedup_roundtrip (loads a
    freshly committed one) and q_stream_text_dedup (runs the body per
    micro-batch via ``_screen_frame``) — zero drift."""
    batch = (
        load_tables(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 10 == 0)
    )
    return _screen_frame(batch, state, _corpus_lsh_params(spark, sf_dir))


def _screen_frame(
    batch: DataFrame,
    state: "dict[str, DataFrame]",
    params: "tuple[int, int, int]",
) -> DataFrame:
    """The screen BODY over an arbitrary ``(doc_id, text)`` batch frame
    under a pinned LSH epoch shape ``(r, nb, k)``. Per-row independent
    given the frozen standing state — each batch doc's exact count and
    best corpus Jaccard depend only on that doc and the corpus tables —
    so a union of disjoint sub-batch screens equals the whole-batch
    screen, the property q_stream_text_dedup's micro-batch delivery
    rests on.

    Merge-on-read delete semantics: when the state carries a
    ``tombstones`` table (corpus_ids retracted by a takedown —
    ``retract_dedup_docs``), the band and shingle tables are anti-joined
    against it here, and the hash profile's NEGATED retraction partials
    cancel inside the existing per-hash SUM — retracted docs stop
    matching without any segment rewrite. The physical purge happens at
    the next compaction."""
    r, nb, k = params
    state = dict(state)
    tomb = state.pop("tombstones", None)
    if tomb is not None:
        for t in ("bands", "shingles"):
            state[t] = state[t].join(tomb, "corpus_id", "left_anti")
    # exact: batch hashes joined onto the (possibly multi-segment)
    # profile; SUM of partial counts per doc_id = total corpus count
    # (doc_id is unique in the batch, so the groupBy is per batch doc)
    exact = (
        batch.select("doc_id", F.md5("text").alias("h"))
        .join(state["hash_profile"], "h", "left")
        .groupBy("doc_id")
        .agg(F.coalesce(F.sum("n_exact"), F.lit(0)).alias("n_exact"))
    )
    # near: batch band keys vs the standing band table
    bsh = with_shingles(batch, "text", n=3).select("doc_id", "shingles")
    bsig = minhash_signatures(bsh, "doc_id", "shingles", k=k)
    bkeys = band_keys(bsig, "doc_id", "sig", nb, r)
    cand = (
        bkeys.join(state["bands"], "band_key")
        .select("doc_id", "corpus_id")
        .distinct()
    )
    near = (
        cand.join(bsh.select("doc_id", F.col("shingles").alias("sh_a")), "doc_id")
        .join(
            state["shingles"].select(
                "corpus_id", F.col("shingles").alias("sh_b")
            ),
            "corpus_id",
        )
        .select(
            "doc_id", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("j")
        )
        .filter(F.col("j") >= _JACCARD_THRESHOLD)
        .groupBy("doc_id")
        .agg(F.max("j").alias("best_jaccard"))
    )
    return exact.join(near, "doc_id", "left").select(
        "doc_id",
        "n_exact",
        F.coalesce("best_jaccard", F.lit(-1.0)).alias("best_jaccard"),
        (
            (F.col("n_exact") > 0) | F.col("best_jaccard").isNotNull()
        ).cast("int").alias("is_dup"),
    )


def append_dedup_delta(
    spark: SparkSession, sf_dir: str, root: str, run_id: str
) -> None:
    """The MAINTENANCE half of an ingest: commit the (screened) batch's
    standing rows — partial hash counts, band keys, shingles — as a new
    SEGMENT of each table under the SAME epoch band shape, plus one new
    snapshot manifest. Write cost ∝ |batch|; the corpus segments are
    never rewritten. After this, the loaded state aggregates to exactly
    the state a full rebuild over corpus ∪ batch would produce
    (tests/test_dedup_roundtrip.py pins that equality). The batch bands
    with the STORE's pinned epoch shape, never a freshly-derived one —
    appending segments banded under a different shape would make them
    invisible to every screen using the store's epoch."""
    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    frames = _dedup_state_frames(
        docs.filter(F.col("doc_id") % 10 == 0),
        dedup_store_epoch(root) or _corpus_lsh_params(spark, sf_dir),
    )
    _commit_dedup_segments(frames, root, run_id=run_id)


def retract_dedup_docs(
    removed: DataFrame, root: str, run_id: str
) -> None:
    """The TAKEDOWN half of the lifecycle (right-to-be-forgotten /
    license-revocation over the corpus index), LSM-style: commit ONE
    retraction segment — the removed docs' hash partials NEGATED (they
    cancel inside the screen's per-hash SUM) plus their corpus_ids as
    ``tombstones`` rows (anti-joined against the band/shingle tables at
    screen time) — and touch nothing else. Retract cost ∝ |removed|;
    no corpus segment is rewritten, mirroring the vector family's
    tombstone deletes (q_ann_ivf_deletes). The retracted docs stop
    matching IMMEDIATELY (merge-on-read); the physical purge of their
    derived rows happens at the next ``compact_dedup_segments``, which
    folds tombstones out of the merged segments and drops the
    ``tombstones`` table from the manifest.

    ``removed``: the retracted docs as ``(doc_id, text)`` — text is
    needed to negate the hash partials; at 100 TB this is the takedown
    batch itself, never a corpus scan. Epoch meta carries forward
    (retraction never changes the band shape — EPOCH POLICY)."""
    profile_neg = removed.groupBy(F.md5("text").alias("h")).agg(
        (-F.count(F.lit(1))).cast("bigint").alias("n_exact")
    )
    tomb = removed.select(F.col("doc_id").alias("corpus_id")).distinct()
    _commit_dedup_segments(
        {"hash_profile": profile_neg, "tombstones": tomb},
        root, run_id=run_id,
    )


def compact_dedup_segments(
    spark: SparkSession, root: str, run_id: str
) -> None:
    """Fold all live segments of every standing table into ONE segment
    (the merge phase of the merge-on-read design): the hash profile's
    per-segment partial counts are summed per hash, band and shingle
    rows are concatenated, and a new manifest pins only the merged
    segment. The pre-compaction segments are left on disk through this
    commit (pinned — a reader holding the previous manifest keeps a
    consistent view) and are swept by the NEXT append, whose pin set no
    longer contains them — exactly one commit of reader grace, the same
    sweep-on-next-write discipline the orphan path uses. Screens read
    identical state before and after (tests/test_dedup_roundtrip.py).

    Compaction is also where takedowns become PHYSICAL: tombstoned
    corpus_ids are anti-joined out of the merged band/shingle segments,
    retraction partials cancel out of the hash profile (fully-retracted
    hashes drop entirely), and the ``tombstones`` table leaves the
    manifest — after a compaction the retracted docs' derived rows no
    longer exist on disk under the current manifest, the purge a
    takedown obligation actually requires (aged manifests still serve
    the pre-compaction view for exactly one commit of reader grace)."""
    import os  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.operators.versioning import (  # noqa: PLC0415
        read_snapshot_manifest,
        write_snapshot_manifest,
        write_versions_concurrently,
    )

    prev = read_snapshot_manifest(root)
    live = prev["versions"]
    frames = _read_dedup_segments(spark, root)
    tomb = frames.pop("tombstones", None)
    bands, shingles = frames["bands"], frames["shingles"]
    if tomb is not None:
        bands = bands.join(tomb, "corpus_id", "left_anti")
        shingles = shingles.join(tomb, "corpus_id", "left_anti")
    merged = {
        "hash_profile": frames["hash_profile"]
        .groupBy("h")
        .agg(F.sum("n_exact").cast("bigint").alias("n_exact"))
        .filter(F.col("n_exact") != 0),
        "bands": bands,
        "shingles": shingles,
    }
    # the three merged-table writes are independent — overlap them
    # (guide §2.6); the manifest commits after all of them
    committed = write_versions_concurrently(
        {
            table: (
                merged[table],
                os.path.join(root, table),
                {"retain": 1, "pinned": set(live.get(table, []))},
            )
            for table in _DEDUP_STATE_TABLES
        }
    )
    versions = {table: [v] for table, v in committed.items()}
    write_snapshot_manifest(
        root, versions, run_id=run_id, meta=prev.get("meta")
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta dedup: screen an incoming BATCH (doc_id % 10 = 0) against
    the existing CORPUS (the rest) WITHOUT touching the corpus — the
    standing hash profile / band table / shingle table are LOADED from
    the committed versioned store (built once per session by
    ``standing_dedup_tables``, the nightly-index cost model), so
    per-ingest cost scales with |batch|, not |corpus| (r16 verdict
    item 1; until r17 this query re-derived all three corpus-side
    structures per invocation). The batch bands with the EPOCH shape
    pinned in the store's manifest — the shape the standing index was
    built under — not one re-derived from the current corpus size."""
    root = _standing_dedup_root(spark, sf_dir)
    batch = (
        load_tables(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 10 == 0)
    )
    return _screen_frame(
        batch,
        _read_dedup_segments(spark, root),
        dedup_store_epoch(root) or _corpus_lsh_params(spark, sf_dir),
    )


def q_dedup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-lifecycle GATE for the text dedup family — the
    mirror of the vector family's q_index_roundtrip: build the standing
    corpus state (hash profile, band table, shingle table), COMMIT it
    through the versioned-table lifecycle (immutable segment dirs,
    atomic pointer flips, one snapshot manifest), then screen the
    incoming batch FROM THE LOADED TABLES — never the in-session
    lineage. The oracle is q_dedup_incremental's VERBATIM: strings and
    string-arrays round-trip parquet exactly, so load-then-screen must
    hash-equal rebuild-then-screen — that equality IS the gate. What
    changes is the cost model, not the answer: this query deliberately
    measures build+commit+load+screen (the nightly build's bill);
    q_dedup_incremental measures the production per-ingest half."""
    from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (  # noqa: PLC0415
        _lifecycle_store,
    )

    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    params = _corpus_lsh_params(spark, sf_dir)
    frames = _dedup_state_frames(
        docs.filter(F.col("doc_id") % 10 != 0), params
    )
    with _lifecycle_store("q_dedup_roundtrip_") as root:
        _commit_dedup_segments(
            frames, root, run_id="ingest-000001",
            meta={"lsh": list(params)},
        )
        loaded = _read_dedup_segments(spark, root)
        batch = docs.filter(F.col("doc_id") % 10 == 0)
        # screen under the epoch shape READ BACK from the committed
        # manifest (not the in-session derivation — the full roundtrip),
        # and pin the (batch-sized) result before the store is
        # reclaimed: the screen must fully execute off the LOADED
        # tables, which is exactly what the eager checkpoint forces
        return _screen_frame(
            batch, loaded, dedup_store_epoch(root)
        ).localCheckpoint(eager=True)


def q_dedup_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE phase of the segment store, oracle-gated: commit the
    corpus as TWO segments (a nightly build then an ingest append —
    the multi-segment state a week of ingests accumulates), COMPACT
    them into one merged segment per table (partial hash counts summed,
    band/shingle rows concatenated, epoch meta carried forward), then
    screen the batch from the COMPACTED store. The oracle is
    q_dedup_incremental's VERBATIM — compaction changes the physical
    segment layout, never the aggregated state a screen reads: that
    invariance IS the gate. Cost model: this query deliberately
    measures split-build + compact + load + screen (the weekly
    maintenance bill); the screen itself reads exactly one segment per
    table afterwards, the layout the merge exists to restore."""
    from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (  # noqa: PLC0415
        _lifecycle_store,
    )

    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    params = _corpus_lsh_params(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    with _lifecycle_store("q_dedup_compaction_") as root:
        _commit_dedup_segments(
            _dedup_state_frames(corpus.filter(F.col("doc_id") % 3 == 0), params),
            root, run_id="nightly-000001", meta={"lsh": list(params)},
        )
        _commit_dedup_segments(
            _dedup_state_frames(corpus.filter(F.col("doc_id") % 3 != 0), params),
            root, run_id="ingest-000002",
        )
        compact_dedup_segments(spark, root, run_id="compact-000003")
        loaded = _read_dedup_segments(spark, root)
        batch = docs.filter(F.col("doc_id") % 10 == 0)
        return _screen_frame(
            batch, loaded, dedup_store_epoch(root)
        ).localCheckpoint(eager=True)


def q_dedup_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TAKEDOWN half of the lifecycle, oracle-gated: build+commit
    the corpus store, RETRACT the ``doc_id % 7 = 0`` slice of the
    corpus (one retraction segment: negated hash partials + corpus_id
    tombstones, cost ∝ |removed|, no corpus rewrite — the text-family
    mirror of the vector tombstone deletes), then screen the batch from
    the loaded store. The oracle recomputes the screen over the SHRUNK
    corpus from scratch: merge-on-read retraction must be
    indistinguishable from a corpus that never contained the retracted
    docs — that equivalence IS the gate. The physical purge at
    compaction (and that a post-compaction screen is unchanged) is
    pinned in tests/test_dedup_roundtrip.py."""
    from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (  # noqa: PLC0415
        _lifecycle_store,
    )

    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    params = _corpus_lsh_params(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    with _lifecycle_store("q_dedup_takedown_") as root:
        _commit_dedup_segments(
            _dedup_state_frames(corpus, params),
            root, run_id="nightly-000001", meta={"lsh": list(params)},
        )
        retract_dedup_docs(
            corpus.filter(F.col("doc_id") % 7 == 0),
            root, run_id="takedown-000002",
        )
        loaded = _read_dedup_segments(spark, root)
        batch = docs.filter(F.col("doc_id") % 10 == 0)
        return _screen_frame(
            batch, loaded, dedup_store_epoch(root)
        ).localCheckpoint(eager=True)


def _oracle_dedup_screen(corpus_cond: str) -> str:
    """The incremental-screen oracle with the CORPUS membership
    predicate parameterized: ``corpus_cond`` is a SQL condition template
    with ``{p}`` standing for the doc_id column prefix (empty in the
    hash CTE, ``c.`` in the candidate join). The batch is always
    ``doc_id % 10 = 0``. q_dedup_incremental / roundtrip / compaction
    use the full corpus; q_dedup_takedown subtracts the retracted
    slice."""
    return f"""
WITH d AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
), ch AS (
  SELECT md5(text) AS h, COUNT(*) AS n_exact
  FROM d WHERE {corpus_cond.format(p="")} GROUP BY 1
), exact AS (
  SELECT b.doc_id, COALESCE(ch.n_exact, 0) AS n_exact
  FROM d b LEFT JOIN ch ON md5(b.text) = ch.h
  WHERE b.doc_id % 10 = 0
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
  FROM d WHERE len(toks) >= 3
), {_lsh_sql_cte("sh")}, cand AS (
  SELECT DISTINCT a.doc_id, c.doc_id AS corpus_id
  FROM bands a JOIN bands c ON a.band_key = c.band_key
  WHERE a.doc_id % 10 = 0 AND {corpus_cond.format(p="c.")}
), near AS (
  SELECT cand.doc_id, MAX(ROUND(
    CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
    / len(list_distinct(x.shingles || y.shingles)), 6)) AS best_jaccard
  FROM cand
  JOIN sh x ON x.doc_id = cand.doc_id
  JOIN sh y ON y.doc_id = cand.corpus_id
  WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        / len(list_distinct(x.shingles || y.shingles)) >= {_JACCARD_THRESHOLD}
  GROUP BY 1
)
SELECT e.doc_id, e.n_exact,
  COALESCE(near.best_jaccard, -1.0) AS best_jaccard,
  CAST(e.n_exact > 0 OR near.best_jaccard IS NOT NULL AS INT) AS is_dup
FROM exact e LEFT JOIN near ON e.doc_id = near.doc_id
"""


_ORACLE_DEDUP_INCREMENTAL = _oracle_dedup_screen("{p}doc_id % 10 <> 0")
# the takedown slice: corpus docs with doc_id % 7 = 0 are retracted, so
# the oracle's corpus is the full corpus MINUS that slice
_ORACLE_DEDUP_TAKEDOWN = _oracle_dedup_screen(
    "({p}doc_id % 10 <> 0 AND {p}doc_id % 7 <> 0)"
)


_CONTAINMENT_THRESHOLD = 0.8


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-superset detection: containment = |A∩B| / min(|A|,
    |B|). Catches the quote-inclusion / excerpt case that symmetric
    Jaccard misses (a 50-shingle doc embedded in a 500-shingle doc has
    jaccard ≈ 0.1 but containment 1.0). Same df-capped inverted-index
    plan as the n-gram path — the posting lists are shared via the
    session shingle cache."""
    sh = _shared_shingles(spark, sf_dir)
    pairs = pair_intersections(sh, min_df=2, max_df=_DF_CAP).filter(
        F.col("n_shared") >= _MIN_SHARED_SHINGLES
    )
    sizes = shingle_sizes(sh)
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round(
                F.col("n_shared") / F.least("n_a", "n_b"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= _CONTAINMENT_THRESHOLD)
    )


_ORACLE_DEDUP_CONTAINMENT = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
  FROM d WHERE len(toks) >= 3
), posting AS (
  SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
), rare AS (
  SELECT shingle FROM posting GROUP BY 1
  HAVING COUNT(*) >= 2 AND COUNT(*) <= {_DF_CAP}
), rp AS (
  SELECT p.doc_id, p.shingle FROM posting p JOIN rare r USING (shingle)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM rp a JOIN rp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_MIN_SHARED_SHINGLES}
), sizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh
)
SELECT p.doc_a, p.doc_b,
  ROUND(CAST(p.n_shared AS DOUBLE) / LEAST(x.n_sh, y.n_sh), 6) AS containment
FROM pairs p
JOIN sizes x ON x.doc_id = p.doc_a
JOIN sizes y ON y.doc_id = p.doc_b
WHERE CAST(p.n_shared AS DOUBLE) / LEAST(x.n_sh, y.n_sh)
      >= {_CONTAINMENT_THRESHOLD}
"""


_PASSAGE_W = 5  # words per passage (fixed-window passage granularity)


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide passage-level exact dedup (the C4 / RefinedWeb "remove
    repeated spans, keep the first occurrence" step, one level below
    document dedup): split every document into fixed 5-word passages,
    keep only the FIRST occurrence (min doc_id, then passage index) of
    each distinct passage across the whole corpus, and reassemble each
    document from its surviving passages in order.

    Scale shape (100 TB): passage extraction is a single explode of a
    HOF-built array (no Python, stays in codegen); first-occurrence
    selection is ONE shuffle — a row_number window partitioned by the
    passage string (Spark partitions on its hash, so the key is
    balanced unless one literal passage dominates, which is exactly the
    boilerplate case q_boilerplate handles separately); reassembly is
    one shuffle on doc_id. No driver-side state, no all-pairs anywhere.
    """
    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split(F.col("text"), " ")
    n_pass = F.ceil(F.size(ws) / F.lit(_PASSAGE_W)).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), n_pass - 1),
        lambda i: F.struct(
            i.alias("pidx"),
            F.array_join(
                F.slice(ws, i * _PASSAGE_W + 1, _PASSAGE_W), " "
            ).alias("passage"),
        ),
    )
    ex = docs.select("doc_id", F.explode(passages).alias("p")).select(
        "doc_id", F.col("p.pidx").alias("pidx"), F.col("p.passage").alias("passage")
    )
    first = Window.partitionBy("passage").orderBy("doc_id", "pidx")
    kept = (
        ex.withColumn("_rn", F.row_number().over(first))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pidx", "passage"))),
                lambda s: s["passage"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    # n_passages is pure per-row arithmetic — compute it from the base
    # scan instead of re-aggregating the exploded frame (saves a full
    # explode + shuffle branch)
    totals = docs.select("doc_id", n_pass.cast("bigint").alias("n_passages"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_passages",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )


_ORACLE_DEDUP_PASSAGES = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), p AS (
  SELECT doc_id,
    unnest(list_transform(
      range(0, CAST(ceil(len(ws) / {_PASSAGE_W}.0) AS BIGINT)),
      i -> {{'pidx': i,
             'passage': array_to_string(
               ws[i * {_PASSAGE_W} + 1 : i * {_PASSAGE_W} + {_PASSAGE_W}],
               ' ')}})) AS u
  FROM d
), ex AS (
  SELECT doc_id, CAST(u.pidx AS INT) AS pidx, u.passage AS passage FROM p
), kept AS (
  SELECT doc_id, pidx, passage FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY passage ORDER BY doc_id, pidx) AS rn
    FROM ex
  ) WHERE rn = 1
), rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
    string_agg(passage, ' ' ORDER BY pidx) AS cleaned_text
  FROM kept GROUP BY 1
), totals AS (
  SELECT doc_id, COUNT(*) AS n_passages FROM ex GROUP BY 1
)
SELECT t.doc_id, t.n_passages,
  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
  COALESCE(r.cleaned_text, '') AS cleaned_text
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit simhash signature per document."""
    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    return with_simhash(docs, "text", bits=16).select("doc_id", "simhash")


_ORACLE_DEDUP_SIMHASH = """
WITH d AS (
  SELECT doc_id,
    list_transform(string_split(text, ' '), t -> md5(t)) AS hs
  FROM documents
)
SELECT doc_id,
  CAST(list_sum(list_transform(range(0, 16), j ->
    CASE WHEN 2 * len(list_filter(hs, h ->
        ((strpos('0123456789abcdef', substr(h, 1 + (j // 4), 1)) - 1)
          >> (j % 4)) & 1 = 1)) >= len(hs)
      THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash
FROM d
"""


_SUBSTR_W = 20  # fingerprinted span width (tokens)
_SUBSTR_K = 10  # winnowing window: min-hash of K consecutive W-grams


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal (the "Deduplicating Training
    Data Makes Language Models Better" suffix-array criterion, adapted
    to distributed hashing) via WINNOWING fingerprints (Schleimer,
    Wilkerson & Aiken 2003): hash every ``_SUBSTR_W``-token gram at
    stride 1, then keep only the lexicographic MINIMUM hash of each run
    of ``_SUBSTR_K`` consecutive gram hashes. Because the selection is
    content-defined (min over hashes), two documents sharing a verbatim
    span select the SAME fingerprints inside it regardless of where the
    span sits in either document — the winnowing guarantee: any shared
    span of >= W + K - 1 tokens shares at least one fingerprint AT ANY
    ALIGNMENT. (A naive fixed-stride sampler only matches spans whose
    offsets agree mod the stride and silently misses ~(S-1)/S of
    randomly-aligned quotes — the bug class this construction exists to
    avoid.) A fingerprint occurring in >= 2 DISTINCT documents marks a
    cross-document verbatim span; each doc reports its fingerprint
    count, duplicated-fingerprint count and the fraction — the signal a
    curation pipeline thresholds on (or uses to cut spans).

    Unlike shingle Jaccard (q_dedup_minhash_lsh, whole-doc similarity)
    this catches one long verbatim quote inside otherwise-unrelated
    documents; unlike q_dedup_passages (disjoint fixed chunks) it is
    alignment-independent.

    Plan shape: the same single-explode + window-count discipline as
    q_boilerplate — gram hashes and their windowed minima are built
    per-row with nested HOFs (slice + md5 + array_min, no self-join),
    the one exchange partitions the exploded fingerprint space, and
    per-fingerprint document counts come from a COUNT window in place.
    Fingerprint density is ~2/(K+1) per token position, so explode
    volume is linear in corpus bytes; no candidate pairs are ever
    materialized.
    """
    docs = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    from gcp_healthcare_data_pipeline_spark.functions.text import (  # noqa: PLC0415
        tokens,
    )

    d = docs.withColumn("_toks", tokens("text")).filter(
        F.size("_toks") >= _SUBSTR_W + _SUBSTR_K - 1
    )
    # stride-1 W-gram hashes, then winnowed minima (both stay inside the
    # scan stage); array_min on md5 strings = lexicographic, identical
    # in DuckDB
    d = d.withColumn(
        "_hs",
        F.expr(
            f"transform(sequence(0, size(_toks) - {_SUBSTR_W}),"
            f" i -> md5(array_join(slice(_toks, i + 1, {_SUBSTR_W}), ' ')))"
        ),
    )
    fps = F.expr(
        f"array_distinct(transform(sequence(0, size(_hs) - {_SUBSTR_K}),"
        f" i -> array_min(slice(_hs, i + 1, {_SUBSTR_K}))))"
    )
    ex = d.select("doc_id", F.explode(fps).alias("fp"))
    w = Window.partitionBy("fp")
    counted = ex.withColumn("docs_with", F.count(F.lit(1)).over(w))
    is_dup = (F.col("docs_with") >= 2).cast("int")
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum(is_dup).alias("n_dup_fingerprints"),
        F.round(
            F.sum(is_dup).cast("double") / F.count(F.lit(1)), 6
        ).alias("dup_fraction"),
    )


_ORACLE_DEDUP_SUBSTRING = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
    list_transform(range(1, len(toks) - {_SUBSTR_W} + 2),
      i -> md5(array_to_string(toks[i : i + {_SUBSTR_W} - 1], ' '))) AS hs
  FROM d WHERE len(toks) >= {_SUBSTR_W} + {_SUBSTR_K} - 1
), w AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(hs) - {_SUBSTR_K} + 2),
      i -> list_min(hs[i : i + {_SUBSTR_K} - 1]))) AS fps
  FROM g
), ex AS (
  SELECT doc_id, UNNEST(fps) AS fp FROM w
), dfc AS (
  SELECT fp, COUNT(*) AS docs_with FROM ex GROUP BY 1
)
SELECT ex.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
  CAST(SUM(CASE WHEN dfc.docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_fingerprints,
  ROUND(CAST(SUM(CASE WHEN dfc.docs_with >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS dup_fraction
FROM ex JOIN dfc USING (fp)
GROUP BY 1
"""


QUERIES = [
    QuerySpec("q_dedup_exact", q_dedup_exact, _ORACLE_DEDUP_EXACT, "ext:dedup A7"),
    QuerySpec(
        "q_dedup_minhash_lsh", q_dedup_minhash_lsh, _ORACLE_DEDUP_MINHASH,
        "ext:dedup",
    ),
    QuerySpec(
        "q_dedup_ngram_jaccard", q_dedup_ngram_jaccard, _ORACLE_DEDUP_NGRAM,
        "ext:dedup",
    ),
    QuerySpec(
        "q_dedup_simhash", q_dedup_simhash, _ORACLE_DEDUP_SIMHASH, "ext:dedup",
    ),
    QuerySpec(
        "q_dedup_clusters", q_dedup_clusters, _ORACLE_DEDUP_CLUSTERS,
        "ext:dedup (pairs -> components -> keeper)",
    ),
    QuerySpec(
        "q_dedup_incremental", q_dedup_incremental, _ORACLE_DEDUP_INCREMENTAL,
        "ext:dedup (delta batch screened from the LOADED standing corpus "
        "index; asymmetric band join)",
    ),
    QuerySpec(
        "q_dedup_roundtrip", q_dedup_roundtrip, _ORACLE_DEDUP_INCREMENTAL,
        "ext:dedup (persisted corpus-index lifecycle: build + commit + "
        "load + screen)",
    ),
    QuerySpec(
        "q_dedup_compaction", q_dedup_compaction, _ORACLE_DEDUP_INCREMENTAL,
        "ext:dedup (segment-store merge phase: two-segment build + "
        "compact + load + screen; compaction never changes the "
        "aggregated state)",
    ),
    QuerySpec(
        "q_dedup_takedown", q_dedup_takedown, _ORACLE_DEDUP_TAKEDOWN,
        "ext:dedup (LSM-style takedown: retraction segment with negated "
        "hash partials + tombstones; screen equals a corpus that never "
        "held the retracted docs)",
    ),
    QuerySpec(
        "q_dedup_containment", q_dedup_containment, _ORACLE_DEDUP_CONTAINMENT,
        "ext:dedup (asymmetric near-superset containment)",
    ),
    QuerySpec(
        "q_dedup_passages", q_dedup_passages, _ORACLE_DEDUP_PASSAGES,
        "ext:dedup (corpus-wide passage-level first-occurrence dedup)",
    ),
    QuerySpec(
        "q_dedup_substring", q_dedup_substring, _ORACLE_DEDUP_SUBSTRING,
        "ext:dedup (winnowing-fingerprint exact-substring signal)",
    ),
]
