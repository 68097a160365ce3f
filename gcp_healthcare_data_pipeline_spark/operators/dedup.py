"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB corpus case:

- **Exact dedup** is a hash-groupBy: one shuffle on the content hash, with
  map-side partial aggregation; the keeper policy (min id) is explicit so
  results are deterministic (``dropDuplicates`` keeper is not).
- **MinHash + LSH**: shingle -> k minhashes -> banded bucket keys. Candidate
  generation is a self-join on (band_id, band_key) — the shuffle is on
  bucket keys whose cardinality scales with the corpus, never an O(n²)
  cross join. Exact Jaccard verification runs only on candidate pairs.
- **SimHash**: per-document bit-voted signature from token hashes; near-dup
  pairs are found by hamming distance over bucketed signatures.
- All hashing is md5-based (string min for minhash) so signatures are
  bit-identical across engines — this is what makes the DuckDB oracle able
  to reproduce candidate sets exactly.

Everything is Spark built-ins / higher-order functions; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.functions.text import tokens

HEX = "0123456789abcdef"


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Group by content hash; keep min(id), count copies."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out: str = "shingles"
) -> DataFrame:
    """Distinct word n-gram shingles via HOFs (no explode — stays narrow).

    Documents with fewer than ``n`` tokens are dropped (guard against
    Spark's descending ``sequence(0, -1)`` surprise).
    """
    toks = tokens(text_col)
    df = df.withColumn("_toks", toks).filter(F.size("_toks") >= n)
    gram = " || ' ' || ".join(f"_toks[i + {k}]" for k in range(n))
    return df.withColumn(
        out,
        F.expr(f"array_distinct(transform(sequence(0, size(_toks) - {n}), i -> {gram}))"),
    ).drop("_toks")


MINHASH_P = 2147483647  # 2^31 - 1


def lsh_params(
    n_docs: int,
    jaccard_threshold: float = 0.6,
    target_recall: float = 0.9,
) -> "tuple[int, int, int]":
    """Corpus-adaptive LSH shape ``(rows_per_band, bands, k)``.

    With FIXED band width r, random (non-near-dup) band collisions grow
    ~ n^2 * p_sig^r — a direct count of the candidate pairs showed
    pairs-per-doc growing 6.7x on a 10x corpus step at the old fixed
    (r=2, b=6). Standard LSH theory fixes this by
    growing the band width logarithmically with the corpus:

    - ``r = clamp(ceil(log10(n)) - 1, 2, 4)`` — each 10x of corpus adds
      one row per band, multiplying the random-collision probability
      per band by p_sig (<< 1), which holds candidate pairs-per-doc
      bounded through the clamped range.
    - ``b = ceil(ln(1 - recall) / ln(1 - J^r))`` — the band count that
      keeps P(candidate | jaccard >= J) >= target_recall for the chosen
      r (the S-curve guarantee), so tightening r never silently drops
      the detection rate below target.
    - ``k = r * b`` signature length, capped by the r-clamp at
      k = 4 * 17 = 68.

    The r-clamp at 4 is deliberate: b grows ~exponentially in r
    (r=5 -> k=145, r=8 -> k=1088), and past
    ``spark.sql.codegen.maxFields`` (default 100) the k-MIN groupBy
    falls out of whole-stage codegen — an order-of-magnitude cliff at
    exactly the >=10^6-doc corpora the adaptive shape targets. Capping
    k at 68 keeps the signature aggregation codegen'd and minhash cost
    linear at every corpus size; beyond ~10^6 docs the random
    band-collision rate resumes growing slowly (p_sig^4 per band), the
    documented trade — at that scale shard the dedup by corpus
    partition (each shard re-derives its own shape) rather than widen
    bands past the codegen limit.

    For n <= 1000 this yields exactly the historical (2, 6, 12). The
    formulas are mirrored VERBATIM in the DuckDB oracles (same IEEE
    double ops: LOG10/LN/POWER/CEIL + the same integer clamp), so
    candidate sets stay bit-identical across engines at every corpus
    size. Every CEIL carries a 1e-9 epsilon guard (``ceil(x - 1e-9)``)
    on BOTH sides: cross-engine agreement otherwise hinges on two libms
    returning the same last bit at integer crossings (e.g. a log10(10^6)
    of 6.000000000000001 on one engine flips its r while the other
    holds), and the guard absorbs that whole class. At exact IEEE
    integers the guard is inert — correctly-rounded log10 of a power of
    ten IS exact, so 1e-9 below it still ceils back up.

    EPOCH POLICY for growing corpora (production, not the fixed test
    corpora): the shape is a function of n, so a corpus that crosses a
    decade boundary between ingests would silently re-derive a longer
    signature, invalidating every PERSISTED signature/band table built
    under the old shape. Pin (r, b, k) per corpus EPOCH — derive once
    when the corpus (or shard) is created, store it next to the
    signature table, and reuse it for every incremental batch screened
    against that corpus regardless of current n. Correctness does not
    depend on n: any pinned shape yields engine-identical candidates
    and the exact-Jaccard verify stage is shape-independent (recall at
    the stale shape degrades only gradually — the S-curve guarantee
    held at the derivation point). Re-derive + re-sign as a planned
    maintenance op when the corpus outgrows the epoch by a decade; see
    tests/test_epoch_pinning.py::test_pinned_epoch_shape_on_grown_corpus.
    """
    import math  # noqa: PLC0415

    r = max(2, min(4, math.ceil(math.log10(max(n_docs, 1)) - 1e-9) - 1))
    b = math.ceil(
        math.log(1.0 - target_recall)
        / math.log(1.0 - jaccard_threshold**r)
        - 1e-9
    )
    return r, b, r * b


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", shingle_col: str = "shingles",
    k: int = 12,
) -> DataFrame:
    """(id, sig): k minhash values per document from ONE md5 per shingle.

    base(s) = first 48 bits of md5(s) as int; hash_j = (2j+1)*base +
    j*12345 + 67 mod (2^31-1) — a universal-hash family over one md5
    digest, bit-identical in the DuckDB oracle. Int64-safe at every
    reachable k: ``lsh_params`` caps k at 68, so the largest multiplier
    is 2k-1 = 135 and 135 * 2^48 < 2^56 — exact in both engines' BIGINT
    arithmetic with 7 bits of headroom.

    Execution shape: explode shingles -> k MIN aggregates in one groupBy.
    Everything stays in whole-stage codegen — an order of magnitude
    faster than per-row higher-order-function loops (HOFs are
    interpreted), at the cost of one shuffle of (id, base) pairs.
    """
    posting = sh.select(
        F.col(id_col), F.explode(shingle_col).alias("_s")
    ).select(
        F.col(id_col),
        F.expr("cast(conv(substr(md5(_s), 1, 12), 16, 10) as bigint)").alias(
            "_base"
        ),
    )
    mins = [
        F.min(
            F.pmod(
                F.lit(2 * j + 1) * F.col("_base") + F.lit(j * 12345 + 67),
                F.lit(MINHASH_P),
            )
        ).alias(f"_h{j}")
        for j in range(k)
    ]
    return (
        posting.groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_h{j}") for j in range(k)]).alias("sig"),
        )
    )


def band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 6,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band_key): one row per LSH band per document — the join key
    space for candidate generation (self-join for full-corpus dedup,
    batch-vs-corpus join for incremental dedup)."""
    r = rows_per_band
    band_parts = ", ':', ".join(
        f"cast({sig_col}[{r} * b + {i}] as string)" for i in range(r)
    )
    return df.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> concat(cast(b as string), ':', {band_parts}))"
            )
        ).alias("band_key"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 6,
    rows_per_band: int = 2,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any LSH band bucket.

    The only shuffle is the band-key self-join; bucket sizes stay small
    because random minhash collisions are rare, so this scales linearly
    with the number of true near-duplicates.
    """
    banded = band_keys(df, id_col, sig_col, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def fastss_candidate_pairs(
    df: DataFrame, id_col: str = "s_suppkey", name_col: str = "s_name"
) -> DataFrame:
    """(id_a, name_a, id_b, name_b): distinct pairs whose deletion-1
    neighborhoods intersect — a LOSSLESS candidate generator for
    levenshtein <= 1 linkage (substitution: both delete the differing
    position; insert/delete: the longer one's deletion equals the
    shorter string). Each neighborhood includes the string itself
    (i = length deletes nothing).

    This is THE candidate space for q_fuzzy_name_match and
    q_golden_record — one definition, so the pair counts recorded in
    SCALING_r10.md §2 measured the production space.

    Scale shape: O(n * len) variant rows with near-unique keys (no hot
    key, unlike length-blocking on fixed-width names); the expensive
    edit-distance runs on candidates only.
    """
    variants = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_name"),
        F.explode(
            F.expr(
                f"transform(sequence(0, length({name_col})), i -> "
                f"concat(substring({name_col}, 1, i), "
                f"substring({name_col}, i + 2)))"
            )
        ).alias("vkey"),
    )
    a = variants.select(
        F.col("_id").alias("id_a"), F.col("_name").alias("name_a"), "vkey"
    )
    b = variants.select(
        F.col("_id").alias("id_b"), F.col("_name").alias("name_b"), "vkey"
    )
    return (
        a.join(b, "vkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "name_a", "id_b", "name_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard(set_a: Column, set_b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(set_a, set_b)).cast("double")
    union = F.size(F.array_union(set_a, set_b)).cast("double")
    return inter / union


def shingle_sizes(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, n_sh): distinct-shingle count per document."""
    return sh.select(F.col(id_col), F.size("shingles").alias("n_sh"))


def pair_intersections(
    sh: DataFrame,
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, n_shared): pairwise intersection counts via an
    inverted shingle index.

    Shape: explode shingles -> collect the (sorted) posting list per
    shingle -> emit its id pairs with a combinations HOF -> count per
    pair. One shuffle to build posting lists, one to count pairs — no
    self-join. ``max_df`` caps the posting-list length (df² pair fan-out)
    — the scale bound at 100 TB; shared shingles beyond the cap aren't
    counted (documented approximation). ``min_df=2`` is lossless: a
    shingle shared by any pair has df >= 2.
    """
    posting = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    lists = posting.groupBy("shingle").agg(
        F.array_sort(F.collect_list(id_col)).alias("ds")
    )
    lists = lists.filter(F.size("ds") >= min_df)
    if max_df is not None:
        lists = lists.filter(F.size("ds") <= max_df)
    pairs = lists.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(ds) - 2), "
                "i -> transform(sequence(i + 1, size(ds) - 1), "
                "j -> struct(ds[i] AS id_a, ds[j] AS id_b))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
    ).agg(F.count(F.lit(1)).alias("n_shared"))


def jaccard_from_counts(n_shared: Column, n_a: Column, n_b: Column) -> Column:
    """|A∩B| / |A∪B| from intersection count + set sizes."""
    return n_shared.cast("double") / (n_a + n_b - n_shared)


def with_simhash(
    df: DataFrame, text_col: str = "text", bits: int = 16, out: str = "simhash"
) -> DataFrame:
    """Bit-voted simhash over md5 token hashes (first ``bits`` bits).

    Bit j is taken from hex nibble j/4 of each token's md5 (value via
    position in the hex alphabet — pure string ops, engine-portable);
    the signature bit is set when >= half the tokens vote 1.
    """
    df = df.withColumn("_hs", F.expr(f"transform(split({text_col}, ' '), t -> md5(t))"))
    votes = (
        f"size(filter(_hs, h -> "
        f"((shiftright(instr('{HEX}', substr(h, 1 + cast(j / 4 as int), 1)) - 1, "
        f"j % 4)) & 1) = 1))"
    )
    return df.withColumn(
        out,
        F.expr(
            f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), "
            f"(acc, j) -> acc + CASE WHEN 2 * {votes} >= size(_hs) "
            f"THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)"
        ),
    ).drop("_hs")


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every vertex in ``edges``; component = MIN
    reachable vertex id, via min-label propagation to fixpoint.

    This is the step that turns near-dup PAIRS into dedup GROUPS (pick
    one keeper per component). Near-dup graphs have small, dense
    components — duplicate clusters — so the label front converges in
    O(component diameter) rounds, typically 2-4. Each round costs one
    join + min-aggregate shuffle on the (stable) edge partitioning;
    labels are eagerly ``localCheckpoint``'d so plan lineage stays flat
    across iterations instead of growing a join per round. The only
    driver-side value is the scalar changed-label count that decides
    convergence (the standard Spark iterative pattern — GraphX CC does
    the same); no row data ever reaches the driver.
    """
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                labels["id"],
                labels["lbl"].alias("_old"),
                F.least(
                    labels["lbl"], F.coalesce("nlbl", labels["lbl"])
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("lbl") != F.col("_old")).count()
        labels = stepped.select("id", "lbl")
        if changed == 0:
            break
    return labels.select("id", F.col("lbl").alias("component"))
