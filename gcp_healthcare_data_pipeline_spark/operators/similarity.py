"""Similarity search over embedding columns.

- :func:`brute_force_topk` — exact cosine top-k: broadcast the (small)
  query set against the corpus, window-rank per query. The corpus-side
  scan is embarrassingly parallel; the only shuffle is the per-query
  top-k (tiny). This is the correctness baseline.
- :func:`packed_nearest`, :func:`hier_quantizer`, :func:`dim_mean` —
  the nearest-centroid operator, two-level coarse quantizer and
  per-dimension centroid mean that k-means (L2), IVF (cosine, see
  :func:`ivf_assign`) and PQ encoding share; each caller passes its
  metric as a key function.
- :func:`lsh_bucket_topk` — the scale path: deterministic random-
  hyperplane LSH (signs derived from md5 of dimension index, so the
  "random" planes are reproducible without a seed exchange) buckets the
  corpus; each query only scores its own bucket ± probes. At 100 TB the
  bucket join replaces the full cross product; recall is tunable by
  signature bits / number of probe permutations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.functions.vectors import (
    argmin_fold,
    as_double,
    cosine_precomputed,
    norm,
)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (self-matches excluded).

    Ranking is on cosine rounded to 6dp with id tie-break, making the
    result deterministic and oracle-comparable.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_cv")
    ).withColumn("_cn", norm(F.col("_cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_precomputed(
                    F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def lsh_signature(vec_col: str, bits: int, dims: int, plane_offset: int = 0) -> F.Column:
    """Random-hyperplane signature: bit b = sign of sum_i(w_bi * v_i),
    with deterministic pseudo-random weights w_bi ∈ {-1,+1} derived from
    md5(plane:i) parity — reproducible across engines and runs.
    ``plane_offset`` selects a disjoint plane set per hash table."""
    terms = (
        f"aggregate(sequence(0, {dims - 1}), cast(0.0 as double), (acc, i) -> acc + "
        f"CASE WHEN (instr('0123456789abcdef', substr(md5(concat(cast(b + {plane_offset} as string), ':', cast(i as string))), 1, 1)) - 1) % 2 = 0 "
        f"THEN element_at({vec_col}, i + 1) ELSE -element_at({vec_col}, i + 1) END)"
    )
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), (acc, b) -> "
        f"acc + CASE WHEN ({terms}) >= 0.0 THEN shiftleft(cast(1 as bigint), b) "
        f"ELSE cast(0 as bigint) END)"
    )


# fixed target cluster size for adaptive IVF sizing (centroid_mod=None),
# expressed in FLOATS so the probe cost AND the centroid broadcast the
# target bounds (both rows x dims) stay constant across embedding
# widths (r13, dim-aware sizing): 16384 floats = the r12-measured 256
# rows at the 64-dim testdata, so any 64-dim corpus derives the exact
# mod every prior round used; a 1024-dim corpus gets 16-row clusters
# instead of a 16x-ed broadcast. Mirrored in the oracle
# (_IVF_ADAPTIVE_MOD_SQL) and pinnable per corpus epoch exactly like an
# explicit centroid_mod.
IVF_TARGET_CLUSTER_FLOATS = 16384


def _md5_48(col: str) -> F.Column:
    """First 48 bits of md5(id) as bigint — the engine's shared
    deterministic id hash (same expression as
    :func:`hash_stratified_winners`)."""
    return F.expr(
        f"cast(conv(substr(md5(cast({col} as string)), 1, 12), 16, 10)"
        " as bigint)"
    )


def hash_stratified_winners(
    df: DataFrame, id_col: str, mf: DataFrame, m_col: str
) -> DataFrame:
    """ONE hash-minimal row per id-hash bucket: the deterministic
    stratified-seeding discipline every centroid/super-centroid
    selection in the engine shares (k-means seeds, k-means supers, IVF
    supers). ``mf`` is a 1-row frame holding the bucket count ``m_col``
    (a broadcast aggregate — no driver collect). Hash = first 48 bits
    of md5(id) as bigint; winner per ``hash % m`` bucket by (hash, id).

    This is THE single Spark-side definition — the DuckDB twins
    (vector_queries._C0_SQL, _hier_assign_sql's ``{p}sup``,
    _ivf_hier_sql's ``{p}sup``) replicate it verbatim and must change
    in lockstep with this function.

    Execution shape (r17 optimization, guide §2.3 "aggregate before you
    shuffle"): the bucket winner is a partial-combining
    ``groupBy(bucket).agg(min(struct(_h, id, payload...)))`` — (_h, id)
    is unique per row, so lexicographic struct-min IS the former
    ``row_number() over (partition by bucket order by _h, id) = 1``
    window, but the exchange now carries at most m pre-reduced rows per
    map partition instead of the window's full-table sort shuffle.
    Payload columns ride along in the struct and are never compared
    (the unique (_h, id) prefix decides first) — but struct-min still
    requires every payload column's TYPE to be orderable (maps fail at
    analysis time where the former row_number window worked; no current
    caller carries one — r17 ADVICE, constraint made explicit)."""
    cols = df.columns
    h = _md5_48(id_col)
    return (
        df.withColumn("_h", h)
        .crossJoin(F.broadcast(mf))
        .groupBy(F.pmod(F.col("_h"), F.col(m_col)).alias("_b"))
        .agg(F.min(F.struct("_h", id_col, *[c for c in cols if c != id_col])).alias("_w"))
        .select(*[F.col(f"_w.{c}").alias(c) for c in cols])
    )


# Centroid-broadcast budget per shard, in FLOATS (≈200 MB of doubles):
# the shard driver sizes shards so the per-shard centroid table —
# rows_per_shard / block_rows centroids x dims floats — never exceeds
# this, regardless of embedding width. rows_per_shard =
# floor(BUDGET x block_rows / dims) = BUDGET x BLOCK_FLOATS / dims^2:
# 102.4M rows at 64 dims (the documented "~100M vectors/shard ≈ 200 MB
# of centroids" policy, now executable), 400k rows at 1024 dims.
SHARD_CENTROID_BUDGET_FLOATS = 25_600_000


def shard_vectors(
    df: DataFrame,
    max_rows_per_shard: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_shards: int | None = None,
) -> DataFrame:
    """Deterministic corpus sharding for the vector family's per-shard
    scale path (SCALING_r12.md §3's prose policy, executable as of r13):
    adds ``shard_id = md5_48(id) % n_shards`` with
    ``n_shards = max(1, ceil(n / rows_per_shard))``.

    ``max_rows_per_shard=None`` derives the dim-aware default
    ``floor(SHARD_CENTROID_BUDGET_FLOATS * block_rows / dims)`` (see the
    budget constant above) so the per-shard centroid table stays under
    ~200 MB at ANY embedding width. Everything is a 1-row broadcast
    aggregate composed into the plan — no driver collect; the md5 hash
    is the engine's shared id-hash discipline, so the split is
    reproducible in the DuckDB oracle verbatim. Callers that LOOP over
    shards (the per-shard index-build jobs) materialize one scalar — the
    shard count — which is index-build orchestration, the same driver
    pattern as the reference's config-table loop (C1).

    ``n_shards`` pins the shard COUNT directly (no corpus-count
    aggregate in the plan at all) — the dev-SF/test override: a fixed
    small split keeps the shard machinery live with >= 2 shards while
    the per-shard job count stays constant as test corpora grow
    (r13 verdict item 5). Mutually exclusive with ``max_rows_per_shard``;
    production sizing derives the count from the row budget.
    """
    if n_shards is not None:
        if max_rows_per_shard is not None:
            raise ValueError(
                "pass max_rows_per_shard OR n_shards, not both"
            )
        return df.withColumn(
            "shard_id",
            F.pmod(_md5_48(id_col), F.lit(int(n_shards)).cast("bigint")),
        )
    if max_rows_per_shard is not None:
        rows = F.lit(int(max_rows_per_shard)).cast("bigint")
    else:
        block = F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(
                F.lit(float(IVF_TARGET_CLUSTER_FLOATS)) / F.max(F.size(vec_col))
            ),
        )
        rows = F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(
                F.lit(float(SHARD_CENTROID_BUDGET_FLOATS))
                * block
                / F.max(F.size(vec_col))
            ),
        )
    nf = df.agg(
        F.greatest(
            F.lit(1).cast("bigint"), F.ceil(F.count(F.lit(1)) / rows)
        ).alias("_nsh")
    )
    return (
        df.crossJoin(F.broadcast(nf))
        .withColumn("shard_id", F.pmod(_md5_48(id_col), F.col("_nsh")))
        .drop("_nsh")
    )


def fanout_union(one, ids) -> "DataFrame | None":
    """Shared per-shard job fan-out for the shard drivers: submit
    ``one(id)`` for every id from driver threads so the independent
    per-shard jobs' stages interleave on the executor pool instead of
    serializing (each ``one`` must end in an eager localCheckpoint so
    the union below reads materialized blocks), then unionByName the
    parts. Falls back to the serial loop on RuntimeError (thread
    exhaustion under a loaded host) — same results, just no stage
    overlap. Returns None for an empty id list. ONE definition for the
    four shard drivers (q_semdedup_sharded, q_ann_ivf_sharded,
    q_knn_graph_sharded, the recursive reconcile) so the
    fallback-condition and merge semantics cannot drift."""
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    ids = list(ids)
    if not ids:
        return None
    try:
        with ThreadPoolExecutor(max_workers=min(16, len(ids))) as ex:
            parts = list(ex.map(one, ids))
    except RuntimeError:
        parts = [one(i) for i in ids]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _assert_unique_ids(df: DataFrame, col: str, who: str) -> DataFrame:
    """Debug-mode uniqueness guard: attaches a 1-row broadcast check
    that raises at EXECUTION time if ``col`` carries duplicates —
    duplicate ids would otherwise collapse silently (one row per id,
    nondeterministically chosen payload) in the keep-1 aggregation.
    One extra groupBy on the id projection — debug cost, not hot-path."""
    chk = (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.assert_true(
                F.coalesce(F.max("_c"), F.lit(0)) <= 1,
                F.lit(f"{who}: duplicate {col} values — ids must be unique"),
            ).alias("_ok")
        )
    )
    # the filter REFERENCES _ok so column pruning cannot elide the
    # assert_true expression (a bare drop lets Catalyst remove it);
    # assert_true yields NULL on success, so the filter keeps every row
    return (
        df.crossJoin(F.broadcast(chk))
        .filter(F.col("_ok").isNull())
        .drop("_ok")
    )


def packed_nearest(
    df: DataFrame, cands: DataFrame, key, by: str | None = None
) -> DataFrame:
    """Nearest candidate per row of ``df``, added as struct column
    ``_nn`` = struct(_k0, _k1, ..., <id>): the minimum over ``cands`` of
    ``key(s)`` (a list of Columns over the candidate struct ``s`` and
    ``df``'s columns), ties broken by the candidate id. The id is the
    first column of ``cands`` other than ``by``. The one nearest-
    candidate operator of the engine: both levels of the k-means and
    IVF assignment, the IVF/k-means centroid -> super map and the PQ
    encoder all run through it.

    The candidates are packed into an id-sorted struct array, either as
    ONE broadcast row (``by=None``, crossJoined) or one row per ``by``
    value (broadcast hash join on ``by``), and the argmin is a single
    :func:`functions.vectors.argmin_fold` over that array inside a
    projection: ``df`` never shuffles (through r16 these were crossJoin
    fan-outs plus row_number windows partitioned on the row id, which
    shuffled every vector). Struct-min is lexicographic, so the result
    IS ``row_number() over (order by key..., id) = 1``: callers round
    their keys to 6dp, NaN sorts greatest in both engines, and
    (key, id) is unique per candidate. A row whose candidate array is
    empty gets a NULL ``_nn``; a row whose ``by`` value has no
    candidates drops, like the inner join it replaces."""
    fields = [c for c in cands.columns if c != by]
    pack = F.array_sort(F.collect_list(F.struct(*fields))).alias("_cands")
    if by is None:
        joined = df.crossJoin(F.broadcast(cands.agg(pack)))
    else:
        joined = df.join(F.broadcast(cands.groupBy(by).agg(pack)), by)
    best = argmin_fold(
        F.col("_cands"),
        lambda s: F.struct(
            *[k.alias(f"_k{i}") for i, k in enumerate(key(s))],
            s[fields[0]].alias(fields[0]),
        ),
    )
    return joined.withColumn("_nn", best).drop("_cands")


def hier_quantizer(
    cents: DataFrame, mf: DataFrame, metric, sup_point: list[str]
) -> tuple[DataFrame, DataFrame]:
    """(supers, cmap): the coarse quantizer of a two-level assignment
    over ``cents`` = (centroid_id, point columns...). ``mf`` is a 1-row
    frame holding the super count ``_m``. Supers are the
    :func:`hash_stratified_winners` of the centroid table (the seeding
    discipline every centroid selection shares), as (super_id,
    ``sup_point``...); cmap is ``cents`` plus the super_id of each
    centroid's nearest super under ``metric(a, b)``, a key Column over
    two points given as lists of Columns (lower is nearer). Callers
    checkpoint ``cents`` first: both tables (and usually ``mf``)
    traverse its lineage, which includes a full corpus pass after a
    Lloyd round.

    Self-preference tie-break: a centroid that IS a super maps to
    itself. Two near-identical centroids can both be chosen as supers
    and tie at the rounded metric; without the preference the losing
    super is CHILDLESS and every vector routed to it would be silently
    dropped by the inner child join, in the near-duplicate regime a
    dedup engine exists for. Mirrored in the oracles' ``{p}cmap`` CTEs:
    the fold key (metric, self-pref, super_id) is their (metric asc,
    self-pref asc, id asc) window order."""
    point = cents.columns[1:]
    supers = hash_stratified_winners(cents, "centroid_id", mf, "_m").select(
        F.col("centroid_id").alias("super_id"),
        *[F.col(c).alias(n) for c, n in zip(point, sup_point)],
    )
    cmap = packed_nearest(
        cents,
        supers,
        lambda s: [
            metric([F.col(c) for c in point], [s[n] for n in sup_point]),
            F.when(s["super_id"] == F.col("centroid_id"), 0).otherwise(1),
        ],
    ).select(*cents.columns, F.col("_nn.super_id").alias("super_id"))
    return supers, cmap


def dim_mean(df: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """Per-dimension mean of the array column ``vec`` per ``keys`` group:
    (keys..., vec). posexplode + a partial-aggregated groupBy (shuffle
    bounded by groups x dims), then the means collected back in
    dimension order."""
    dims = (
        df.select(*keys, F.posexplode(vec).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(F.avg("val").alias("cval"))
    )
    return dims.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s["cval"],
        ).alias(vec)
    )


def _neg_cos_key(a: list, b: list) -> F.Column:
    """IVF metric over (vector, norm) points: cosine rounded to 6dp,
    negated so the argmin is (sim desc). ``0.0 - sim`` (not unary minus)
    keeps signed zeros from ordering differently, and nanvl maps a NaN
    similarity to -inf after negation so it WINS the min exactly like
    the row_number window (both engines sort NaN first under DESC)."""
    return F.lit(0.0) - F.nanvl(
        F.round(cosine_precomputed(a[0], b[0], a[1], b[1]), 6),
        F.lit(float("inf")),
    )


def ivf_assign(
    df: DataFrame, vec: str, nrm: str, keep: int,
    supers: DataFrame, cmap: DataFrame, super_keep: int = 1,
) -> DataFrame:
    """Two-level max-cosine assignment: route to the ``super_keep``
    nearest supers (n x msup folds), then argmax only those supers'
    children (n x super_keep*nlist/msup on average). Corpus vectors
    route to 1 super (the cost-critical side); the tiny query side
    routes to 2 (coarse multi-probe — recovers the recall the
    one-super approximation gives up, at negligible cost).
    Tie-breaks at both levels: rounded cosine desc, id asc —
    mirrored in the oracle.

    keep-1 argmaxes (the corpus-side, cost-critical path) run through
    :func:`packed_nearest` with :func:`_neg_cos_key`. Top-N keeps (query
    probing, tiny side) use row_number windows. Output: ``df``'s id,
    its other columns, centroid_id."""
    idc = df.columns[0]
    carry = [c for c in df.columns if c != idc]
    x = [F.col(vec), F.col(nrm)]

    if super_keep == 1:
        routed = packed_nearest(
            df, supers, lambda s: [_neg_cos_key(x, [s["_sv"], s["_sn"]])]
        ).withColumn("super_id", F.col("_nn.super_id")).drop("_nn")
    else:
        sroutes = df.crossJoin(F.broadcast(supers)).withColumn(
            "_ssim",
            F.round(
                cosine_precomputed(
                    F.col(vec), F.col("_sv"), F.col(nrm), F.col("_sn")
                ),
                6,
            ),
        )
        wsv = Window.partitionBy(idc).orderBy(
            F.col("_ssim").desc(), F.col("super_id").asc()
        )
        routed = (
            sroutes.withColumn("_srn", F.row_number().over(wsv))
            .filter(F.col("_srn") <= super_keep)
            .drop("_sv", "_sn", "_ssim", "_srn")
        )
    if keep == 1 and super_keep == 1:
        # Gated on super_keep == 1 as well (r17 ADVICE): with
        # super_keep > 1 a per-super argmax would emit one winner per
        # PROBED super instead of the window path's single global best
        # per id.
        return packed_nearest(
            routed,
            cmap,
            lambda s: [_neg_cos_key(x, [s["_cv"], s["_ccn"]])],
            by="super_id",
        ).select(idc, *carry, F.col("_nn.centroid_id").alias("centroid_id"))
    cjoined = routed.join(F.broadcast(cmap), "super_id").withColumn(
        "_csim",
        F.round(
            cosine_precomputed(
                F.col(vec), F.col("_cv"), F.col(nrm), F.col("_ccn")
            ),
            6,
        ),
    )
    w = Window.partitionBy(idc).orderBy(
        F.col("_csim").desc(), F.col("centroid_id").asc()
    )
    return (
        cjoined.withColumn("_crank", F.row_number().over(w))
        .filter(F.col("_crank") <= keep)
        .drop("_cv", "_ccn", "_csim", "_crank", "super_id")
    )


def ivf_index(
    corpus: DataFrame,
    centroid_mod: int | None = 31,
    lloyd_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate_ids: bool = False,
):
    """Build the IVF index over ``corpus``: returns
    ``(supers, cmap, assigned)`` — the hierarchical coarse quantizer's
    super-centroid table, the centroid→super child map and the corpus
    inverted lists (every vector keep-1 assigned:
    (neighbor_id, _v, _cn, centroid_id)). SEARCH (:func:`ivf_topk`) and
    INDEX APPEND (q_ann_ivf_incremental's delta assignment) pass their
    own frame with these supers/cmap to :func:`ivf_assign`, the same
    function that built the inverted lists, so they run the IDENTICAL
    machinery against the same standing index.

    CONTRACT: ``id_col`` must be UNIQUE within ``corpus``. The top-N
    assignment path ranks candidates in a window partitioned by the id,
    so a duplicate-id frame would merge two vectors' rankings with no
    error and diverge from the oracle. Pass ``validate_ids=True`` (debug
    mode — one extra id-projection groupBy) to make a duplicate-id
    corpus fail loudly at execution time instead.

    Centroid seeds are a deterministic corpus sample
    (id % centroid_mod == 0; ``centroid_mod=None`` uses the fixed
    TARGET-CLUSTER sizing mod = floor(IVF_TARGET_CLUSTER_FLOATS/dims),
    256 at the 64-dim testdata, i.e. nlist = ~n/mod — clusters hold a
    constant float volume as data grows, so the probe stage (queries x
    probes x cluster rows x dims) scales LINEARLY with a query set that
    grows with the corpus. The classic nlist ~ sqrt(n) sizing was measured r12 at
    the 100x blow-up as the dominant superlinear term: probed clusters
    of sqrt(n) rows x n/100 queries = n^1.5 probe work — right for a
    FIXED query workload, wrong for the grow-with-corpus one this
    engine benchmarks; with the hierarchical quantizer below the
    centroid count is not the binding cost either way);
    ``lloyd_iters`` > 0 then refines them with
    that many spherical-k-means rounds (assign every corpus vector to
    its max-cosine centroid, recompute each centroid as the per-
    dimension member mean) — the real-deployment centroid quality while
    staying fully deterministic and oracle-checkable. Every refinement
    round is one broadcast-assign plus a k x dims aggregation; the
    corpus is never shuffled by key. Clusters that lose all members
    drop out (standard Lloyd behavior, deterministic in both engines).

    Assignment is HIERARCHICAL (r12; the flat n x nlist broadcast
    argmax was n^1.5 with nlist ~ sqrt(n), measured 35.8x on a 10x step
    by the round-11 third-decade probe — SCALING_r11.md §4): a coarse
    quantizer of msup = ceil(sqrt(nlist)) hash-stratified
    super-centroids routes each vector to one super-cluster, and only
    that super's child centroids compete for the final assignment —
    n * 2 * sqrt(nlist) ~ n^1.25 distance work. Queries route through
    the same coarse quantizer and probe their ``probes`` best child
    centroids inside their super-cluster. The two-level argmax is the
    standard IVF coarse-quantizer approximation; the DuckDB oracle
    rebuilds the identical two levels, so results stay engine-identical.
    msup derives from the ACTUAL centroid count (a 1-row broadcast
    aggregate), so pinning ``centroid_mod`` per corpus EPOCH (the same
    policy as ``operators.dedup.lsh_params`` — derive once when the
    index is built, reuse for every batch) pins the full index shape:
    see tests/test_epoch_pinning_ivf.py.
    """
    if validate_ids:
        corpus = _assert_unique_ids(corpus, id_col, "ivf index corpus")
    c_raw = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_v")
    ).withColumn("_cn", norm(F.col("_v")))
    if centroid_mod is None:
        # target-cluster sizing: a FIXED mod keeps probed clusters at a
        # constant FLOAT volume (~IVF_TARGET_CLUSTER_FLOATS, i.e.
        # floats/dims rows — dim-aware as of r13) forever, so probe
        # work stays linear in corpus size even when the query set
        # grows with the corpus; nlist = n/mod grows linearly but the
        # hierarchical quantizer keeps assignment at n * 2*sqrt(nlist).
        # The centroid table broadcast grows linearly too and at a
        # constant BYTE budget per row-count regardless of dims — the
        # shard_vectors operator bounds it (≈200 MB of centroids per
        # ~100M-vector 64-dim shard); inside any shard it is small.
        # The mod is a 1-row broadcast aggregate (no collect), exactly
        # like the k-means family's _derived_k.
        modf = corpus.agg(
            F.greatest(
                F.lit(1).cast("bigint"),
                F.floor(
                    F.lit(float(IVF_TARGET_CLUSTER_FLOATS))
                    / F.max(F.size(vec_col))
                ),
            ).alias("_mod")
        )
        seed_filter = (
            corpus.crossJoin(F.broadcast(modf))
            .filter(F.col(id_col) % F.col("_mod") == 0)
            .drop("_mod")
        )
    else:
        seed_filter = corpus.filter(F.col(id_col) % centroid_mod == 0)
    cents = (
        seed_filter.select(
            F.col(id_col).alias("centroid_id"),
            as_double(vec_col).alias("_cv"),
        )
        .withColumn("_ccn", norm(F.col("_cv")))
    )
    # Empty-seed guard (r12 ADVICE): ``id % mod == 0`` is an id-space
    # sample — a corpus whose ids are sparse or not 0-aligned (1-based,
    # post-filter survivors, …) can yield ZERO seeds, and zero centroids
    # would make every downstream join silently return an empty result.
    # Fall back to the single hash-minimal corpus row (the engine's
    # hash-stratified-winner discipline at m=1, computed as a partial-
    # combining min-struct aggregate — no single-reducer window) used
    # ONLY when the sampled seed set is empty; a 1-centroid index
    # degrades to brute force within one cluster, which is correct.
    # COST, measured and accepted (r13 ADVICE): the guard's min-struct
    # aggregate is one extra corpus pass paid on EVERY call — the
    # _nseeds==0 gate is data-dependent, so Catalyst cannot prune the
    # branch when seeds exist. The pass is a narrow projection with a
    # map-side-combining aggregate (no shuffle of vectors), and the
    # committed 0.61-0.68x bench carries it; a plan-time gate would need
    # a driver-side count, which this engine's no-collect discipline
    # rejects for a hot-path operator.
    seedcnt = cents.agg(F.count(F.lit(1)).alias("_nseeds"))
    fallback = (
        corpus.select(
            F.col(id_col).alias("centroid_id"), as_double(vec_col).alias("_cv")
        )
        .withColumn("_h", _md5_48("centroid_id"))
        .groupBy()
        .agg(
            F.min(
                F.struct(F.col("_h"), F.col("centroid_id"), F.col("_cv"))
            ).alias("_w")
        )
        .select(
            F.col("_w.centroid_id").alias("centroid_id"),
            F.col("_w._cv").alias("_cv"),
        )
        .filter(F.col("centroid_id").isNotNull())  # empty corpus
        .withColumn("_ccn", norm(F.col("_cv")))
    )
    cents = cents.unionByName(
        fallback.crossJoin(F.broadcast(seedcnt))
        .filter(F.col("_nseeds") == 0)
        .drop("_nseeds")
    )

    def quantize(cents: DataFrame) -> tuple[DataFrame, DataFrame]:
        cents = cents.localCheckpoint(eager=False)
        # msup = max(1, ceil(sqrt(n_cents))), a 1-row broadcast aggregate
        mf = cents.agg(
            F.greatest(F.lit(1), F.ceil(F.sqrt(F.count(F.lit(1)))))
            .cast("bigint")
            .alias("_m")
        )
        return hier_quantizer(cents, mf, _neg_cos_key, ["_sv", "_sn"])

    for _ in range(lloyd_iters):
        supers, cmap = quantize(cents)
        members = ivf_assign(c_raw, "_v", "_cn", 1, supers, cmap)
        cents = (
            dim_mean(members, ["centroid_id"], "_v")
            .withColumnRenamed("_v", "_cv")
            .withColumn("_ccn", norm(F.col("_cv")))
        )

    supers, cmap = quantize(cents)
    return supers, cmap, ivf_assign(c_raw, "_v", "_cn", 1, supers, cmap)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    centroid_mod: int | None = 31,
    probes: int = 2,
    lloyd_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate_ids: bool = False,
) -> DataFrame:
    """IVF-style approximate top-k: the second classic ANN scale path.

    Index build (seeding, empty-seed fallback, Lloyd refinement,
    hierarchical coarse quantizer, corpus inverted lists) is
    :func:`ivf_index` — see its docstring for the full design and the
    unique-id contract, which applies to ``queries`` here too. This
    function adds the SEARCH side: queries route through the same
    coarse quantizer (2-super multi-probe on the tiny query side) and
    probe their ``probes`` best child centroids; candidates are the
    probed clusters' members, ranked by rounded cosine with id
    tie-break per query.
    """
    if validate_ids:
        queries = _assert_unique_ids(queries, id_col, "ivf_topk queries")
    supers, cmap, c = ivf_index(
        corpus, centroid_mod, lloyd_iters, id_col, vec_col, validate_ids
    )
    q = ivf_assign(
        queries.select(
            F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
        ).withColumn("_qn", norm(F.col("_qv"))),
        "_qv", "_qn", probes, supers, cmap, super_keep=2,
    )
    scored = (
        F.broadcast(q)
        .join(c, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_precomputed(
                    F.col("_qv"), F.col("_v"), F.col("_qn"), F.col("_cn")
                ),
                6,
            ).alias("cos_sim"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    bits: int = 8,
    dims: int = 64,
    tables: int = 3,
    multiprobe: bool = True,
    probe_depth: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing any of the
    query's LSH buckets across ``tables`` independent hash tables
    (OR-amplification: recall ≈ 1-(1-p^bits)^tables). With ``multiprobe``,
    the query side also probes every bucket within hamming distance
    ``probe_depth`` (vectors near a hyperplane land a bit away) — recall
    amplification on the tiny query side only, corpus stays one bucket
    per table. The bucket join replaces the full cross product; a
    distinct pass dedups candidates found by several tables/probes
    before ranking."""

    import hashlib

    if probe_depth < 1:
        raise ValueError(
            f"probe_depth must be >= 1 (got {probe_depth}); "
            "pass multiprobe=False for exact-bucket lookups"
        )
    spark = corpus.sparkSession
    n_planes = tables * bits

    def _sign(plane: int, i: int) -> float:
        # same weight as lsh_signature's in-engine md5-parity derivation
        h = hashlib.md5(f"{plane}:{i}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

    plane_rows = [
        tuple([i] + [_sign(p, i) for p in range(n_planes)]) for i in range(dims)
    ]
    plane_cols = ", ".join(f"s_{p} double" for p in range(n_planes))
    planes = spark.createDataFrame(plane_rows, f"pos int, {plane_cols}")

    def signatures(df: DataFrame, id_name: str) -> DataFrame:
        """(id, _tb0): per-table buckets via exploded dims + broadcast
        plane weights + codegen SUM aggregates (the HOF loop is
        interpreted and ~5x slower at corpus size)."""
        ex = df.select(
            id_name, F.posexplode("_v").alias("pos", "_val")
        ).join(F.broadcast(planes), "pos")
        projs = [
            F.sum(F.col("_val") * F.col(f"s_{p}")).alias(f"p_{p}")
            for p in range(n_planes)
        ]
        agg = ex.groupBy(id_name).agg(*projs)
        buckets = []
        for t in range(tables):
            bexpr = None
            for b in range(bits):
                bit = F.when(
                    F.col(f"p_{t * bits + b}") >= 0.0,
                    F.lit(1 << b).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint"))
                bexpr = bit if bexpr is None else (bexpr + bit)
            buckets.append(F.struct(F.lit(t).alias("t"), bexpr.alias("b")))
        return agg.select(id_name, F.array(*buckets).alias("_tb0"))

    from itertools import combinations

    # static probe masks: every bit pattern with popcount <= probe_depth;
    # the flip set is fixed at plan time, so the expansion is a literal
    # array (no per-row combinatorics)
    probe_masks = [0]
    for d in range(1, probe_depth + 1):
        probe_masks += [
            sum(1 << i for i in c) for c in combinations(range(bits), d)
        ]

    def with_buckets(df: DataFrame, probe: bool) -> DataFrame:
        id_name = df.columns[0]
        df = df.join(signatures(df, id_name), id_name)
        if probe:
            masks = ", ".join(f"cast({m} as bigint)" for m in probe_masks)
            df = df.withColumn(
                "_tb_all",
                F.expr(
                    f"flatten(transform(_tb0, s -> transform(array({masks}), "
                    f"m -> struct(s.t AS t, s.b ^ m AS b))))"
                ),
            )
        else:
            df = df.withColumn("_tb_all", F.col("_tb0"))
        return (
            df.withColumn("_tb", F.explode("_tb_all"))
            .select(
                "*", F.col("_tb.t").alias("tbl"), F.col("_tb.b").alias("bucket")
            )
            .drop("_tb", "_tb0", "_tb_all")
        )

    c = with_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_v")
        ).withColumn("_cn", norm(F.col("_v"))),
        probe=False,
    )
    q = with_buckets(
        queries.select(
            F.col(id_col).alias("query_id"), as_double(vec_col).alias("_v")
        ).withColumn("_qn", norm(F.col("_v"))),
        probe=multiprobe,
    )
    scored = (
        F.broadcast(
            q.select("query_id", "tbl", "bucket", F.col("_v").alias("_qv"), "_qn")
        )
        .join(c, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_precomputed(
                    F.col("_qv"), F.col("_v"), F.col("_qn"), F.col("_cn")
                ),
                6,
            ).alias("cos_sim"),
        )
        .distinct()  # candidates found by multiple tables collapse here
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
