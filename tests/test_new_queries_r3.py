"""Unit tests for the round-3 additions: SemDeDup cluster-scoped pruning,
explicit GROUPING SETS, and time-series gap fill (the DuckDB oracle gate
covers value parity; these pin the *semantics* independently)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.queries.extended_queries import (
    q_gap_fill,
    q_grouping_sets,
    q_incremental_agg,
    q_rolling_revenue,
    q_snapshot_diff,
)
from gcp_healthcare_data_pipeline_spark.queries.stats_queries import (
    q_profile_table,
)
from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (
    _SEMDEDUP_THR,
    q_semdedup,
)

SF_DIR = "/root/testdata/sf0.001"


def test_semdedup_drops_are_within_cluster_and_above_threshold(spark):
    out = q_semdedup(spark, SF_DIR).collect()
    assert out, "expected at least one semantic near-dup at sf0.001"
    for r in out:
        # the keeper is always a lower id (deterministic canonical)
        assert r.duplicate_of < r.id_drop
        assert r.cos_sim >= _SEMDEDUP_THR
    # one row per dropped doc, never more
    ids = [r.id_drop for r in out]
    assert len(ids) == len(set(ids))


def test_semdedup_never_crosses_clusters(spark):
    # recompute each doc's cluster independently and verify every
    # (drop, keep) pair shares it
    from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (
        _kmeans_assign,
        _lloyd_centroids,
    )
    from gcp_healthcare_data_pipeline_spark.functions.vectors import as_double

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", as_double("embedding").alias("v"))
    )
    # same corpus-size-derived seeds and one-Lloyd-round refinement
    # q_semdedup blocks on
    centroids = _lloyd_centroids(emb)
    cluster = {
        r.vec_id: r.centroid_id
        for r in _kmeans_assign(emb, centroids).collect()
    }
    for r in q_semdedup(spark, SF_DIR).collect():
        assert cluster[r.id_drop] == cluster[r.duplicate_of] == r.centroid_id


def test_grouping_sets_margins_are_consistent(spark):
    rows = q_grouping_sets(spark, SF_DIR).collect()
    total = [r for r in rows if r.gid == 3]
    per_status = {r.status: r for r in rows if r.gid == 1}
    detail = [r for r in rows if r.gid == 0]
    assert len(total) == 1
    # detail rows re-aggregate to the status margin, margins to the total
    for s, m in per_status.items():
        assert m.n_orders == sum(r.n_orders for r in detail if r.status == s)
    assert total[0].n_orders == sum(r.n_orders for r in detail)
    # only the three requested sets — no cube cross-margin (gid == 2)
    assert {r.gid for r in rows} == {0, 1, 3}


def test_salted_join_matches_plain_join(spark):
    from gcp_healthcare_data_pipeline_spark.operators.skew import salted_join

    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_partkey", "l_orderkey", "l_linenumber", "l_quantity")
        .withColumn(
            "_uid", F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")
        )
    )
    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    salted = salted_join(li, part, "l_partkey", "p_partkey", "_uid", salts=4)
    plain = li.join(part, li.l_partkey == part.p_partkey)
    assert salted.count() == plain.count()
    assert "_salt" not in salted.columns
    a = {tuple(r) for r in salted.select("l_orderkey", "l_linenumber", "p_brand").collect()}
    b = {tuple(r) for r in plain.select("l_orderkey", "l_linenumber", "p_brand").collect()}
    assert a == b


def test_snapshot_diff_classifies_all_three_types(spark):
    rows = q_snapshot_diff(spark, SF_DIR).collect()
    kinds = {r.change_type for r in rows}
    assert kinds == {"insert", "update", "delete"}
    for r in rows:
        if r.change_type == "insert":
            assert r.key % 11 == 0 and r.old_bal is None
        elif r.change_type == "delete":
            assert r.key % 13 == 0 and r.new_bal is None
        else:
            assert r.key % 7 == 0
            assert abs(r.new_bal - r.old_bal - 10.0) < 0.011


def test_incremental_agg_equals_direct_aggregate(spark):
    merged = {
        r.event_type: (r.n_rows, r.total)
        for r in q_incremental_agg(spark, SF_DIR).collect()
    }
    direct = {
        r.event_type: (r.n, round(r.s, 2))
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert merged == direct


def test_rolling_revenue_matches_bruteforce_for_one_customer(spark):
    out = q_rolling_revenue(spark, SF_DIR)
    cust = out.select("cust_key").first().cust_key
    rows = out.filter(F.col("cust_key") == cust).collect()
    days = [r.day for r in rows]
    # brute-force the RANGE frame: all orders of the customer within
    # [day-29, day], including same-day peers
    for r in rows:
        expected_n = sum(1 for d in days if r.day - 29 <= d <= r.day)
        assert r.n_orders_30d == expected_n


def test_profile_table_basic_invariants(spark):
    prof = {r.col_name: r for r in q_profile_table(spark, SF_DIR).collect()}
    n = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    pk = prof["o_orderkey"]
    assert pk.n_nulls == 0 and pk.n_distinct == n
    assert pk.min_num is not None and pk.min_str is None
    st = prof["o_orderstatus"]
    assert st.min_num is None and st.min_str is not None
    od = prof["o_orderdate"]
    assert od.min_num is not None and od.min_num <= od.max_num


def test_gap_fill_grid_is_dense_and_forward_filled(spark):
    rows = q_gap_fill(spark, SF_DIR).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r.hour)
        hours = [r.hour for r in rs]
        # dense hourly grid over the observed span
        assert hours == list(range(hours[0], hours[-1] + 1))
        # first and last grid points are real observations by construction
        assert rs[0].n_events > 0 and rs[-1].n_events > 0
        last_seen = None
        for r in rs:
            if r.is_gap:
                assert r.n_events == 0 and r.avg_value is None
                assert r.filled_value == last_seen
            else:
                assert r.n_events > 0
                assert r.filled_value == r.avg_value
                last_seen = r.avg_value
