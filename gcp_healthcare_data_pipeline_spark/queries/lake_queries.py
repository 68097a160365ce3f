"""Lake-management operators under the oracle gate: versioned-snapshot
time-travel diff and small-file compaction roundtrip.

These expose operators/versioning.py and operators/compaction.py on the
driver's correctness surface (their file-level contracts — atomic
pointer commits, retention, crash-orphan sweeping, no-op heuristics —
live in tests/test_versioning.py and tests/test_compaction.py, which
can assert on mtimes and directory inventories the oracle can't see).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.queries.registry import (
    QuerySpec,
    exit_tempdir,
)
from gcp_healthcare_data_pipeline_spark.session import load_tables


def q_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel change feed: commit two versions of an orders summary
    (v0 = pre-cutoff bookings, v1 = all bookings with their final
    status), then diff the snapshots INTO the I/U/D feed — "what changed
    between yesterday's mart and today's" answered from version history
    instead of a re-run, the audit question snapshot retention exists
    for.

    Composition under one oracle: versioning (immutable v=NNNNNN dirs +
    atomic pointer commit) feeding CDC generation (null-safe full-outer
    snapshot diff, operators/cdc.py). The diff reads two materialized
    parquet snapshots — partition-pruned scans of exactly two version
    directories, never a log replay.
    """
    from gcp_healthcare_data_pipeline_spark.operators.cdc import (
        snapshot_diff,
    )
    from gcp_healthcare_data_pipeline_spark.operators.versioning import (
        read_version,
        write_version,
    )

    orders = load_tables(spark, sf_dir, "orders")

    def summarize(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("o_custkey").alias("cust_key")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )

    cutoff = F.lit("1997-01-01").cast("timestamp")
    path = os.path.join(exit_tempdir("q_version_diff_"), "mart")
    write_version(summarize(orders.filter(F.col("o_orderdate") < cutoff)), path)
    write_version(summarize(orders), path)
    return snapshot_diff(
        read_version(spark, path, 0),
        read_version(spark, path, 1),
        ["cust_key"],
        ["n_orders", "revenue"],
    )


_ORACLE_VERSION_DIFF = """
WITH v0 AS (
  SELECT o_custkey AS cust_key, COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1
), v1 AS (
  SELECT o_custkey AS cust_key, COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
), j AS (
  SELECT COALESCE(v0.cust_key, v1.cust_key) AS cust_key,
         v0.n_orders AS old_n_orders, v0.revenue AS old_revenue,
         v1.n_orders AS new_n_orders, v1.revenue AS new_revenue,
         v0.cust_key IS NULL AS ins, v1.cust_key IS NULL AS del
  FROM v0 FULL OUTER JOIN v1 ON v0.cust_key = v1.cust_key
)
SELECT cust_key,
       CASE WHEN ins THEN 'insert' WHEN del THEN 'delete'
            ELSE 'update' END AS change_type,
       old_n_orders, old_revenue, new_n_orders, new_revenue
FROM j
WHERE ins OR del
   OR old_n_orders IS DISTINCT FROM new_n_orders
   OR old_revenue IS DISTINCT FROM new_revenue
"""


def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction correctness, visible to the oracle: fragment an orders
    projection into 40 files, bin-pack it back
    (operators/compaction.py), and return the per-status aggregate of
    the COMPACTED table plus the file-inventory booleans. The aggregate
    must equal the source table's — compaction changed the physical
    layout and nothing else; the booleans pin that the rewrite actually
    both triggered and reduced the file count.
    """
    from gcp_healthcare_data_pipeline_spark.operators.compaction import (
        compact,
    )

    path = os.path.join(exit_tempdir("q_compaction_"), "orders_frag")
    orders = load_tables(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.repartition(40).write.parquet(path)
    result = compact(spark, path, target_bytes=1 << 30)
    files_reduced = (
        result["compacted"]
        and result["n_files"] == 40
        and result["target_files"] < 40
    )
    return (
        spark.read.parquet(path)
        .groupBy(F.col("o_orderstatus").alias("order_status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .withColumn("files_reduced", F.lit(bool(files_reduced)))
    )


_ORACLE_COMPACTION_ROUNDTRIP = """
SELECT o_orderstatus AS order_status,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       TRUE AS files_reduced
FROM orders GROUP BY 1
"""


_DERBY_DB: str | None = None


def q_jdbc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 under the oracle gate: the customer table round-trips through
    a LIVE JDBC endpoint (embedded Apache Derby — bundled with Spark's
    distribution, a real database in-process), then comes back through
    ``jdbc_subquery_reader`` with the incremental watermark evaluated
    INSIDE the source and the scan fanned out over 8 parallel stride
    connections (hospitalA_mysqlToLanding.py:148-163 analog, fixed for
    ingest parallelism).

    Each customer gets a deterministic MODIFIED date ('2024-0M-01',
    M = custkey%6+1); the watermark '2024-03-15' keeps months 4-6, i.e.
    custkey%6 >= 3 — the predicate the oracle applies directly to the
    parquet table. Any Spark-side divergence (watermark not pushed,
    stride overlap/gap dropping or duplicating rows) flips the
    per-segment counts/balances.
    """
    from gcp_healthcare_data_pipeline_spark.sources.readers import (  # noqa: PLC0415
        jdbc_subquery_reader,
    )

    # ONE database per process, reused across invocations (bench and
    # the scaling audit run this query repeatedly): embedded Derby
    # keeps every created database booted in the JVM until shutdown,
    # so a fresh dir per call would accumulate page caches and file
    # handles for the whole session. The TABLE is keyed by sf_dir:
    # the returned DataFrame is lazy, and an un-keyed shared table
    # would let a later call for another sf_dir silently overwrite the
    # data under a not-yet-evaluated result. One table per corpus makes
    # the lazy DF stable (same-sf rewrites are deterministic no-ops).
    global _DERBY_DB  # noqa: PLW0603
    if _DERBY_DB is None:
        _DERBY_DB = os.path.join(exit_tempdir("q_jdbc_"), "derbydb")
    url = f"jdbc:derby:{_DERBY_DB};create=true"
    sf_tag = hashlib.sha256(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:10]
    table = f"customers_{sf_tag}"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    cust = load_tables(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("int").alias("CUSTKEY"),
        F.col("c_mktsegment").alias("SEGMENT"),
        F.col("c_acctbal").alias("ACCTBAL"),
        F.format_string(
            "2024-%02d-01", (F.col("c_custkey") % 6 + 1).cast("int")
        ).alias("MODIFIED"),
    )
    (
        cust.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        # Derby maps StringType to CLOB, which it refuses to compare
        # with literals — force VARCHAR like a MySQL source would be
        .option(
            "createTableColumnTypes",
            "CUSTKEY INT, SEGMENT VARCHAR(16), ACCTBAL DOUBLE, "
            "MODIFIED VARCHAR(10)",
        )
        .mode("overwrite")
        .save()
    )
    df = jdbc_subquery_reader(
        spark,
        url,
        table,
        watermark_col="MODIFIED",
        last_watermark="2024-03-15",
        properties={"driver": driver},
        partition_column="CUSTKEY",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=8,
    ).load()
    return df.groupBy(F.col("SEGMENT").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.round(F.col("ACCTBAL") * 100).cast("bigint")).alias(
            "balance_cents"
        ),
    )


_ORACLE_JDBC_INGEST = """
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS balance_cents
FROM customer
WHERE c_custkey % 6 >= 3
GROUP BY 1
"""


QUERIES = [
    QuerySpec(
        "q_version_diff", q_version_diff, _ORACLE_VERSION_DIFF,
        "ext:lake (time-travel snapshot diff -> I/U/D feed)",
    ),
    QuerySpec(
        "q_jdbc_ingest", q_jdbc_ingest, _ORACLE_JDBC_INGEST,
        "S1:jdbc pushdown + parallel stride read (live Derby endpoint)",
    ),
    QuerySpec(
        "q_compaction_roundtrip", q_compaction_roundtrip,
        _ORACLE_COMPACTION_ROUNDTRIP,
        "ext:lake (small-file bin-packing, content-identical rewrite)",
    ),
]
