"""Epoch-pinned LSH shape: correctness does not depend on the corpus
size the shape was derived from.

Production pattern (``operators.dedup.lsh_params`` EPOCH POLICY): a
growing corpus pins (r, b, k) when its signature table is first built
and keeps screening incremental batches under that shape even after n
crosses a decade boundary — re-deriving per run would silently change
the signature length and invalidate every persisted signature. These
tests prove the property that policy relies on: ANY pinned shape yields
a Spark candidate/verified-pair set bit-identical to the DuckDB oracle
under the SAME pinned shape, including on a corpus that has outgrown
the shape's derivation point by a full decade.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))

from check import duck_con, normalize  # noqa: E402

from gcp_healthcare_data_pipeline_spark.operators.dedup import (  # noqa: E402
    jaccard,
    lsh_candidate_pairs,
    lsh_params,
    minhash_signatures,
    with_shingles,
)
from gcp_healthcare_data_pipeline_spark.queries.dedup_queries import (  # noqa: E402
    _lsh_sql_cte,
)
from gcp_healthcare_data_pipeline_spark.session import load_tables  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"  # 5000 docs
EPOCH_N = 500  # the corpus size the shape was pinned at, a decade ago

_SH_CTE = """d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
  FROM d WHERE len(toks) >= 3
)"""


def test_corpus_outgrew_epoch_shape():
    """Precondition: the test corpus's own adaptive shape (5000 docs ->
    (3, 10, 30)) differs from BOTH pinned epoch shapes below —
    otherwise the parity test proves nothing."""
    assert lsh_params(EPOCH_N) == (2, 6, 12)
    assert lsh_params(5000) == (3, 10, 30)
    assert lsh_params(50000) == (4, 17, 68)
    assert lsh_params(EPOCH_N) != lsh_params(5000) != lsh_params(50000)


@pytest.mark.parametrize("epoch_n", [EPOCH_N, 50000])
def test_pinned_epoch_shape_on_grown_corpus(spark, epoch_n):
    """Screen the 5000-doc corpus under a shape pinned at a DIFFERENT
    corpus size (one decade smaller and one larger) and verify the full
    candidate->exact-Jaccard pipeline matches the DuckDB oracle running
    the SAME pinned shape. Green here means persisted epoch signatures
    stay valid (and engine-portable) across corpus growth."""
    from pyspark.sql import functions as F

    r, nb, k = lsh_params(epoch_n)
    docs = load_tables(spark, SF_DIR, "documents").select("doc_id", "text")
    sh = with_shingles(docs, "text", n=3)
    sig = minhash_signatures(sh, "doc_id", "shingles", k=k)
    cand = lsh_candidate_pairs(sig, "doc_id", "sig", bands=nb, rows_per_band=r)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    got = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.6)
        .toPandas()
    )

    con = duck_con(SF_DIR)
    oracle = f"""
WITH {_SH_CTE}, {_lsh_sql_cte("sh", pinned=(r, nb))}, cand AS (
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
      / len(list_distinct(x.shingles || y.shingles)) >= 0.6
"""
    want = con.sql(oracle).df()
    assert len(got) > 0, "pinned shape found no pairs — fixture degenerate"
    ga, gb = normalize(got), normalize(want)
    assert list(ga.columns) == list(gb.columns)
    assert len(ga) == len(gb), f"rowcount {len(ga)} vs oracle {len(gb)}"
    assert ga.equals(gb)


def test_pinned_cte_matches_explicit_shape():
    """The pinned form of the oracle CTE emits exactly the requested
    (r, nb) regardless of the documents table's cardinality."""
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT range AS doc_id FROM range(10)")
    got = con.sql(
        "WITH sh AS (SELECT 0 AS doc_id, ['a'] AS shingles), "
        f"{_lsh_sql_cte('sh', pinned=(4, 17))} SELECT r, nb FROM lshp"
    ).fetchone()
    assert got == (4, 17)


def test_parquet_num_rows_matches_scan(spark, tmp_path):
    """Footer-metadata row counts (the lazy catalog-statistic path the
    LSH shape derivation uses) agree with a real scan for both
    single-file and Spark-written directory layouts, and unreadable
    paths return None instead of raising."""
    from gcp_healthcare_data_pipeline_spark.session import parquet_num_rows

    single = "/root/testdata/sf0.01/documents.parquet"
    got = parquet_num_rows(single)
    want = spark.read.parquet(single).count()
    assert got == want == 500

    d = str(tmp_path / "dirtable.parquet")
    spark.range(0, 1234).repartition(4).write.parquet(d)
    assert parquet_num_rows(d) == 1234

    assert parquet_num_rows(str(tmp_path / "missing.parquet")) is None
