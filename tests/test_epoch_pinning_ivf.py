"""Epoch-pinned IVF index shape: correctness does not depend on the
corpus size the shape was derived from.

Same production pattern as the LSH EPOCH POLICY
(``operators.dedup.lsh_params``, tests/test_epoch_pinning.py): a growing
corpus pins its IVF seed mod (and therefore nlist, and therefore the
coarse quantizer's msup = ceil(sqrt(nlist)), which derives from the
ACTUAL centroid count) when the index is first built, and keeps routing
incremental batches through that shape even after n crosses a decade
boundary — re-deriving nlist ~ sqrt(n) per run would silently change
the index shape and invalidate every persisted cluster assignment.
These tests prove the property the policy relies on: ANY pinned mod
yields a Spark search result bit-identical to the DuckDB oracle under
the SAME pinned mod, including on a corpus that has outgrown the
shape's derivation point.
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))

from check import duck_con, normalize  # noqa: E402

from gcp_healthcare_data_pipeline_spark.operators.similarity import (  # noqa: E402
    ivf_topk,
)
from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (  # noqa: E402
    _ann_ivf_oracle_sql,
)
from gcp_healthcare_data_pipeline_spark.session import load_tables  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"  # 2000 vectors


def test_corpus_outgrew_epoch_shape():
    """Precondition: both pinned epoch mods below differ from the
    adaptive target-cluster mod (16384/64 dims = 256) the corpus would get today —
    otherwise the parity test proves nothing. (31 and 100 are the
    sqrt(n)-era shapes a 500- and 10000-vector epoch would have pinned:
    max(31, ceil(sqrt(n))) — exactly the persisted-index situation the
    policy exists for.)"""
    from gcp_healthcare_data_pipeline_spark.operators.similarity import (
        IVF_TARGET_CLUSTER_FLOATS,
    )

    adaptive_mod = IVF_TARGET_CLUSTER_FLOATS // 64  # 64-dim corpus
    legacy = [max(31, math.ceil(math.sqrt(n))) for n in (500, 10000)]
    assert legacy == [31, 100]
    assert all(mod != adaptive_mod for mod in legacy)


@pytest.mark.parametrize("epoch_mod", [31, 100])
def test_pinned_epoch_mod_on_grown_corpus(spark, epoch_mod):
    """Search the 2000-vector corpus under a mod pinned at a DIFFERENT
    corpus size (one epoch smaller and one larger) and verify the full
    seed -> Lloyd -> hierarchical-assign -> probe pipeline matches the
    DuckDB oracle running the SAME pinned mod. Green here means a
    persisted epoch index shape stays valid (and engine-portable)
    across corpus growth — the nlist analogue of the LSH banding pin."""
    from pyspark.sql import functions as F

    emb = load_tables(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = ivf_topk(
        emb, queries, k=5, centroid_mod=epoch_mod, probes=4, lloyd_iters=1
    ).toPandas()

    con = duck_con(SF_DIR)
    want = con.sql(_ann_ivf_oracle_sql(mod_sql=str(epoch_mod))).df()
    assert len(got) > 0, "pinned shape returned no neighbors — degenerate"
    ga, gb = normalize(got), normalize(want)
    assert list(ga.columns) == list(gb.columns)
    assert len(ga) == len(gb), f"rowcount {len(ga)} vs oracle {len(gb)}"
    assert ga.equals(gb)
