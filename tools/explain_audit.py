"""Physical-plan audit: dump every registry query's plan and flag scale
anti-patterns (cartesian products, missing pushdown, sort-merge joins on
dim tables, row-at-a-time Python evaluation, and UNDOCUMENTED
single-partition windows).

Usage: python tools/explain_audit.py [query ...] [--sf DIR] [--dump]
"""

from __future__ import annotations

import argparse
import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOOD = ("BroadcastHashJoin", "PushedFilters", "WholeStageCodegen")
FLAGS = {
    "CartesianProduct": "cartesian product (unbounded fan-out)",
    "BatchEvalPython": "row-at-a-time Python UDF in plan",
    "PythonUDF": "Python UDF in plan",
}

# windowspecdefinition whose first argument is an order spec or a frame
# (no partition columns) = all rows through ONE task. Each allowed
# query carries the documented reason its frame is bounded.
_GLOBAL_WINDOW = re.compile(
    r"windowspecdefinition\((specifiedwindowframe|[^,)]*\b(ASC|DESC)\b)"
)
GLOBAL_WINDOW_ALLOWED = {
    # prefix-sum over the range-bucket COUNT table (~N/width rows), not
    # the data — the documented two-phase stable-ID pattern
    "q_stable_ids": "bucket-offset prefix sum over the tiny count table",
    # rank assignment AFTER TakeOrdered: window sees <= k rows
    "q_bpe_merges": "rank over the 20-row TakeOrdered result",
    "q_bm25_search": "rank over the 10-row TakeOrdered result",
    # window-min over one row per source/language (<= dozens)
    "q_domain_mix": "min over the per-source count table",
    "q_temperature_mix": "min over the per-language count table",
    # lag over the monthly aggregate (~tens of rows)
    "q_mom_growth": "lag over the per-month revenue table",
    # prefix sum over the complete month grid (~tens of rows)
    "q_active_shipments": "cumsum over the month-grid delta table",
    # window-sums over the |event types|-row contingency table
    "q_ab_chi_square": "totals over the tiny contingency table",
    # window-sums over the |priority buckets|-row distribution table
    "q_psi_drift": "totals over the tiny bucket-distribution table",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--dump", action="store_true")
    args = ap.parse_args()

    from gcp_healthcare_data_pipeline_spark.queries import all_queries
    from gcp_healthcare_data_pipeline_spark.session import get_spark

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("FATAL")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    specs = all_queries()
    names = args.names or list(specs)
    n_flagged = 0
    for name in names:
        df = specs[name].fn(spark, args.sf)
        plan = df._jdf.queryExecution().explainString(mode)
        counts = {
            "bcast": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "shj": plan.count("ShuffledHashJoin"),
            "exch": plan.count("Exchange"),
            "arrow": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        }
        pushed = plan.count("PushedFilters: [Is") + plan.count(
            "PushedFilters: [And"
        ) + plan.count("PushedFilters: [Gr") + plan.count("PushedFilters: [EqualTo")
        flags = [msg for pat, msg in FLAGS.items() if pat in plan]
        if _GLOBAL_WINDOW.search(plan) and name not in GLOBAL_WINDOW_ALLOWED:
            flags.append(
                "single-partition window (undocumented global frame)"
            )
        flag_str = ("  !! " + "; ".join(flags)) if flags else ""
        n_flagged += bool(flags)
        print(
            f"{name:28s} joins(bcast/smj/shj)={counts['bcast']}/{counts['smj']}"
            f"/{counts['shj']} exchanges={counts['exch']} "
            f"pushedFilterScans={pushed} arrowStages={counts['arrow']}{flag_str}"
        )
        if args.dump:
            print(plan)
    print(f"\n{n_flagged} queries flagged of {len(names)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
