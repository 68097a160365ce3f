"""CLI for the healthcare medallion pipeline (the reference's Airflow DAG
chain as one command — SURVEY §2.11 C7).

    python run_pipeline.py --sources <dir> --warehouse <dir> [--clock ISO]

``--sources`` expects the reference data layout:
    emr/hospital-a/*.csv  emr/hospital-b/*.csv
    claims/*.csv  cptcodes/cptcodes.csv  configs/load_config.csv
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gcp_healthcare_data_pipeline_spark.pipeline.runner import (  # noqa: E402
    Runner,
    SourcePaths,
)
from gcp_healthcare_data_pipeline_spark.session import get_spark  # noqa: E402

EMR_TABLES = ("patients", "encounters", "transactions", "providers", "departments")


def source_paths(root: str) -> SourcePaths:
    emr = {
        ds: {t: f"{root}/emr/{h}/{t}.csv" for t in EMR_TABLES}
        for ds, h in (
            ("hospital_a_db", "hospital-a"),
            ("hospital_b_db", "hospital-b"),
        )
    }
    return SourcePaths(
        emr=emr,
        claims_glob=f"{root}/claims/*.csv",
        cptcodes=f"{root}/cptcodes/cptcodes.csv",
        load_config=f"{root}/configs/load_config.csv",
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sources", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--clock", default=None, help="ISO timestamp for SCD2 runs")
    ap.add_argument(
        "--bucketize", action="store_true",
        help="materialize bucketed silver tables (exchange-free merges)",
    )
    ap.add_argument(
        "--versioned-gold", action="store_true",
        help="snapshot each gold mart into gold_history (time travel)",
    )
    ap.add_argument(
        "--gold-retain", type=int, default=3,
        help="gold snapshot versions to retain (with --versioned-gold)",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="bin-pack small files across warehouse zones after the run",
    )
    args = ap.parse_args()

    clock = datetime.fromisoformat(args.clock) if args.clock else None
    spark = get_spark("healthcare-pipeline")
    runner = Runner(
        spark,
        args.warehouse,
        clock=clock,
        versioned_gold=args.versioned_gold,
        gold_retain=args.gold_retain,
    )
    summary = runner.run(source_paths(args.sources), bucketize=args.bucketize)
    out = {"gold_mart_rows": summary}
    if args.compact:
        out["compaction"] = {
            zone: {
                t: {k: r[k] for k in ("n_files", "target_files", "compacted")}
                for t, r in runner.compact_zone(zone).items()
            }
            for zone in ("silver", "gold")
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
