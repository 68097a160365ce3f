"""Local driver-style correctness check: Spark vs DuckDB oracle.

Mirrors the driver's compare (row count + schema + order-insensitive
value hash after sorting columns by name) so queries can be validated
before each round's official run.

Usage: python tools/check.py [query_name ...] [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df):
    """Sort columns by name, then rows; stringify values driver-strict.

    The driver hashes raw ``str(value)`` per cell — so a pandas float64
    ``42.0`` does NOT equal an int64 ``42``.  Round 1 used a ``%.9g``
    normalizer here that collapsed ``42.0`` -> ``42`` and silently masked
    three DuckDB HUGEINT->float64 oracle-type bugs the driver then failed.
    Keep this exactly as strict as the driver: local green must predict
    driver green.
    """
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda x: None if x is None or x != x else str(x))
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(
        drop=True
    )
    return df


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--all-sf", action="store_true",
        help="sweep sf0.001 + sf0.01 + sf0.1 (catches boundary-class "
        "bugs a single SF misses: half-cent rounding flips, IEEE -0.0)",
    )
    args = ap.parse_args()

    from gcp_healthcare_data_pipeline_spark.queries import all_queries
    from gcp_healthcare_data_pipeline_spark.session import get_spark

    specs = all_queries()
    names = args.names or list(specs)
    # an --all-sf sweep runs 600+ query cells in ONE JVM; PySpark's 1g
    # driver default sits at the heap edge there (a GCLocker allocation
    # stall killed the gateway 440 cells into a sweep) — honored only
    # when this is the process's first session, which it is for the CLI
    spark = get_spark("check", extra_conf={"spark.driver.memory": "8g"})
    # extra_conf only takes effect when THIS process launched the JVM;
    # if a session pre-existed (check.py imported into a test process)
    # the 8g ask is silently ignored and the GCLocker heap-death risk
    # returns ~440 cells into a sweep — surface it instead
    got = spark.conf.get("spark.driver.memory", "<unset>")
    if got != "8g":
        print(
            f"WARNING: spark.driver.memory is {got!r}, not '8g' — a "
            "pre-existing JVM ignored extra_conf; long --all-sf sweeps "
            "may OOM the driver",
            file=sys.stderr,
        )

    sf_dirs = (
        [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]
        if args.all_sf
        else [args.sf]
    )
    rc = 0
    for sf_dir in sf_dirs:
        if args.all_sf:
            print(f"=== {sf_dir} ===")
        rc |= run_sweep(spark, specs, names, sf_dir)
    return rc


def run_sweep(spark, specs, names, sf_dir: str) -> int:
    con = duck_con(sf_dir)

    failures = 0
    for name in names:
        spec = specs[name]
        t0 = time.time()
        # per-query failure isolation: a raising query prints one FAIL row
        # and the sweep continues (mirrors bench.py; see VERDICT r4)
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures += 1
            msg = f"{type(exc).__name__}: {exc}".splitlines()[0][:160]
            print(f"[FAIL raise] {name}: {msg}")
            continue
        t_spark = time.time() - t0
        if spec.oracle is None:
            print(f"[rows-only] {name}: {len(sdf)} rows  ({t_spark:.1f}s)")
            continue
        try:
            odf = con.sql(spec.oracle).df()
        except Exception as exc:  # noqa: BLE001
            failures += 1
            msg = f"{type(exc).__name__}: {exc}".splitlines()[0][:160]
            print(f"[FAIL oracle] {name}: {msg}")
            continue
        a, b = normalize(sdf), normalize(odf)
        status = "OK"
        if list(a.columns) != list(b.columns):
            status = f"SCHEMA MISMATCH {list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            status = f"ROWCOUNT {len(a)} vs {len(b)}"
        elif not a.equals(b):
            diff = (a != b) & ~(a.isna() & b.isna())
            bad = diff.any(axis=1)
            status = f"VALUES differ in {int(bad.sum())}/{len(a)} rows"
            ex = a[bad].head(3), b[bad].head(3)
            status += f"\n  spark:\n{ex[0]}\n  oracle:\n{ex[1]}"
        if status != "OK":
            failures += 1
        print(f"[{status.splitlines()[0]}] {name}: {len(a)} rows ({t_spark:.1f}s)")
        if status != "OK" and "\n" in status:
            print("\n".join(status.splitlines()[1:]))
    print(f"\n{len(names) - failures}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
