"""Measure the engine: per-query profiles, A/B bench sweeps, scaling cells.

    python tools/measure.py profile [query ...] [--sf DIR] [--explain DIR] [--out FILE]
    python tools/measure.py ab --base <sha> [--runs 3] [--out FILE]
    python tools/measure.py scale query ... [--sf DIR] [--copies 10] [--threshold 18] [--out FILE]

``profile`` runs each named batch registry query (default: all of them)
the way ``bench.py`` does, after the same warm-up: ``clear_shared_state()``,
then ``QuerySpec.fn`` (``construct_s``, which includes any eager jobs the
query runs while it builds its frames), then ``.count()``
(``execute_s``). Spark's local event log is kept for the whole session
and, once the session stops, each query's jobs, stages, tasks, shuffle,
spill and ``functions.codegen_share`` are read from it by the query's
time windows (``perfbench/layers.py``), so jobs started from writer
pools and shard threads are counted too. ``layers`` holds the time spent
in the engine's instrumented functions (``operators.*``, ``sources.*``,
...). ``--explain DIR`` writes the physical plan of every SQL execution
in the query's windows to ``DIR/<query>.txt``; those plans come from the
event log's ``sparkPlanInfo``, so they show each job's real shape, not
the ``Scan ExistingRDD`` stub that ``explain()`` prints past a
``localCheckpoint``.

``ab`` runs ``bench.py --runs 1`` alternately in a git worktree of the
base commit and in this checkout (base first in every pair, so host
drift biases both sides alike), then reports per-query median seconds,
head/base ratios and their geomean and median over the common query set
(ratio < 1.0: this checkout is faster). Before the first sweep it prints
which engine ``bench.py`` imports in each tree.

``scale`` times the named queries at ``--sf`` and at ``--copies``
key-offset copies of it (:func:`build_copies`), one untimed warm-up run
per query first, and reports the time ratio and the job ratio. A time
ratio above ``--threshold`` over a base time of at least 0.15 s is
flagged superlinear and makes the exit status 1.

Every subcommand prints one JSON document to stdout and writes it to
``--out`` when given. Sessions run on ``local[$SPARK_GRAFT_CPUS]`` like
``bench.py``; ``$SPARK_GRAFT_SF_DIR`` sets the default scale factor.
"""

from __future__ import annotations

import argparse
import atexit
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import layers as tr  # noqa: E402

DEFAULT_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# per-query profile fields; the Spark records over the query's windows
# are named as the benchmark's per-layer metrics
PROFILE_FIELDS = (
    "rows",
    "construct_s",
    "execute_s",
    "construct_jobs",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.gc_s",
    "spark.executor_run_s",
    "spark.input_bytes",
    "functions.codegen_share",
    "layers",
)


def batch_queries() -> dict:
    """``bench.py``'s timed set without the streaming drains: every
    registry query except ``q_stream_*`` and the fixture-sized
    ``q_pipeline_*`` gates (``q_pipeline_sf`` scales with sf and stays)."""
    from gcp_healthcare_data_pipeline_spark.queries import all_queries  # noqa: PLC0415

    return {
        name: spec
        for name, spec in all_queries().items()
        if not name.startswith("q_stream_")
        and (not name.startswith("q_pipeline_") or name == "q_pipeline_sf")
    }


def start_session(log_dir: str):
    """The engine's session with Spark's event log kept in ``log_dir``."""
    from gcp_healthcare_data_pipeline_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("measure", extra_conf={
        "spark.ui.enabled": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_query(spark, tracer: tr.Tracer, spec, sf_dir: str) -> dict:
    """One cold run of a registry query under ``tracer``: rows (or the
    error), construct/execute seconds, the query's time windows and the
    inclusive seconds of every other span it recorded."""
    from gcp_healthcare_data_pipeline_spark.queries.dedup_queries import (  # noqa: PLC0415
        clear_shared_state,
    )

    clear_shared_state()
    tracer.roots = []
    tracer.recording = True
    out: dict = {}
    try:
        with tracer.span("queries.construct"):
            df = spec.fn(spark, sf_dir)
        with tracer.span("queries.execute"):
            out["rows"] = df.count()
    except Exception as exc:  # noqa: BLE001 — one row per failure
        out["error"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        tracer.recording = False
    spans = tr.span_metrics(tracer)
    incl, win = spans["inclusive_s"], spans["windows"]
    out["construct_s"] = incl.get("queries.construct", 0.0)
    out["execute_s"] = incl.get("queries.execute", 0.0)
    out["windows"] = {k: win.get(k, []) for k in ("queries.construct",
                                                    "queries.execute")}
    out["layers"] = {
        k: round(v, 4) for k, v in sorted(incl.items())
        if not k.startswith("queries.")
    }
    return out


def attribute(log: dict, run: dict) -> dict:
    """Fold the event log's records for ``run``'s windows into it."""
    w = run.pop("windows")
    run.update(tr.spark_metrics(
        log, sorted(w["queries.construct"] + w["queries.execute"])))
    run["construct_jobs"] = tr.jobs_in(log, w["queries.construct"])
    return run


def _plan_text(node, depth: int = 0) -> list[str]:
    lines = ["  " * depth + node["simpleString"]]
    for child in node["children"]:
        lines += _plan_text(child, depth + 1)
    return lines


def write_plans(log: dict, windows, path: str) -> None:
    """Write every SQL execution plan started inside ``windows``."""
    plans = [p for t, p in sorted(log["plans"], key=lambda tp: tp[0])
             if any(a <= t <= b for a, b in windows)]
    with open(path, "w") as fh:
        for i, plan in enumerate(plans):
            fh.write(f"== execution {i} ==\n")
            fh.write("\n".join(_plan_text(plan)) + "\n\n")


def traced_session(body):
    """Run ``body(spark, tracer)`` in a session with the event log and the
    engine's span wrappers on; returns its result and the parsed log."""
    log_dir = tempfile.mkdtemp(prefix="measure_eventlog_")
    try:
        spark = start_session(log_dir)
        tracer = tr.Tracer()
        restore = tr.install(tracer)
        try:
            result = body(spark, tracer)
        finally:
            restore()
            spark.stop()  # closes the event log
        return result, tr.read_event_log(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def _engine_meta() -> dict:
    import gcp_healthcare_data_pipeline_spark as pkg  # noqa: PLC0415

    head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                          capture_output=True, text=True)
    return {
        "engine": os.path.dirname(os.path.realpath(pkg.__file__)),
        "commit": head.stdout.strip() or None,
        "cores": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
    }


# -- profile ---------------------------------------------------------------


def cmd_profile(args) -> tuple[dict, int]:
    specs = batch_queries()
    names = args.names or list(specs)
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"not batch registry queries: {unknown}")

    def body(spark, tracer):
        from bench import _vector_warmup  # noqa: PLC0415

        # bench.py's warm-up, so first-query numbers are comparable
        nat = spark.read.parquet(os.path.join(args.sf, "nation.parquet"))
        reg = spark.read.parquet(os.path.join(args.sf, "region.parquet"))
        nat.join(reg, nat.n_regionkey == reg.r_regionkey).groupBy(
            "r_name").count().collect()
        _vector_warmup(spark, args.sf)
        runs = {}
        for name in names:
            runs[name] = run_query(spark, tracer, specs[name], args.sf)
            r = runs[name]
            print(f"# {name}: {r['construct_s']:.3f}s + {r['execute_s']:.3f}s"
                  f" {r.get('error', '')}", file=sys.stderr, flush=True)
        return runs

    runs, log = traced_session(body)
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
    queries, errors = {}, {}
    for name, run in runs.items():
        if args.explain:
            w = run["windows"]
            write_plans(log, w["queries.construct"] + w["queries.execute"],
                        os.path.join(args.explain, f"{name}.txt"))
        if "error" in run:
            errors[name] = run["error"]
            continue
        run = attribute(log, run)
        queries[name] = {k: run[k] for k in PROFILE_FIELDS}
    doc = {"sf": args.sf, **_engine_meta(), "queries": queries,
           "errors": errors}
    return doc, 1 if errors else 0


# -- ab --------------------------------------------------------------------


def ab_summary(base_samples: dict, head_samples: dict) -> dict:
    """Per-query medians per side, head/base ratios and their geomean and
    median over the queries both sides timed (a zero base median has no
    ratio)."""
    med_base = {k: round(statistics.median(v), 3) for k, v in base_samples.items()}
    med_head = {k: round(statistics.median(v), 3) for k, v in head_samples.items()}
    common = sorted(set(med_base) & set(med_head))
    ratios = {
        k: round(med_head[k] / med_base[k], 4)
        for k in common if med_base[k] > 0
    }
    logs = [math.log(r) for r in ratios.values() if r > 0]
    return {
        "n_common": len(common),
        "geomean_ratio": round(math.exp(sum(logs) / len(logs)), 4) if logs else None,
        "median_ratio": round(statistics.median(ratios.values()), 4) if ratios else None,
        "base_median_sec": med_base,
        "head_median_sec": med_head,
        "ratio_head_over_base": ratios,
    }


def engine_path(tree: str, env: dict) -> str:
    """The engine package ``bench.py`` imports when run in ``tree``."""
    proc = subprocess.run(
        [sys.executable, "-c",
         "import bench, gcp_healthcare_data_pipeline_spark as p; "
         "print(p.__file__)"],
        cwd=tree, env=env, capture_output=True, text=True, check=True,
    )
    path = os.path.dirname(os.path.realpath(proc.stdout.strip().splitlines()[-1]))
    if not path.startswith(os.path.realpath(tree) + os.sep):
        raise RuntimeError(f"bench.py in {tree} imports the engine at {path}")
    return path


def _sweep(tree: str, env: dict, label: str) -> dict:
    """One ``bench.py --runs 1`` in ``tree``; returns its JSON line."""
    print(f"# ab: sweep {label} in {tree}", file=sys.stderr, flush=True)
    proc = subprocess.run([sys.executable, "bench.py", "--runs", "1"],
                          cwd=tree, env=env, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{label} sweep failed rc={proc.returncode}: "
                           f"{proc.stderr[-2000:]}")
    for line in reversed(proc.stdout.strip().splitlines()):
        if line.strip().startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"{label} sweep emitted no JSON line")


def cmd_ab(args) -> tuple[dict, int]:
    sha = subprocess.run(["git", "rev-parse", args.base], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout.strip()
    base_tree = os.path.join(tempfile.gettempdir(), f"ab_base_{sha[:12]}")
    if not os.path.isdir(base_tree):
        subprocess.run(["git", "worktree", "add", "--detach", base_tree, sha],
                       cwd=ROOT, check=True, stdout=sys.stderr)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    trees = {"base": base_tree, "head": ROOT}  # base runs first in each pair
    engines = {side: engine_path(tree, env) for side, tree in trees.items()}
    for side, path in engines.items():
        print(f"# ab: {side} engine {path}", file=sys.stderr, flush=True)
    samples: dict[str, dict] = {side: {} for side in trees}
    sweeps = []
    for r in range(args.runs):
        for side, tree in trees.items():
            parsed = _sweep(tree, env, f"{side}#{r}")
            qs = dict(parsed.get("queries", {}))
            qs.update(parsed.get("exempt_fixed_overhead", {}).get("queries", {}))
            for name, sec in qs.items():
                samples[side].setdefault(name, []).append(sec)
            sweeps.append({"side": side, "run": r, "total": parsed.get("value"),
                           "anchor": parsed.get("anchor", {}).get("sec")})
    doc = {
        "base_sha": sha,
        "engines": engines,
        "runs_per_side": args.runs,
        "sweeps": sweeps,
        **ab_summary(samples["base"], samples["head"]),
        "note": "ratio < 1.0 = HEAD faster; sweeps interleaved base,head "
                "per pair on one host in one session",
    }
    if args.out is None:
        args.out = os.path.join(ROOT, f"AB_BENCH_{sha[:7]}.json")
    return doc, 0


# -- scale -----------------------------------------------------------------

# key columns offset per copy; columns sharing a domain share one span,
# so every join stays inside its copy (doc_id and vec_id share one:
# document i keeps embedding i). region and nation are not copied.
_COPY_KEYS = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "doc"},
}


def _sign_flips(seed: int, copy: int, dims: int) -> list[float]:
    return [
        1.0
        if int(hashlib.md5(f"{seed}:{copy}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for d in range(dims)
    ]


def copy_levels(copies: int) -> list[int]:
    """Split ``copies`` into copy-of-copy levels of at most 10 each
    (100 -> [10, 10], 50 -> [10, 5])."""
    levels = []
    while copies > 10:
        f = next((d for d in range(10, 1, -1) if copies % d == 0), None)
        if f is None:
            raise ValueError(f"{copies} copies: a prime factor above 10")
        levels.append(f)
        copies //= f
    return levels + [copies]


def build_copies(spark, src_sf: str, copies: int) -> str:
    """Write ``copies`` copies of ``src_sf`` into a temp dir and return it;
    above 10 the copies are built as copies of copies (:func:`copy_levels`).

    Copies are unrelated data of the same shape, never duplicates of each
    other (10 duplicate copies would make 10-way near-dup clusters and
    measure a data property, not plan scaling):

    - keys: copy i adds ``i * span`` to every key column, with one span
      per key domain, so fact/dimension fan-in, per-key group sizes,
      basket sizes and per-pair supports all stay as in ``src_sf``;
    - documents: every token gets the copy prefix ``k{i}`` (a bijective
      per-copy vocabulary rename with token and shingle counts kept), so
      no shingle is shared across copies while each copy keeps its own
      dup structure; ``n_chars`` is recomputed from the new text;
    - supplier: names get the suffix ``#{i}{i}``, edit distance 2 between
      copies (outside the levenshtein <= 1 linkage radius);
    - embeddings: copy i flips a fixed per-copy pattern of signs, which
      keeps every within-copy dot product, cosine and euclidean distance
      exactly, while cross-copy dots decorrelate.

    The levels compose: tokens become ``k{j}k{i}...``, key spans grow
    per level and sign patterns are seeded per level. Other tables are
    symlinked unchanged.
    """
    for n in copy_levels(copies):
        src_sf = _copy_level(spark, src_sf, n)
    return src_sf


def _copy_level(spark, src_sf: str, copies: int) -> str:
    from pyspark.sql import functions as F  # noqa: PLC0415

    # single-digit copy ids keep the k{i} prefixes prefix-free; at
    # copies > 10, "k1" + "1abc" would collide with "k11" + "abc"
    assert 1 <= copies <= 10, "the token prefix is unambiguous for <= 10 copies"
    out = tempfile.mkdtemp(prefix="sf_copies_")
    atexit.register(shutil.rmtree, out, True)
    frames = {t: spark.read.parquet(os.path.join(src_sf, f"{t}.parquet"))
              for t in _COPY_KEYS}
    span: dict[str, int] = {}
    for t, keys in _COPY_KEYS.items():
        maxes = frames[t].agg(*[F.max(c) for c in keys]).first()
        for (c, dom), m in zip(keys.items(), maxes):
            span[dom] = max(span.get(dom, 1), (m or 0) + 1)
    dims = len(frames["embeddings"].select("embedding").head()[0])

    def rewrite(table: str, i: int) -> dict:
        cols = {c: F.col(c) + F.lit(i * span[dom])
                for c, dom in _COPY_KEYS[table].items()}
        if table == "documents":
            cols["text"] = F.regexp_replace("text", "(^|(?<= ))(?=[^ ])", f"k{i}")
            cols["n_chars"] = F.length(cols["text"]).cast("bigint")
        elif table == "supplier":
            cols["s_name"] = F.concat("s_name", F.lit(f"#{i}{i}"))
        elif table == "embeddings":
            signs = F.array(*[F.lit(s) for s in _sign_flips(span["doc"], i, dims)])
            cols["embedding"] = F.transform(
                "embedding",
                lambda x, j: (x * F.element_at(signs, j + 1)).cast("float"))
        return cols

    for t, df in frames.items():
        parts = []
        for i in range(copies):
            cols = rewrite(t, i)
            parts.append(df.select(*[cols.get(c, F.col(c)).alias(c)
                                     for c in df.columns]))
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        union.write.parquet(os.path.join(out, f"{t}.parquet"))
    for f in os.listdir(src_sf):
        dst = os.path.join(out, f)
        if f.endswith(".parquet") and not os.path.exists(dst):
            os.symlink(os.path.join(src_sf, f), dst)
    return out


def cmd_scale(args) -> tuple[dict, int]:
    specs = batch_queries()
    unknown = [n for n in args.names if n not in specs]
    if unknown or not args.names:
        raise SystemExit(f"name batch registry queries to scale; not: {unknown}")
    copy_levels(args.copies)  # reject an unbuildable count before Spark starts

    def body(spark, tracer):
        print(f"# scale: building {args.copies} copies of {args.sf}",
              file=sys.stderr, flush=True)
        cell = build_copies(spark, args.sf, args.copies)
        runs = {}
        for name in args.names:
            run_query(spark, tracer, specs[name], args.sf)  # untimed warm-up
            runs[name] = (run_query(spark, tracer, specs[name], args.sf),
                          run_query(spark, tracer, specs[name], cell))
        return runs

    runs, log = traced_session(body)
    rows, rc = {}, 0
    for name, (base, big) in runs.items():
        if "error" in base or "error" in big:
            rows[name] = {"error": base.get("error") or big.get("error")}
            rc = 1
            continue
        base, big = attribute(log, base), attribute(log, big)
        t0 = base["construct_s"] + base["execute_s"]
        t1 = big["construct_s"] + big["execute_s"]
        ratio = t1 / max(t0, 1e-9)
        flag = ratio > args.threshold and t0 >= 0.15
        rc |= flag
        rows[name] = {
            "base_rows": base["rows"], "copies_rows": big["rows"],
            "base_s": round(t0, 3), "copies_s": round(t1, 3),
            "time_ratio": round(ratio, 2),
            "base_jobs": base["spark.jobs"], "copies_jobs": big["spark.jobs"],
            "job_ratio": round(big["spark.jobs"] / max(base["spark.jobs"], 1), 2),
            "superlinear": flag,
        }
        print(f"# {name}: {t0:.3f}s -> {t1:.3f}s x{ratio:.2f}, jobs "
              f"{base['spark.jobs']} -> {big['spark.jobs']}"
              f"{'  SUPERLINEAR' if flag else ''}", file=sys.stderr)
    doc = {"sf": args.sf, "copies": args.copies, "threshold": args.threshold,
           **_engine_meta(), "queries": rows}
    return doc, int(rc)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("profile", help="per-query time, jobs, shuffle, "
                       "spill and codegen share")
    p.add_argument("names", nargs="*", help="batch queries (default: all)")
    p.add_argument("--sf", default=DEFAULT_SF)
    p.add_argument("--explain", metavar="DIR",
                   help="write each query's executed plans to DIR/<query>.txt")
    p.set_defaults(run=cmd_profile)
    a = sub.add_parser("ab", help="interleaved bench.py sweeps, base vs "
                       "this checkout")
    a.add_argument("--base", required=True, help="base commit (sha/ref)")
    a.add_argument("--runs", type=int, default=3,
                   help="sweeps per side (interleaved pairs)")
    a.set_defaults(run=cmd_ab)
    s = sub.add_parser("scale", help="time and job ratios at N copies of "
                       "a scale factor")
    s.add_argument("names", nargs="+")
    s.add_argument("--sf", default=DEFAULT_SF)
    s.add_argument("--copies", type=int, default=10)
    s.add_argument("--threshold", type=float, default=18.0,
                   help="flag a time ratio above this as superlinear")
    s.set_defaults(run=cmd_scale)
    for cmd in (p, a, s):
        cmd.add_argument("--out", help="also write the JSON document here")
    args = ap.parse_args(argv)
    doc, rc = args.run(args)
    text = json.dumps(doc, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
        print(f"# wrote {args.out}", file=sys.stderr)
    print(text)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
