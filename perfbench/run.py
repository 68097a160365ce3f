"""Oracle-checked benchmark of the engine, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout and loads the engine from that
checkout only. One client process drives ``local[<cores>]`` in a closed
loop, one operation at a time:

1. set-up: engine import, JVM and session start, the workload's own
   set-up, and its untimed warm passes (the first is the cold pass);
2. timed passes in the seed's operation order, repeated until
   ``--seconds`` of operations have been timed and the workload's
   minimum number of passes is done. ``wall_s`` is a median pass: the
   sum over the operations of each one's median time.

With ``--trace 1`` the session keeps Spark's event log, and a traced pass
(a streaming listener and function wrappers, ``perfbench/layers.py``)
runs between the warm passes and the timed passes; its time minus theirs
is the tracing overhead.

Every result is checked against its reference (``workloads.py``); the
DuckDB oracles are computed before anything is timed and kept out of
``setup_s``. The last stdout line is the result JSON; the line before it
records the set-up (cores, local dirs, driver heap, seed, the engine's
path and commit).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")

sys.path.insert(0, HERE)
import layers as tr  # noqa: E402
import workloads as wl  # noqa: E402


def load_engine():
    """Import the engine and the reference checker from this checkout.

    ``tools/check.py`` puts a fixed path first on ``sys.path``; importing
    the package first, asserting where it came from and restoring
    ``sys.path`` keeps every later import on this checkout's code."""
    saved = list(sys.path)
    sys.path.insert(0, ROOT)
    import gcp_healthcare_data_pipeline_spark as pkg  # noqa: PLC0415

    want = os.path.join(ROOT, tr.PACKAGE, "__init__.py")
    if os.path.realpath(pkg.__file__) != os.path.realpath(want):
        raise ImportError(f"engine loaded from {pkg.__file__}, not {want}")
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(ROOT, "tools", "check.py")
    )
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    sys.path[:] = [ROOT] + saved
    from gcp_healthcare_data_pipeline_spark.queries import all_queries  # noqa: PLC0415

    return pkg, check, all_queries()


def git_head() -> str | None:
    """The checkout's commit, or None outside a git work tree (never
    looks above the checkout)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=30, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


class PeakRss:
    """Samples driver Python + JVM resident memory while active."""

    def __init__(self, jvm_pid: int):
        self.pids = (os.getpid(), jvm_pid)
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while not self._stop.wait(0.02):
            self.peak_kb = max(self.peak_kb, sum(map(_rss_kb, self.pids)))

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Context:
    """What an operation sees: the session, inputs, oracles, tracer."""

    def __init__(self, check, specs, work: str):
        self.check = check
        self.work = work
        self.specs = specs
        self.expected: dict = {}
        self.data = DATA
        self.spark = None
        self.tracer = tr.Tracer()
        self.pass_root = ""

    def same(self, result, expected) -> bool:
        got = self.check.normalize(result)
        return (
            list(got.columns) == list(expected.columns)
            and len(got) == len(expected)
            and got.equals(expected)
        )


class Bench:
    def __init__(self, args, work: str, ctx: Context):
        self.args = args
        self.work = work
        self.ctx = ctx
        self.workload = wl.WORKLOADS[args.workload]
        self.order = random.Random(args.seed).sample(
            self.workload.ops, len(self.workload.ops)
        )
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # -- session -----------------------------------------------------------
    def start_session(self, event_log: str | None = None):
        from gcp_healthcare_data_pipeline_spark.session import get_spark  # noqa: PLC0415

        conf = {
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if event_log:
            os.makedirs(event_log)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # -- passes ------------------------------------------------------------
    @contextlib.contextmanager
    def pass_root(self):
        """A fresh temp root per pass, always at the same path: queries'
        scratch dirs and the nightly warehouse land here and go when the
        pass ends."""
        root = os.path.join(self.work, "pass")
        os.makedirs(root)
        self.ctx.pass_root, tempfile.tempdir = root, root
        try:
            yield root
        finally:
            tempfile.tempdir = os.path.join(self.work, "tmp")
            shutil.rmtree(root, ignore_errors=True)

    def run_op(self, op, state) -> float:
        """Run, time and check one operation; returns its latency."""
        from gcp_healthcare_data_pipeline_spark.queries.dedup_queries import (  # noqa: PLC0415
            clear_shared_state,
        )

        ctx = self.ctx
        clear_shared_state()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("op"):
                result = op.run(ctx, state)
            elapsed = time.perf_counter() - t0
            ok = op.check(ctx, result)
            reason = "result differs from the reference"
        except Exception as exc:  # noqa: BLE001 — count it, keep going
            elapsed = time.perf_counter() - t0
            traceback.print_exc()
            ok, reason = False, f"{type(exc).__name__}: {exc}"[:300]
        if not ok:
            self.failed += 1
            self.failures.append(f"{op.name}: {reason}")
            print(f"FAILED {op.name}: {reason}", file=sys.stderr)
        return elapsed

    def run_pass(self, ops, state) -> dict[str, float]:
        return {op.name: self.run_op(op, state) for op in ops}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    tempfile.tempdir = os.path.join(work, "tmp")
    # half the cores for Spark's task threads: the JVM's compiler and GC
    # threads and this process get the rest, so that contention for the
    # host's cores (steal on a shared machine) moves the figures less
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    # set before the JVM starts: Spark's Python workers import the engine
    # from this checkout, and every scratch file stays inside it
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": tempfile.tempdir,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        # no hsperfdata files in the system temp dir from any JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    bench = None
    try:
        try:
            pkg, check, specs = load_engine()
        except (ImportError, OSError) as exc:
            print(f"perfbench: cannot load the engine: {exc}", file=sys.stderr)
            return 2
        bench = Bench(args, work, Context(check, specs, work))
        with contextlib.redirect_stdout(sys.stderr):
            result, record = run(bench, cores)
    finally:
        if bench is not None and bench.ctx.spark is not None:
            bench.ctx.spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    record.update(engine=pkg.__file__, commit=git_head())
    print(json.dumps({"setup": record}))
    print(json.dumps(result))
    return 0


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it Spark's
    Python workers) to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _log(what: str) -> None:
    print(f"perfbench: {what} at {time.perf_counter() - T_PROCESS:.2f}s",
          file=sys.stderr)


def run(bench: Bench, cores: int):
    args, workload, ctx = bench.args, bench.workload, bench.ctx

    t0 = time.perf_counter()
    con = ctx.check.duck_con(DATA)
    ctx.expected = {
        n: ctx.check.normalize(con.sql(ctx.specs[n].oracle).df())
        for op in workload.ops
        for n in op.oracles
    }
    con.close()
    oracle_s = time.perf_counter() - t0
    _log("oracles computed")

    log_dir = os.path.join(bench.work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    ctx.spark = bench.start_session(event_log=log_dir)
    session_start_s = time.perf_counter() - t0
    from pyspark import SparkContext  # noqa: PLC0415

    jvm_pid = SparkContext._gateway.proc.pid
    _log("session started")

    with bench.pass_root():
        base = workload.setup(ctx)
    for _ in range(workload.warm_passes):
        with bench.pass_root():
            bench.run_pass(bench.order, workload.prepare(ctx, base))
    setup_s = time.perf_counter() - T_PROCESS - oracle_s
    _log("set up")
    if args.trace:
        with bench.pass_root() as root:
            trace = traced_pass(bench, workload.prepare(ctx, base), root)
    passes: list[dict[str, float]] = []
    rss = PeakRss(jvm_pid)
    with rss:
        while (len(passes) < workload.min_passes
               or sum(sum(p.values()) for p in passes) < args.seconds):
            with bench.pass_root():
                state = workload.prepare(ctx, base)
                passes.append(bench.run_pass(bench.order, state))
    _log(f"{len(passes)} timed passes")
    wall_s = sum(
        statistics.median(p[op.name] for p in passes) for op in workload.ops
    )

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "order": [op.name for op in bench.order],
        "cores": cores,
        "nproc": len(os.sched_getaffinity(0)),
        "master": ctx.spark.sparkContext.master,
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "driver_memory": ctx.spark.conf.get("spark.driver.memory"),
        "data": DATA,
        "passes": passes,
        "oracle_s": oracle_s,
        "peak_rss_mb": rss.peak_kb / 1024.0,
        "failures": bench.failures,
    }
    values = {"wall_s": wall_s, "setup_s": setup_s}
    kind = "end_to_end"
    if args.trace:
        ctx.spark.stop()  # closes the event log
        values = layer_metrics(trace, tr.span_metrics(ctx.tracer),
                               tr.read_event_log(log_dir), passes)
        values.update({
            "session.start_s": session_start_s,
            "memory.peak_rss_mb": rss.peak_kb / 1024.0,
            "trace.overhead_s": values["trace.wall_s"] - wall_s,
        })
        kind = "per_layer"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)[kind]
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
            for d in declared
        },
    }
    return result, record


def _written_since(root: str, since: float) -> tuple[int, int]:
    """Bytes and count of the files under ``root`` written at or after
    ``since`` (epoch seconds)."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return size, n


def _retries(pass_root: str) -> int:
    """WARN retry rows the nightly run left in pipeline_logs."""
    import pandas as pd  # noqa: PLC0415

    logs = os.path.join(pass_root, "nightly", "wh", "control", "pipeline_logs")
    if not os.path.isdir(logs):
        return 0
    df = pd.read_parquet(logs, columns=["event_type", "message"])
    return int(
        ((df.event_type == "WARN") & df.message.str.contains("retrying")).sum()
    )


def traced_pass(bench: Bench, state, root: str) -> dict:
    """One pass with the streaming listener and the function wrappers on;
    returns its time and what the spans, the listener and the pass's
    temp root recorded."""
    ctx = bench.ctx
    listener = tr.StreamingProgress()
    ctx.spark.streams.addListener(listener)
    restore = tr.install(ctx.tracer)
    start = time.time()
    try:
        ctx.tracer.recording = True
        traced_s = sum(bench.run_pass(bench.order, state).values())
        ctx.tracer.recording = False
        # progress events arrive asynchronously; let the bus drain
        seen = -1
        while seen != len(listener.batches):
            seen = len(listener.batches)
            time.sleep(0.5)
        ctx.spark.streams.removeListener(listener)
    finally:
        restore()
    written, files = _written_since(root, start)
    return {
        "trace.wall_s": traced_s,
        "sources.bytes_written": written,
        "sources.files_written": files,
        "pipeline.retries": _retries(root),
        **tr.streaming_metrics(listener.batches),
    }


def layer_metrics(trace: dict, spans: dict, log: dict, passes) -> dict:
    """The traced pass's per-layer metrics: span times, and Spark's
    records attributed to the spans' time windows."""
    incl, win = spans["inclusive_s"], spans["windows"]
    operators = [f"operators.{k}" for k in ("scd2", "dedup", "similarity",
                                            "versioning")]
    m = dict(trace)
    m.update({
        "pipeline.jobs": tr.jobs_in(log, win.get("pipeline.run", [])),
        "queries.jobs": tr.jobs_in(
            log, win.get("queries.construct", []), win.get("queries.execute", [])
        ),
        "operators.jobs": tr.jobs_in(log, *(win.get(k, []) for k in operators)),
    })
    for key in ("pipeline.landing", "pipeline.bronze", "pipeline.silver",
                "pipeline.gold", "pipeline.control", "sources.read",
                "sources.write", "plans.construct", "queries.construct",
                "queries.execute"):
        m[f"{key}_s"] = incl.get(key, 0.0)
    for key in operators:
        m[f"{key}.s"] = incl.get(key, 0.0)
    for layer in ("pipeline", "sources", "plans", "operators", "queries"):
        m[f"{layer}.self_s"] = spans["self_s"].get(layer, 0.0)
    # windowed to the operations: Spark work done by the checks between
    # operations stays out
    m.update(tr.spark_metrics(log, win.get("op", [])))
    for name in wl.ALL_OPS:
        times = [p[name] for p in passes if name in p]
        m[f"op.{name}.s"] = statistics.median(times) if times else 0.0
    return m


if __name__ == "__main__":
    sys.exit(main())
