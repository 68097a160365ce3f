"""The benchmark's workloads: named lists of operations, each checked
against an independent reference.

Query operations call a registry ``QuerySpec.fn`` and time the full
``toPandas`` of the frame whose rows are compared, so the timed plan is
the checked plan (a ``count()`` would let Catalyst prune columns). The
reference is the query's DuckDB oracle over the same parquet inputs,
computed once per invocation before anything is timed, and compared
with ``tools/check.py``'s ``normalize``, which is as strict as the
correctness gate.

The inputs are the committed sf0.01 tables in ``perfbench/data`` and the
``pipeline/fixtures.py`` rows. The seed only sets the order of the
operations within a pass.

A run sets up once (``Workload.setup`` and ``warm_passes`` untimed passes),
then times passes until the run's seconds are spent and at least
``min_passes`` are done; ``Workload.prepare`` resets the state before each
pass.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

MARTS = (
    "provider_charge_summary",
    "patient_history",
    "provider_performance",
    "department_performance",
    "financial_metrics",
    "payor_performance",
)


@dataclass
class Op:
    name: str
    run: Callable  # (ctx, state) -> result
    check: Callable  # (ctx, result) -> bool
    oracles: list[str]  # registry queries whose oracles the check reads


@dataclass
class Workload:
    ops: list[Op]
    # untimed passes in set-up; the first of them is the cold pass
    warm_passes: int
    min_passes: int  # timed passes a run makes at least
    # once per run, in set-up: (ctx) -> base
    setup: Callable = lambda ctx: None
    # per-pass state reset, untimed: (ctx, base) -> state; runs with the
    # pass's own temp root as tempfile's directory
    prepare: Callable = lambda ctx, base: None


def _query_op(name: str) -> Op:
    def run(ctx, state):
        with ctx.tracer.span("queries.construct"):
            df = ctx.specs[name].fn(ctx.spark, ctx.data)
        with ctx.tracer.span("queries.execute"):
            return df.toPandas()

    return Op(name, run, lambda ctx, pdf: ctx.same(pdf, ctx.expected[name]),
              [name])


def _nightly_dir(ctx) -> str:
    return os.path.join(ctx.pass_root, "nightly")


def _setup_nightly(ctx):
    """The initial load (run 1) into a fresh warehouse, and the source
    files changed for the incremental run 2, kept as a snapshot that
    every pass starts from. The pass root's path is the same for every
    pass, so the restored warehouse and sources sit at the paths run 1
    recorded."""
    from gcp_healthcare_data_pipeline_spark.pipeline import fixtures as FX  # noqa: PLC0415
    from gcp_healthcare_data_pipeline_spark.pipeline.runner import (  # noqa: PLC0415
        Runner,
        SourcePaths,
    )
    from gcp_healthcare_data_pipeline_spark.queries.pipeline_queries import (  # noqa: PLC0415
        RUN1,
    )

    live = _nightly_dir(ctx)
    sources = SourcePaths(**FX.write_fixtures(os.path.join(live, "src")))
    wh = os.path.join(live, "wh")
    Runner(ctx.spark, wh, clock=RUN1).run(sources)
    FX.update_patient_for_run2(os.path.join(live, "src"))
    snapshot = os.path.join(ctx.work, "nightly.snapshot")
    shutil.copytree(live, snapshot)
    return snapshot, sources, wh


def _prepare_nightly(ctx, base):
    snapshot, sources, wh = base
    shutil.copytree(snapshot, _nightly_dir(ctx))
    return sources, wh


def _pipeline_run2(ctx, state):
    from gcp_healthcare_data_pipeline_spark.pipeline.runner import Runner  # noqa: PLC0415
    from gcp_healthcare_data_pipeline_spark.queries.pipeline_queries import (  # noqa: PLC0415
        RUN2,
    )

    sources, wh = state
    Runner(ctx.spark, wh, clock=RUN2).run(sources)
    return wh


def _check_marts(ctx, wh) -> bool:
    """Every gold mart run 2 wrote equals its q_pipeline_* oracle."""
    return all(
        ctx.same(
            ctx.spark.read.parquet(os.path.join(wh, "gold", mart)).toPandas(),
            ctx.expected[f"q_pipeline_{mart}"],
        )
        for mart in MARTS
    )


WORKLOADS = {
    # The paper's own pipeline: the nightly incremental run (landing ->
    # bronze -> silver with the SCD2 delta -> six gold marts) over a
    # fresh warehouse holding the initial load. About 170 Spark jobs
    # yield ~50 gold rows, so per-job and control-table overhead
    # dominate: the write path, the pipeline zones, control tables and
    # operators.scd2 move this workload.
    "medallion_nightly": Workload(
        # run 1 (the initial load, in set-up) is the cold pass for run 2's
        # code paths; every pass restores the warehouse run 1 left
        [Op("pipeline_run2", _pipeline_run2, _check_marts,
            [f"q_pipeline_{mart}" for mart in MARTS])],
        warm_passes=0,
        min_passes=1,
        setup=_setup_nightly,
        prepare=_prepare_nightly,
    ),
    # Structured Streaming drains (availableNow): tumbling and session
    # windows, Python stateful processing (its workers import the
    # engine), and idempotent upsert and SCD2 foreachBatch sinks. Their
    # cost is fixed per stream (start, state store, commit log) rather
    # than growing with data, and no other workload runs the streaming
    # module.
    "stream_drain": Workload(
        [
            _query_op(n)
            for n in ("q_stream_tumbling", "q_stream_session",
                      "q_stream_stateful_profiles", "q_stream_upsert",
                      "q_stream_scd2")
        ],
        # the JVM keeps getting faster over the first passes: the pass
        # after the cold one still runs 10-20% slower than later ones
        warm_passes=2,
        min_passes=2,
    ),
}


ALL_OPS = [op.name for w in WORKLOADS.values() for op in w.ops]

