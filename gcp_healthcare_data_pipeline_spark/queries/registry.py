from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# The engine's pinned semantics (see session.py). Queries may run under a
# CALLER-OWNED SparkSession (the driver passes its own), so every query
# re-asserts these at call time — they are all runtime-settable SQL confs.
# Without them: ANSI-on turns SAFE_CAST/SAFE_OFFSET NULLs into errors, a
# non-UTC zone skews timestamp parsing vs the oracle, and the events
# table's TIMESTAMP(NANOS) fails to read at all.
_REQUIRED_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def exit_tempdir(prefix: str) -> str:
    """A ``tempfile.mkdtemp`` work dir that is removed at process exit.

    For queries whose returned frame reads its work dir lazily: removing
    the dir on return would break the frame, and never removing it
    leaves one dir behind per call."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, True)
    return root


def ensure_semantics(spark: SparkSession) -> SparkSession:
    for k, v in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on some builds; query then relies on defaults
    return spark


@dataclass(frozen=True)
class QuerySpec:
    """One correctness-gated query.

    ``fn(spark, sf_dir) -> DataFrame``; ``oracle`` is equivalent DuckDB SQL
    over the pre-registered parquet views, or None for non-SQL-expressible
    operators (driver then records a weaker rows-only check).
    Column names/aliases MUST match between fn's output and the oracle.
    The public ``fn`` pins the engine's session semantics before building
    the plan (the caller may hand us an arbitrarily-configured session).
    """

    name: str
    raw_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ids: str = ""  # SURVEY.md §2 operator ids this query exercises
    fn: Callable[[SparkSession, str], DataFrame] = field(init=False)

    def __post_init__(self):
        raw = self.raw_fn

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return raw(ensure_semantics(spark), sf_dir)

        wrapped.__name__ = getattr(raw, "__name__", self.name)
        object.__setattr__(self, "fn", wrapped)


def collect(*groups: Iterable[QuerySpec]) -> dict[str, QuerySpec]:
    out: dict[str, QuerySpec] = {}
    for group in groups:
        for spec in group:
            if spec.name in out:
                raise ValueError(f"duplicate query name: {spec.name}")
            out[spec.name] = spec
    return out
