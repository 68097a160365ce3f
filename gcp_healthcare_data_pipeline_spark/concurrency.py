"""Bounded driver-side concurrency for independent Spark writes.

Spark's FIFO scheduler overlaps jobs submitted from driver threads, so
tables with no data dependency on each other can be written at once:
the later writes back-fill the task tail of the earlier ones instead of
leaving the cores idle between jobs. Every caller writes each table to
its own path, so no two tasks share a single-writer domain.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Hashable, TypeVar

T = TypeVar("T")
K = TypeVar("K", bound=Hashable)

# small and fixed: at local scale each extra concurrent job mostly adds
# driver contention, not throughput
MAX_WORKERS = 3


def settle_all(
    tasks: dict[K, Callable[[], T]], max_workers: int = MAX_WORKERS
) -> tuple[dict[K, T], dict[K, BaseException]]:
    """Run ``tasks`` (key -> zero-argument callable) from a bounded
    thread pool; returns ``(results, failures)``, both keyed and ordered
    like ``tasks``.

    Failure contract: every submitted task runs to completion (success
    or failure) before this returns — a failure never cancels or
    abandons a sibling, so the caller sees the whole outcome and can
    raise ONE error naming every failed key."""
    results: dict[K, T] = {}
    failures: dict[K, BaseException] = {}
    if not tasks:
        return results, failures
    with ThreadPoolExecutor(max_workers=min(max_workers, len(tasks))) as pool:
        futures = {key: pool.submit(fn) for key, fn in tasks.items()}
        for key, fut in futures.items():
            try:
                results[key] = fut.result()
            except BaseException as exc:  # noqa: BLE001 — caller aggregates
                failures[key] = exc
    return results, failures


def run_all(tasks: dict[K, Callable[[], T]]) -> dict[K, T]:
    """:func:`settle_all`, raising one aggregated error (chained from the
    first failure) if any task failed; returns the results."""
    results, failures = settle_all(tasks)
    if failures:
        failed = ", ".join(f"{k}: {e}" for k, e in failures.items())
        raise RuntimeError(
            f"{len(failures)} table write(s) failed [{failed}]"
        ) from next(iter(failures.values()))
    return results
