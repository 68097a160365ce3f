"""Vector math over ``array<float>`` embedding columns — JVM built-ins only.

The dot product is an ``F.aggregate`` fold over ``F.zip_with``. In Spark
4.1.2 both are ``CodegenFallback`` expressions, so whole-stage codegen
leaves out every operator that holds one (the Project or nested-loop
join that scores candidates): it runs on the interpreted expression
evaluator, row by row with boxed doubles. ``tools/measure.py profile
--explain`` shows those operators outside any ``WholeStageCodegen``
node; at sf0.1 q_semdedup has 0.49 of its physical operators in codegen
against q_charge_summary's 0.64 (PROFILE_r19.json). Arrays are cast to
double first so accumulation order and precision match the
(double-based) oracle. No Python UDFs: at 100 TB the Arrow hop per
batch would dominate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dist_between(a: Column, b: Column) -> Column:
    """Euclidean distance rounded to 6dp. Rounding happens before any
    argmin compares it, so assignment tie-breaks are identical across
    engines (the oracle twin is ``vector_queries._km_dist_sql``)."""
    return F.round(F.sqrt(sq_dist(a, b)), 6)


def sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_precomputed(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with norms computed once per vector instead of once per
    pair — O(n) instead of O(n·m) norm work in pairwise scoring, with a
    bit-identical result (multiplication of the same doubles)."""
    return dot(a, b) / (norm_a * norm_b)


def argmin_fold(arr: Column, mk_struct) -> Column:
    """Minimum ``mk_struct(element)`` over ``arr`` as ONE
    ``aggregate``+``least`` pass — the r18 form of the engine's packed
    argmin folds (r17 shipped them as
    ``array_min(transform(arr, mk_struct))``, which materializes the
    whole candidate-struct array per row and then scans it again;
    the single-pass fold keeps identical results at ~30% less
    interpreted-evaluator work and zero per-row array allocation: a
    synthetic scan of 300k rows x 16 packed 64-dim candidates, checked
    bit-identical, took 2.34 s as this fold vs 3.34 s as
    ``array_min(transform(...))``, best of three ``noop`` writes).

    Equivalence to ``array_min(transform(...))``: ``least`` uses the
    same interpreted struct ordering as ``array_min`` (lexicographic
    field-wise, NaN greatest), skips NULL inputs exactly like
    ``array_min`` skips NULL elements, and NULL/empty ``arr``
    propagates to a NULL struct either way. The typed NULL initial
    value comes from a never-taken CASE branch (lazy — the
    ``element_at`` inside is never evaluated, it only fixes the type).

    Constraint: ``mk_struct``'s fields must be orderable types (struct
    comparison), same as the array_min form it replaces.
    """
    init = F.when(F.lit(False), mk_struct(F.element_at(arr, 1)))
    return F.aggregate(arr, init, lambda best, s: F.least(best, mk_struct(s)))
