"""Vector column functions for embedding similarity.

All pure ``Column`` expressions over ``array<float>`` columns: elements are
cast to double *before* multiplying (each float fits exactly in a double,
so products are exact and the sequential fold is engine-reproducible).
UDF-free — these run JVM-side inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)


def to_double(a: Column) -> Column:
    """Array pre-cast to double — hoist out of O(n^2) pair loops so the
    per-pair expression is one zip_with + one fold, nothing else."""
    return F.transform(a, lambda x: x.cast("double"))


def dot_precast(a: Column, b: Column) -> Column:
    """Dot for arrays ALREADY cast to double (same sequential fold →
    bit-identical to :func:`dot`; higher-order functions run interpreted,
    so per-element work inside a pair join dominates wall clock)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine with the zero-vector contract made explicit: a zero-norm
    side yields 0.0, not NULL — under non-ANSI division NULL cosines
    silently fail every ``>= threshold`` filter (zero vectors would never
    pair, even with each other) while still being ranked by top-k windows.
    0.0 states the same decision ("a zero vector is near nothing")
    loudly and keeps the column non-null."""
    den = norm(a) * norm(b)
    return F.when(den == F.lit(0.0), F.lit(0.0)).otherwise(dot(a, b) / den)


def hyperplane_signature(a: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH signature: one sign bit per plane, packed into
    a long.  ``planes`` is a small engine-generated list (broadcast as
    literals into the expression — no join needed).

    NULL-in/NULL-out (r15 review pass 11): a NULL vector used to fold to
    signature 0 — the same bucket as every all-negative-side vector — so
    NULL embeddings silently joined a real LSH bucket and generated
    candidate pairs; with NULL signatures the equi-join drops them (SQL
    NULL never equals NULL)."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(v)) for v in plane])
        sig = sig + F.when(dot(a, plane_col) >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(0)
    return F.when(a.isNull(), F.lit(None).cast("long")).otherwise(sig)
