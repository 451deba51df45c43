"""Vector math over ``array<float>`` embedding columns.

All JVM-side via higher-order functions (``zip_with`` + ``aggregate``) — no
Python/Arrow round-trip in the hot path. Used by operators/similarity.py and
operators/dedup.py (embedding near-dup).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ as a single JVM expression (double accumulator)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def dot_fixed(a: Column | str, b: Column | str, dims: int) -> Column:
    """Σ aᵢ·bᵢ for a KNOWN vector width, as a flat getItem multiply-add
    chain instead of a higher-order-function fold.

    Spark's lambda HOFs (``zip_with``/``aggregate``) are interpreted per
    element — each lambda invocation walks the expression tree — while a
    flat ``a[0]·b[0] + … + a[d−1]·b[d−1]`` chain is ordinary codegen'd
    arithmetic. Left-associated double adds over float→double casts, so
    the result is BIT-IDENTICAL to :func:`dot`'s fold (same order, same
    types); the two are interchangeable wherever the width is known.
    Wrong-width rows yield NULL (getItem past the end), versus :func:`dot`
    which would silently sum the shorter zip — callers relying on that
    distinction should keep :func:`dot`.

    At 64 dims it beats the fold as an isolated sum over a pair join but
    is several times SLOWER inside a fused join+filter+project stage: the
    ~4,000-node expression wrecks the stage's generated-code locality
    (OPTIMIZATION_r16.md §15). The near-dup plans therefore keep
    :func:`dot`; use this form only for narrow vectors or isolated
    aggregate shapes, and re-measure in situ."""
    av, bv = _c(a), _c(b)
    # seed with literal 0.0 exactly like the fold's accumulator — keeps
    # even the signed-zero edge (0.0 + -0.0 = +0.0) bit-identical
    total = F.lit(0.0)
    for i in range(dims):
        total = total + av[i].cast("double") * bv[i].cast("double")
    return total


def l2_norm(a: Column | str) -> Column:
    v = _c(a)
    return F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """NULL when either vector has zero norm (cosine is undefined there):
    try_divide keeps the expression ANSI-safe — a plain ``/`` raises
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode the moment a corpus
    contains a zero embedding. NULL
    composes correctly downstream: threshold filters drop it and desc
    ordering ranks it last, matching the DuckDB oracle's treatment of
    zero vectors (LIST_COSINE_SIMILARITY yields -1.0, also dropped by
    thresholds and ranked last)."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))
