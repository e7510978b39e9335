"""Vector math over ``array<float|double>`` columns — JVM-side only.

Used by the similarity-search / embedding-dedup operators. Every
helper compiles to Catalyst expressions (``element_at`` sums,
``transform``), so they run inside codegen with zero Python transfer —
the brute-force ANN path stays scan-shaped at 100 TB (no UDF
serialization on the hot loop).

Summation is sequential in element order, which keeps the floating
point result deterministic and comparable with an oracle that loops
the same way.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_unrolled(a: str, b: str, dim: int) -> Column:
    """Known-dimension dot product as a flat scalar expression:
    ``a[1]·b[1] + … + a[dim]·b[dim]`` via element_at — NO intermediate
    array allocation (``zip_with`` allocates one array per row, which
    becomes GC thrash on all-pairs workloads). Left-associative
    addition keeps the result bit-identical to the sequential fold
    (the fold's leading ``0.0 + x₁`` is exact).

    Takes COLUMN NAMES, not Columns: the 190-node tree is built by
    one SQL-string parse. Constructing it term-by-term through the
    Python Column API costs ~250 py4j round-trips (~0.4 s of
    driver-side plan-build PER CALL — measured to dominate the whole
    query at small scale); ``F.expr`` parses the identical
    left-associative tree in ~2 ms."""
    return F.expr(
        " + ".join(
            f"element_at({a}, {d + 1}) * element_at({b}, {d + 1})"
            for d in range(dim)
        )
    )


def sqdist_unrolled(a: str, b: str, dim: int) -> Column:
    """Known-dimension squared Euclidean distance
    ``Σ (a[i] − b[i])²`` as a flat left-associative expression — same
    rationale as :func:`dot_unrolled`; mirrored in generated DuckDB
    SQL by ``ann_state.py:_sqdist_chain``."""
    return F.expr(
        " + ".join(
            f"(element_at({a}, {d + 1}) - element_at({b}, {d + 1}))"
            f" * (element_at({a}, {d + 1}) - element_at({b}, {d + 1}))"
            for d in range(dim)
        )
    )


def l2_norm_unrolled(a: str, dim: int) -> Column:
    """Known-dimension L2 norm, same flat-expression + string-parse
    rationale as :func:`dot_unrolled`."""
    return F.sqrt(
        F.expr(
            " + ".join(
                f"element_at({a}, {d + 1}) * element_at({a}, {d + 1})"
                for d in range(dim)
            )
        )
    )


def as_double(vec: Column) -> Column:
    """Cast array<float> → array<double> once, before any join —
    element casts inside a per-pair lambda would otherwise re-run
    O(pairs·dim) times."""
    return F.transform(vec, lambda x: x.cast("double"))


def cosine_from_parts(dot_col: Column, norm_a: Column, norm_b: Column) -> Column:
    """cosine from a per-pair dot and PRE-COMPUTED per-vector norms.

    ``dot / (||a||·||b||)``, NULL when either norm is zero; norms are
    computed once per vector instead of once per pair — the all-pairs
    cost drops from 3 to 1 array traversals per pair.
    """
    return dot_col / F.nullif(norm_a * norm_b, F.lit(0.0))
