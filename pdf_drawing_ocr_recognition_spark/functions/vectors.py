"""Vector similarity — dot/cosine as sequential array folds, plus ANN helpers.

``F.aggregate`` folds the array left-to-right, so the floating-point sum is
order-deterministic (same bits on every engine that folds sequentially — the
DuckDB twin ``list_dot_product`` included).  Brute-force top-k is the exact
baseline; the LSH-bucketed variant in ``operators/similarity.py`` is the scale
path (bucket join instead of cross join).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential dot product of two ARRAY<FLOAT/DOUBLE> columns.

    With *dim* known, unrolls to a flat left-associative sum of
    ``element_at`` products — bit-identical to the fold (same add order,
    ``(((0+v1)+v2)+...)``) but whole-stage codegen instead of the
    interpreted higher-order ``F.aggregate`` path (see
    memory/spark-graft-hof-jit: interpreted eval runs ~9x slower after any
    mapInPandas job shared the JVM).  Without *dim*, falls back to the fold.
    """
    if dim:
        out = F.lit(0.0)
        for i in range(1, dim + 1):
            out = out + F.element_at(a, i).cast("double") * F.element_at(b, i).cast(
                "double"
            )
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column, dim: int | None = None) -> Column:
    if dim:
        out = F.lit(0.0)
        for i in range(1, dim + 1):
            v = F.element_at(a, i).cast("double")
            out = out + v * v
        return F.sqrt(out)
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity; 0.0 when either norm is zero."""
    denom = l2_norm(a, dim) * l2_norm(b, dim)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b, dim) / denom)


# ---------------------------------------------------------------------------
# NumPy twins of the sequential folds — used by the Arrow-batched scorers in
# operators/similarity.py.  np.cumsum accumulates strictly left-to-right
# (out[i] = out[i-1] + x[i]), so its last element is BITWISE identical to the
# left-associative fold above and to DuckDB's list_dot_product (asserted in
# tests/test_dedup_similarity.py).  This matters because the big unrolled
# codegen expressions (64-dim dot = ~192-op generated methods) exceed the
# JVM JIT's compile threshold and run interpreted on cold sessions — the
# NumPy kernel is compile-free and vectorized instead.
# ---------------------------------------------------------------------------


def seq_dot_np(a, b):
    """Sequential-fold dot of two (n, d) float64 matrices → (n,) float64.

    Bit-identical to ``dot`` (the Column fold/unroll) per row.
    """
    import numpy as np

    if a.shape[0] == 0:
        return np.zeros(0, dtype=np.float64)
    if a.shape[1] == 0:
        return np.zeros(a.shape[0], dtype=np.float64)
    return np.cumsum(a * b, axis=1)[:, -1]


def seq_norm_np(a):
    """Sequential-fold L2 norm of an (n, d) float64 matrix → (n,) float64.

    Bit-identical to ``l2_norm`` per row.
    """
    import numpy as np

    return np.sqrt(seq_dot_np(a, a))
