"""Vector math as native column expressions.

The reference computes cosine similarity with numpy inside per-document
Python loops (xlink.py:318-336). Here every vector op is a pure column
expression (`F.zip_with` + `F.aggregate`) that stays JVM-side and is
deterministic (sequential element order).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Elementwise dot product of two array<numeric> columns (JVM-side)."""
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _col(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm.

    Matches xlink.py:326/336 (`matmul/(norm*norm)`) with an explicit
    zero-norm guard the reference leaves to numpy warnings.
    """
    na, nb = norm(a), norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def mean_pool_expr(vecs: Column | str) -> Column:
    """JVM-side mean pool of an array<array<float>> column.

    transpose-free: running elementwise sum via aggregate+zip_with, then
    divide by count. Null/empty → null.
    """
    c = _col(vecs)
    n = F.size(c)
    summed = F.aggregate(
        F.slice(c, 2, F.greatest(n - 1, F.lit(0))),
        F.transform(F.element_at(c, 1), lambda x: x.cast("double")),
        lambda acc, v: F.zip_with(acc, v, lambda x, y: x + y.cast("double")),
    )
    return F.when(n > 0, F.transform(summed, lambda x: x / n)).otherwise(F.lit(None))
