"""Vector math as native column expressions.

The reference computes cosine similarity with numpy inside per-document
Python loops (xlink.py:318-336). Here every vector op is a pure column
expression (`F.zip_with` + `F.aggregate`) that stays JVM-side and is
deterministic (sequential element order). A cosine is one ``dot`` of two
vectors that were unit-normalized once with ``norm`` (operators/scoring.py
normalizes the context and entity sides before the candidate explosion).
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
