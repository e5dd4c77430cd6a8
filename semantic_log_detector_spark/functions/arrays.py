"""Array/vector scalar functions (SURVEY.md F13/F14, J4 support).

Embedding math stays JVM-side via higher-order functions (aggregate /
zip_with) — no Python UDF for dot products. For top-k joins see
operators/knn.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """F13: np.linalg.norm equivalent (monitoring/drift.py:21)."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
