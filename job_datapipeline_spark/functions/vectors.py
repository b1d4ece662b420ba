"""Vector expressions over ``array<float>`` embedding columns.

Dot product / norm / cosine as pure higher-order-function expressions
(``zip_with`` + ``aggregate``) — JVM-side, no Python boundary, so a
brute-force similarity scan over 100 TB of embeddings is a single
codegen'd stage. Everything computes in double for cross-engine
reproducibility (the DuckDB oracle sums in index order too; results are
rounded before comparison).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def l2_distance(a: Column, b: Column) -> Column:
    diffs = F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d * d))
