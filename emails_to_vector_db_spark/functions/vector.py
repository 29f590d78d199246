"""Vector distance/similarity column expressions.

The reference delegates distance to pgvector's operators — L2 ``<->`` in the
KNN query (reference ``rag.py:77-82``); pgvector's cosine ``<=>`` and inner
product ``<#>`` are the same family. Here each distance is a *native column
expression* built from ``zip_with``/``aggregate`` higher-order functions, so
it stays JVM-side (no Python boundary, codegen-eligible) and parallelizes
per-partition. That is the preferred physical form per SURVEY.md §4; a
pandas_udf variant would move every row through Arrow for no benefit.

All math is done in double precision after an explicit cast from the stored
``array<float>``: element order is the array order (fold-left), which matches
how DuckDB evaluates its list functions on ``DOUBLE[]`` — required for the
oracle-differential hash checks (SURVEY.md §5, "float associativity").
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dbl(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return col.cast("array<double>")


def vector_lit(vec: Sequence[float]) -> Column:
    """A literal array<double> column from a Python vector.

    One expression, ``from_json`` over a JSON string literal, so that
    building it is one JVM call, not one ``F.lit`` call per dimension
    (384 for the store's vectors) each time a probe, centroid or
    hyperplane is planned. The optimizer constant-folds the parse: the
    physical plan holds a literal array. Python's ``repr`` of a float
    is its shortest round-tripping decimal and Jackson parses it
    correctly rounded, so every double — -0.0, subnormals, the finite
    extremes — arrives bit-identical; NaN and ±inf travel as JSON's
    non-numeric tokens, which ``from_json`` accepts by default. An empty
    vector still types as ``array<double>``."""
    return F.from_json(F.lit(json.dumps([float(v) for v in vec])), "array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product (pgvector ``<#>`` is its negation)."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def squared_l2(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance — pgvector ``<->`` (reference ``rag.py:78``)."""
    return F.sqrt(squared_l2(a, b))


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """pgvector ``<=>``."""
    return F.lit(1.0) - cosine_similarity(a, b)


METRICS = {
    "l2": l2_distance,
    "sqeuclidean": squared_l2,
    "cosine": cosine_distance,
    "dot": dot,
}


def distance(metric: str, a: Column | str, b: Column | str) -> Column:
    try:
        return METRICS[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(METRICS)}")
