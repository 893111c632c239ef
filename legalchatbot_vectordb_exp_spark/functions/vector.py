"""Vector column helpers — SQL higher-order functions only (JVM-side,
whole-stage-codegen eligible; no Python in the hot path).

Semantics follow the reference's hand-rolled vector math:

* L2 normalize with a zero-norm guard of 1.0
  (``Qdrant/main.py:15-18``, ``Qdrant/llm.py:11-14`` in the reference —
  ``x / (sqrt(sum(x^2)) or 1.0)``).
* Cosine over pre-normalized vectors reduces to a dot product
  (``Distance.COSINE`` at ``Qdrant/main.py:107`` with normalization
  applied at write and query time).

All arithmetic is promoted to DOUBLE before accumulating, so results
are reproducible across engines (the test oracle runs the same fold in
DuckDB on ``::DOUBLE[]`` lists).

This module is the one place a vector becomes an expression: driver
vectors enter a plan only through :func:`vector_lit`, and
normalization (JVM and driver side) and nearest-centroid assignment
are defined here once.  Every expression is linear in its input size.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import Column
import pyspark.sql.functions as F


def vector_lit(vec: Sequence[float]) -> Column:
    """A driver vector as ONE ARRAY<DOUBLE> literal.  One literal per
    element made the analyzer walk d expressions per query vector;
    the values (and so every score) are the same either way."""
    return F.lit(np.asarray(vec, dtype=np.float64))


def as_double_vec(v: Column | str) -> Column:
    """Promote ARRAY<FLOAT> to ARRAY<DOUBLE> (deterministic arithmetic)."""
    v = F.col(v) if isinstance(v, str) else v
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product as zip_with + aggregate (sequential fold, exact order)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(v: Column | str) -> Column:
    v = F.col(v) if isinstance(v, str) else v
    ssq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(ssq)


def l2_normalize(v: Column | str) -> Column:
    """x / (||x|| or 1.0) — the reference's zero-vector guard divides by
    1.0, leaving an all-zeros vector all zeros (not NaN).  The norm is
    computed once, in the ``finish`` step of the sum-of-squares fold;
    referencing it inside the ``transform`` lambda would re-run the
    fold per element (O(d²))."""
    v = F.col(v) if isinstance(v, str) else v

    def scale(ssq):
        n = F.sqrt(ssq)
        safe = F.when(n == 0.0, F.lit(1.0)).otherwise(n)
        return F.transform(v, lambda x: x.cast("double") / safe)

    return F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
        scale,
    )


def normalize_vec(vec: Sequence[float]) -> list[float]:
    """Driver-side :func:`l2_normalize`: the same sequential fold, the
    same zero guard, so the result is bit-equal to the expression's.
    An explicit loop: ``sum()`` compensates float sums from Python 3.12."""
    ssq = 0.0
    for x in vec:
        ssq = ssq + x * x
    n = math.sqrt(ssq) or 1.0
    return [x / n for x in vec]


def nearest_centroid(v: Column | str, centroids) -> Column:
    """Id of the centroid with the largest dot product, over
    ``centroids`` = [(cid, vector), ...]; ties go to the smaller cid.
    One ``array_max`` over (score, -cid) structs — size linear in the
    centroid count — then the cid is negated back."""
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    dot(v, vector_lit(cvec)).alias("s"),
                    F.lit(-int(cid)).alias("neg"),
                )
                for cid, cvec in centroids
            ]
        )
    )
    return -best["neg"]


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Full cosine (not assuming unit norm); zero-norm pairs score 0."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)
