"""Top-k vector similarity search.

Reproduces the reference's ``Database.search`` semantics
(``Qdrant/VectorDB/Database.py:22-28``: cosine distance, ``limit=k``)
as lazy Spark plans:

* **single query** — score every row with a literal query vector
  (narrow, codegen'd dot product) then ``ORDER BY score DESC LIMIT k``.
  Catalyst compiles this to ``TakeOrderedAndProject``: a per-partition
  k-heap followed by a driver-side merge of ``k * num_partitions``
  rows.  No shuffle — this is the plan that survives a 100 TB scan.

* **batch of queries** — broadcast the (small) query frame, cross-join
  against the corpus so scoring stays narrow over the big side, then
  per-query ``row_number() <= k``.  The one shuffle is on ``query_id``
  over the scored rows; AQE coalesces/splits it at runtime.  For very
  large corpora set ``prune_per_partition=True`` to insert an
  Arrow-batched per-partition heap (keeps only k rows per query per
  input partition) ahead of the shuffle, bounding shuffle volume to
  ``k * partitions * queries`` rows regardless of corpus size.

Scores assume cosine semantics; on unit-normalized vectors (the
engine's write-time convention, as in the reference) cosine == dot.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import broadcast

from legalchatbot_vectordb_exp_spark.functions.vector import (
    cosine_sim,
    dot,
    vector_lit,
)


def _score(vec_col: str, query: Sequence[float], metric: str):
    qlit = vector_lit(query)
    if metric == "dot":
        return dot(F.col(vec_col), qlit)
    if metric == "cosine":
        return cosine_sim(F.col(vec_col), qlit)
    raise ValueError(f"unknown metric {metric!r}")


def topk_search(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "dot",
) -> DataFrame:
    """Exact top-k for one query vector → TakeOrderedAndProject plan.

    Ties break on ascending id so results are deterministic across
    engines (FIXTURES.md oracle note).
    """
    scored = corpus.withColumn("score", _score(vec_col, query_vec, metric))
    return (
        scored.orderBy(F.desc("score"), F.col(id_col).asc())
        .limit(k)
        .drop(vec_col)
    )


def topk_search_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    metric: str = "dot",
    prune_per_partition: bool = False,
) -> DataFrame:
    """Exact top-k per query: broadcast queries × corpus → window rank.

    Returns (query_id, <corpus id/payload cols>, score, rank).
    """
    if metric == "dot":
        score = dot(F.col(vec_col), F.col(query_vec_col))
    elif metric == "cosine":
        score = cosine_sim(F.col(vec_col), F.col(query_vec_col))
    else:
        raise ValueError(f"unknown metric {metric!r}")

    scored = (
        corpus.join(broadcast(queries), how="cross")
        .withColumn("score", score)
        .drop(vec_col, query_vec_col)
    )

    if prune_per_partition:
        scored = _partition_heap_prune(scored, query_id_col, k, id_col)

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _partition_heap_prune(
    scored: DataFrame, query_id_col: str, k: int, id_col: str
) -> DataFrame:
    """Keep only the k best rows per query within each input partition
    (Arrow-batched; narrow) so the subsequent shuffle moves
    O(k * partitions * queries) rows instead of the full cross product.

    The local cut uses the same total order as the final window rank —
    (score desc, id asc), stable sort — so rows tied at the k boundary
    survive or drop exactly as the unpruned plan would rank them."""
    schema = scored.schema

    def prune(batches):
        import pandas as pd

        acc = None
        for pdf in batches:
            cand = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            # fold each Arrow batch into a running per-query top-k so
            # partition memory stays O(k * queries), not O(partition)
            acc = (
                cand.sort_values(
                    ["score", id_col],
                    ascending=[False, True],
                    kind="stable",
                )
                .groupby(query_id_col, sort=False)
                .head(k)
                .reset_index(drop=True)
            )
        if acc is not None:
            yield acc

    return scored.mapInPandas(prune, schema=schema)
