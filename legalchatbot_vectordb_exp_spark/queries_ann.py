"""Approximate-nearest-neighbor query family (extension E3 —
SURVEY.md §2.9): the scale paths for similarity search when the exact
broadcast top-k (queries_core ``topk_*``) stops fitting.

Two classic sub-quadratic structures, both expressed as plain
DataFrame plans so Catalyst handles pushdown/broadcast:

* **random-hyperplane LSH** — bucket = sign bits of dot products with
  a fixed set of hyperplanes; near vectors collide with high
  probability; candidate generation is an equi-join on the bucket key.
  Hyperplanes are **data-independent deterministic Rademacher planes**:
  component (p, j) is ±1 from the parity of ``md5(p || '_' || j)`` —
  reproducible bit-for-bit in any engine with md5 (the DuckDB oracle
  builds the identical planes).  Data-independence is the scale story:
  an earlier draft used corpus vectors 0..7 as planes, and on a 10×
  stress corpus whose lead vectors were near-parallel the hash
  collapsed to 2 buckets → 100 M candidate pairs from 20 k vectors;
  the md5 planes keep the same corpus at 256 balanced buckets → 1 M
  pairs, and their quality cannot drift with data distribution.

* **IVF (inverted-file) pruning** — assign every vector to its nearest
  centroid; a query probes only the closest ``nprobe`` centroids.  On
  disk the assignment is the partition key, so probing is *partition
  pruning* on the parquet scan: the 100 TB case reads only
  nprobe/nlist of the data.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from legalchatbot_vectordb_exp_spark.functions.vector import dot, vector_lit
from legalchatbot_vectordb_exp_spark.operators.topk import topk_search
from legalchatbot_vectordb_exp_spark.io_tables import load_table
from legalchatbot_vectordb_exp_spark.registry import register, sql_dot
from legalchatbot_vectordb_exp_spark.staging import fresh, scratch, stage

N_PLANES = 8
DIM = 64  # testdata embedding dimensionality (TESTDATA.md)
IVF_MOD = 64  # centroids = vec_id % 64 == 0 (deterministic pseudo-kmeans)
NPROBE = 2

# --- data-scaled sizing (found by the 30x shuffle sweep, round 5) ---
#
# Fixed parameters that were fine at driver scale turn quadratic as
# the corpus grows: 8 planes = 256 LSH buckets means per-bucket pair
# counts grow as n^2/256 (measured: 559 MB shuffle / 49 s at 60 k
# vectors vs 0.2 MB at 20 k), and a fixed centroid modulus means
# nlist = n/64 so the O(n*nlist) assignment grows as n^2 (measured:
# 9.5x wall for 3x rows).  Both sizes now derive from count(*) with
# integer-exact formulas expressed identically in Python and SQL
# (bit-length via bin(); no float log2 whose last-ulp could disagree
# across engines).  At the driver's scale factors the formulas
# resolve to the original constants, so existing oracle rows are
# unchanged.

IVF_TARGET_NLIST = 64  # cells stay ~constant as the corpus grows
SQL_IVF_MOD = (
    f"(SELECT greatest({IVF_MOD}, count(*) // {IVF_TARGET_NLIST}) "
    f"FROM embeddings)"
)


def ivf_mod_for(n_rows: int) -> int:
    """Centroid modulus: nlist ≈ IVF_TARGET_NLIST at any corpus size."""
    return max(IVF_MOD, n_rows // IVF_TARGET_NLIST)


def ivf_nlist_for(n_rows: int) -> int:
    """Centroid COUNT for an n-row corpus (vec_ids 0..n-1 at stride
    :func:`ivf_mod_for`) — the nlist the filtered-search escalation
    caps at.  NOT the modulus: passing the stride where a count is
    expected caps the escalation at the wrong bound."""
    mod = ivf_mod_for(n_rows)
    return max(1, (n_rows + mod - 1) // mod)


def ivf_best_cells(E, cids, cmat):
    """The numpy coarse quantizer — nearest deterministic centroid per row.

    One of two quantizers.  This one serves the ``queries_ann`` IVF
    queries (ann_ivf_topk, ann_ivf_topk_batch, ann_ivfpq_topk's
    assign_encode) and SemDeDup's cell blocking in queries_scale.py, so
    an IVF change can never silently shift dedup groups relative to
    search cells; it stays a kernel because ``make_ivf_assign`` prunes
    unprobed rows inside it, before they cross back to the JVM.  The
    other, ``functions.vector.nearest_centroid``, is the Column
    expression ``VectorCollection`` assigns with at write time (ties to
    the smaller cid by struct order, no penalty).  Dims fold
    column-sequentially (same IEEE order as the SQL oracle's
    aggregate(zip_with(...))); argmax ties break toward the SMALLER
    centroid id via the tiny id-proportional penalty, matching the
    oracle's max_by ordering."""
    import numpy as np

    C = np.asarray(cmat, dtype=np.float64)  # nlist × dim
    penal = 1e-12 * (-np.asarray(cids, dtype=np.float64))
    scores = np.zeros((E.shape[0], C.shape[0]))
    for j in range(C.shape[1]):  # sequential across dims
        scores = scores + E[:, j, None] * C[None, :, j]
    best = np.argmax(scores + penal[None, :], axis=1)
    return np.asarray(cids, dtype=np.int64)[best]


def seq_dot(a, b):
    """Driver-side dot product folding SEQUENTIALLY — the same IEEE
    order as functions.vector.dot and the DuckDB oracle's
    list_reduce, so driver-chosen probes/tie-breaks agree bit-for-bit
    with both engines.  Single definition (was inlined at five call
    sites)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def make_ivf_assign(cids, cmat, probe=None, extra_cols=()):
    """mapInPandas kernel factory over :func:`ivf_best_cells`: emits
    (vec_id, embedding, cluster_id[, *extra_cols]), pruned in-kernel
    to the probed cells when ``probe`` is given (the pruned rows never
    cross the Arrow boundary back to the JVM).  ``extra_cols`` pass
    payload columns through untouched (the caller appends them to the
    output schema)."""

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(list(pdf["embedding"]), dtype=np.float64)
            out = pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cluster_id": ivf_best_cells(E, cids, cmat),
                    **{c: pdf[c] for c in extra_cols},
                }
            )
            yield out if probe is None else out[
                out["cluster_id"].isin(probe)
            ]

    return assign


IVF_ASSIGN_SCHEMA = "vec_id long, embedding array<double>, cluster_id long"


LSH_TARGET_OCCUPANCY = 4  # expected vectors per bucket (uniform case)
SQL_N_PLANES = (
    f"(SELECT greatest({N_PLANES}, least(62, "
    f"length(bin((count(*) + 3) // {LSH_TARGET_OCCUPANCY} - 1)))) "
    f"FROM embeddings)"
)


def lsh_n_planes(n_rows: int) -> int:
    """Plane count: buckets track corpus size (2^p ≥ n/occupancy), so
    candidate pairs stay ~linear instead of n²/2^p.  Integer
    bit-length == the SQL bin()-length formula, bit-for-bit."""
    m = ((n_rows + 3) // LSH_TARGET_OCCUPANCY) - 1
    return max(N_PLANES, min(62, m.bit_length()))


# Rademacher plane component (p, j) = +1 if the first hex digit of
# md5("p_j") is 0..7 else -1 — identical construction in Spark and
# DuckDB, so bucket ids agree bit-for-bit.
_BUCKET_CTE = f"""
    WITH planes AS (
      SELECT pid AS plane_id,
             list_transform(range({DIM}), j ->
               CASE WHEN substr(md5(concat(CAST(pid AS VARCHAR), '_',
                                           CAST(j AS VARCHAR))), 1, 1) <= '7'
                    THEN 1.0 ELSE -1.0 END) AS pv
      FROM (SELECT unnest(range({SQL_N_PLANES})) AS pid)
    ),
    sig AS (
      SELECT e.vec_id,
             sum(CASE WHEN {sql_dot('e.embedding', 'p.pv')} > 0
                 THEN CAST(pow(2, p.plane_id) AS BIGINT)
                 ELSE 0 END)::BIGINT AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id
    )
"""


def _spark_planes(spark: SparkSession, n_planes: int = N_PLANES) -> DataFrame:
    """Deterministic md5-Rademacher hyperplanes (see module docstring)."""
    return spark.range(n_planes).select(
        F.col("id").cast("int").alias("plane_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("id").cast("string"),
                            F.lit("_"),
                            j.cast("string"),
                        )
                    ),
                    1,
                    1,
                )
                <= "7",
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        ).alias("pv"),
    )


def _spark_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # parquet-footer count job sizes the plane family to the corpus
    planes = _spark_planes(spark, lsh_n_planes(emb.count()))
    return (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(planes), how="cross")
        .withColumn(
            "bit",
            F.when(
                dot("embedding", "pv") > 0,
                F.pow(F.lit(2.0), F.col("plane_id").cast("double")).cast(
                    "bigint"
                ),
            ).otherwise(F.lit(0)),
        )
        .groupBy("vec_id")
        .agg(F.sum("bit").alias("bucket"))
    )


@register(
    "ann_lsh_buckets",
    sql=_BUCKET_CTE + "SELECT vec_id, bucket FROM sig",
)
def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket id per vector: 8 sign bits from broadcast
    dot products, folded by one partial-aggregated groupBy."""
    return _spark_buckets(spark, sf_dir).select("vec_id", "bucket")


@register(
    "ann_lsh_pairs",
    sql=_BUCKET_CTE
    + f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({sql_dot('ea.embedding', 'eb.embedding')}, 6) AS cos
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
    """,
)
def q_ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs (same bucket) with exact cosine verification
    — the sub-quadratic near-dup/similarity-join surface: shuffle is on
    the bucket key, pair count bounded by bucket occupancy.  Pair
    scoring goes through the vectorized bit-exact kernel
    (operators/ann.exact_pair_scores): at dense bucket occupancy the
    interpreted per-pair fold was the bottleneck (416 s → seconds on
    the 10× stress corpus)."""
    from legalchatbot_vectordb_exp_spark.operators.ann import exact_pair_scores

    buckets = _spark_buckets(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = buckets.select(F.col("vec_id").alias("id_a"), "bucket")
    b = buckets.select(F.col("vec_id").alias("id_b"), "bucket")
    cands = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    scored = exact_pair_scores(cands, emb)
    return scored.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


@register(
    "ann_ivf_topk",
    sql=f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id % {SQL_IVF_MOD} = 0
    ),
    assign AS (
      SELECT e.vec_id, e.embedding,
             arg_max(c.cid, {sql_dot('e.embedding', 'c.cv')}
                            + 1e-12 * (-c.cid)) AS cluster_id
      FROM embeddings e CROSS JOIN centroids c
      GROUP BY e.vec_id, e.embedding
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
    probe AS (
      SELECT c.cid
      FROM centroids c, q
      ORDER BY {sql_dot('q.qv', 'c.cv')} DESC, c.cid ASC
      LIMIT {NPROBE}
    )
    SELECT a.vec_id, round({sql_dot('a.embedding', 'q.qv')}, 6) AS score
    FROM assign a, probe p, q
    WHERE a.cluster_id = p.cid
    ORDER BY {sql_dot('a.embedding', 'q.qv')} DESC, a.vec_id ASC
    LIMIT 5
    """,
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: assign vectors to nearest deterministic centroid,
    probe the query's top-2 centroids, exact top-5 within the probed
    cells.  The cluster assignment is the partition key at scale —
    probing becomes parquet partition pruning.

    The coarse quantizer (centroid set) lives driver-side, as in any
    real IVF index — nlist rows are metadata-scale.  Assignment is a
    narrow mapInPandas kernel folding dims column-sequentially per
    centroid (bit-identical to the aggregate(zip_with(...)) expression
    and the DuckDB oracle), so the whole query plan is scan → narrow
    assignment → probe filter → TakeOrderedAndProject: **zero
    shuffles** (the previous cross-join + max_by groupBy shuffled
    vectors × centroids scored rows)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # one driver job fetches centroids AND the query vector (both
    # metadata-scale) — two serial collects doubled driver latency
    mod = ivf_mod_for(emb.count())  # parquet-footer count job
    meta = emb.filter(
        (F.col("vec_id") % mod == 0) | (F.col("vec_id") == 1)
    ).collect()
    cids = [int(r[0]) for r in meta if int(r[0]) % mod == 0]
    cmat = [
        list(map(float, r[1])) for r in meta if int(r[0]) % mod == 0
    ]
    qvec = [float(x) for r in meta if int(r[0]) == 1 for x in r[1]]


    probe = set(
        cid
        for _, cid in sorted(
            ((-seq_dot(qvec, cv), cid) for cid, cv in zip(cids, cmat))
        )[:NPROBE]
    )

    probed = emb.mapInPandas(
        make_ivf_assign(cids, cmat, probe=probe), schema=IVF_ASSIGN_SCHEMA
    )
    return topk_search(probed, qvec).select(
        "vec_id", F.round("score", 6).alias("score")
    )


N_BATCH_QUERIES = 8


@register(
    "ann_ivf_topk_batch",
    sql=f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id % {SQL_IVF_MOD} = 0
    ),
    assign AS (
      SELECT e.vec_id, e.embedding,
             arg_max(c.cid, {sql_dot('e.embedding', 'c.cv')}
                            + 1e-12 * (-c.cid)) AS cluster_id
      FROM embeddings e CROSS JOIN centroids c
      GROUP BY e.vec_id, e.embedding
    ),
    queries AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id <= {N_BATCH_QUERIES}
    ),
    probe AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sql_dot('q.qv', 'c.cv')} DESC, c.cid ASC) AS rn
        FROM queries q CROSS JOIN centroids c)
      WHERE rn <= {NPROBE}
    ),
    scored AS (
      SELECT q.query_id, a.vec_id,
             {sql_dot('a.embedding', 'q.qv')} AS score
      FROM assign a
      JOIN probe p ON a.cluster_id = p.cid
      JOIN queries q ON q.query_id = p.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, round(score, 6) AS score
    FROM ranked WHERE rn <= 5
    """,
)
def q_ann_ivf_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-query IVF search — the 100 TB ANN *batch* path.

    The coarse quantizer stays driver-side (nlist rows are metadata):
    each query's top-``nprobe`` cells are chosen on the driver, and the
    (query_id, cluster_id, query_vector) probe frame **broadcasts** to
    the corpus.  The corpus never shuffles: scan → narrow bit-exact
    assignment kernel filtered to the union of probed cells (on an
    IVF-partitioned table this filter is parquet partition pruning —
    see VectorCollection.create_ivf) → broadcast-hash join on
    cluster_id → per-query window rank.  The single shuffle carries
    only the scored candidates of the probed cells (~queries ×
    cells/nlist of the corpus), independent of total corpus size.

    Beyond broadcastable probe frames (queries × nprobe rows no longer
    fit an executor), ``ivf_batch_topk(..., how="copartition")``
    shuffles BOTH sides on cluster_id instead — see that function."""
    return ivf_batch_topk(spark, sf_dir, how="broadcast")


def ivf_batch_topk(
    spark: SparkSession, sf_dir: str, how: str = "broadcast", k: int = 5
) -> DataFrame:
    """Batch IVF candidate join with two physical strategies:

    * ``how="broadcast"`` — probe frame broadcasts, corpus never
      shuffles (the default; right whenever queries × nprobe rows fit
      an executor's broadcast budget).
    * ``how="copartition"`` — both sides hash-shuffle on cluster_id
      into a shuffled-hash join (SCALE.md's promised fallback for
      probe frames past the broadcast threshold, e.g. hundreds of
      millions of concurrent queries).  The corpus side still carries
      ONLY the cell-filtered candidates, so the shuffle is bounded by
      probed-cell volume, never the full corpus; per cluster_id the
      build side holds just that cell's probing queries.

    Both strategies produce identical rows — pinned by the plan test
    alongside the no-BroadcastExchange/both-sides-exchanged assertions
    (tests/test_plans.py)."""
    import numpy as np

    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mod = ivf_mod_for(emb.count())  # parquet-footer count job
    crows = (
        emb.filter(F.col("vec_id") % mod == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    cids = [int(r[0]) for r in crows]
    cmat = [list(map(float, r[1])) for r in crows]
    qrows = (
        emb.filter(F.col("vec_id") <= N_BATCH_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )


    probe_rows = []
    for qr in qrows:
        qid, qv = int(qr[0]), [float(x) for x in qr[1]]
        top = sorted(
            ((-seq_dot(qv, cv), cid) for cid, cv in zip(cids, cmat))
        )[:NPROBE]
        probe_rows.extend((qid, cid, qv) for _, cid in top)
    probe_cells = set(cid for _, cid, _ in probe_rows)

    probed = emb.mapInPandas(
        make_ivf_assign(cids, cmat, probe=probe_cells),
        schema=IVF_ASSIGN_SCHEMA,
    )
    qdf = spark.createDataFrame(
        probe_rows, "query_id long, cluster_id long, qv array<double>"
    )
    if how == "broadcast":
        joined = probed.join(F.broadcast(qdf), "cluster_id")
    elif how == "copartition":
        # SHUFFLE_HASH hint on the probe side: both inputs exchange on
        # cluster_id, the probe partition becomes the in-memory build
        # side — no BroadcastExchange anywhere (plan-pinned)
        joined = probed.join(qdf.hint("shuffle_hash"), "cluster_id")
    else:
        raise ValueError(f"unknown how={how!r}")
    scored = joined.withColumn("score", dot("embedding", "qv"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", F.round("score", 6).alias("score"))
    )


@register(
    "ann_pq_guard",
    sql=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             {sql_dot('e.embedding', 'q.qv')} AS s
      FROM embeddings e, q
    ),
    ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rnk
      FROM scored
    )
    SELECT query_id,
           string_agg(vec_id::VARCHAR, ',' ORDER BY rnk) AS exact_top10,
           true AS pq_recall_ok
    FROM ranked WHERE rnk <= 10
    GROUP BY query_id
    """,
)
def q_ann_pq_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with an oracle-checked accuracy band
    (operators/pq.py; Jégou et al. 2011).  16x-compressed codes (m=32
    subspaces x 16 centroids = 32 4-bit codes = 16 bytes/vector vs 256)
    are scanned with asymmetric-distance LUT lookups, the top-100
    candidates per query are exact-rescored, and the refined top-10
    must recall >= 8 of the true brute-force top-10 (measured: 10/10
    for every probe at sf0.001/0.01/0.1 — the band leaves margin for
    data drift, not for regressions).  ADC scores themselves are approximate,
    so — exactly like ``approx_agg_guard`` — the hash-checked result
    is the exact top-10 plus the recall-contract boolean: a codebook /
    encode / LUT regression flips the boolean and fails the hash.

    Scale shape: training sample and codebooks are driver-scale
    metadata (like the IVF coarse centroids); encoding is a narrow
    Arrow projection; the ADC kernel keeps a per-partition top-r heap
    per query so the only corpus-wide exchange carries
    r x partitions x queries candidate rows; the exact refine touches
    just those candidates."""
    from legalchatbot_vectordb_exp_spark.operators.pq import (
        adc_candidates,
        encode_pq,
        sample_vectors,
        train_codebooks,
    )
    from legalchatbot_vectordb_exp_spark.operators.topk import (
        topk_search_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = train_codebooks(sample_vectors(emb, 256), m=32, k=16, iters=8)

    # metadata-scale driver pull: the 5 probe vectors
    qrows = (
        emb.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()
    )
    queries = [(int(r["vec_id"]), list(r["embedding"])) for r in qrows]

    encoded = encode_pq(emb, books)
    cands = adc_candidates(encoded, books, queries, r=100)

    # exact refine of the candidate rows only: broadcast the tiny
    # candidate set into the corpus to fetch vectors, then fold-dot
    # against the broadcast query frame
    qdf = spark.createDataFrame(
        queries, "query_id long, qv array<double>"
    )
    refined = (
        emb.join(F.broadcast(cands), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("score", dot("embedding", "qv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("vec_id").asc()
    )
    pq_top = (
        refined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .groupBy("query_id")
        .agg(F.collect_set("vec_id").alias("pq_ids"))
    )

    exact = topk_search_batch(
        emb,
        qdf.select("query_id", F.col("qv").alias("query_vec")),
        k=10,
        vec_col="embedding",
        id_col="vec_id",
    )
    exact_agg = exact.groupBy("query_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "vec_id"))),
                lambda s: s["vec_id"].cast("string"),
            ),
        ).alias("exact_top10"),
        F.collect_set("vec_id").alias("exact_ids"),
    )

    return (
        exact_agg.join(pq_top, "query_id")
        .select(
            "query_id",
            "exact_top10",
            (
                F.size(F.array_intersect("exact_ids", "pq_ids")) >= 8
            ).alias("pq_recall_ok"),
        )
    )


NPROBE_PQ = 4  # coarse cells probed by the composed IVF x PQ query


@register(
    "ann_ivfpq_topk",
    sql=f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id % {SQL_IVF_MOD} = 0
    ),
    assign AS (
      SELECT e.vec_id, e.embedding,
             arg_max(c.cid, {sql_dot('e.embedding', 'c.cv')}
                            + 1e-12 * (-c.cid)) AS cluster_id
      FROM embeddings e CROSS JOIN centroids c
      GROUP BY e.vec_id, e.embedding
    ),
    queries AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    probe AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sql_dot('q.qv', 'c.cv')} DESC, c.cid ASC) AS rn
        FROM queries q CROSS JOIN centroids c)
      WHERE rn <= {{NPROBE_PQ}}
    ),
    ranked AS (
      SELECT q.query_id, a.vec_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY {sql_dot('a.embedding', 'q.qv')} DESC,
                        a.vec_id ASC) AS rnk
      FROM assign a
      JOIN probe p ON a.cluster_id = p.cid
      JOIN queries q ON q.query_id = p.query_id
    )
    SELECT query_id,
           string_agg(vec_id::VARCHAR, ',' ORDER BY rnk) AS incell_top10,
           true AS ivfpq_recall_ok
    FROM ranked WHERE rnk <= 10
    GROUP BY query_id
    """.replace("{NPROBE_PQ}", str(NPROBE_PQ)),
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ composed — the full 100 TB ANN read path in one query:
    coarse cells are pruned FIRST, the ADC LUT scan touches only the
    probed cells' codes, and the exact refine touches only the top-r
    candidate rows' full vectors (SCALE.md's "prune cells first,
    ADC-scan codes of probed cells only", previously promised but not
    registered as a query).

    Plan shape: one narrow Arrow pass assigns each vector its coarse
    cell (bit-exact sequential fold, same kernel contract as
    ``ann_ivf_topk``) AND its PQ codes, filtered to the union of all
    probed cells before anything leaves the kernel;
    ``adc_candidates``'s ``probe_cells`` map then restricts each query
    to ITS cells — at rest this predicate is parquet partition pruning
    on the cell-partitioned codes table (``sources/collection.py``)
    followed by a 16x-smaller byte scan.  The production read path
    (ADC scan -> candidate refine) never shuffles the corpus; the only
    exchange carries r x partitions x queries candidate rows.

    Oracle contract: the hash-checked output is the exact top-10
    WITHIN each query's probed cells (computed relationally by the
    oracle from the same assignment/probe arithmetic — the reference
    restriction ``ann_ivf_topk``'s own oracle uses) plus a recall
    boolean: the ADC+refine top-10 must recover >= 8 of that in-cell
    exact top-10 (measured: 10/10 at sf0.001/0.01/0.1).  Recall
    against the UNRESTRICTED top-10 is a property of how much the
    coarse quantizer prunes — on this synthetic corpus of i.i.d.
    random unit vectors cells carry no cluster structure, so a global
    bound would measure the data, not the engine; the pruning
    trade-off itself is pinned by the probe CTE both engines share."""
    import numpy as np

    from legalchatbot_vectordb_exp_spark.operators.pq import (
        adc_candidates,
        sample_vectors,
        train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = train_codebooks(sample_vectors(emb, 256), m=32, k=16, iters=8)

    # driver-side metadata: coarse centroids + the 5 probe vectors
    # one driver job fetches centroids AND the 5 probe vectors (both
    # metadata-scale; vec_id 0 appears in both roles)
    mod = ivf_mod_for(emb.count())  # parquet-footer count job
    meta = (
        emb.filter((F.col("vec_id") % mod == 0) | (F.col("vec_id") < 5))
        .orderBy("vec_id")
        .collect()
    )
    cids = [int(r[0]) for r in meta if int(r[0]) % mod == 0]
    cmat = [
        list(map(float, r[1])) for r in meta if int(r[0]) % mod == 0
    ]
    queries = [
        (int(r[0]), list(map(float, r[1]))) for r in meta if int(r[0]) < 5
    ]


    probe = {
        qid: set(
            cid
            for _, cid in sorted(
                ((-seq_dot(qv, cv), cid) for cid, cv in zip(cids, cmat))
            )[:NPROBE_PQ]
        )
        for qid, qv in queries
    }
    union_cells = sorted(set().union(*probe.values()))

    m, k, ds = books.shape
    books_b, cmat_b, cids_b = books, cmat, cids
    union_b = union_cells

    def assign_encode(batches):
        import pandas as pd

        allow = np.asarray(union_b, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(list(pdf["embedding"]), dtype=np.float64)
            # same shared coarse quantizer as every other IVF consumer
            cells = ivf_best_cells(E, cids_b, cmat_b)
            keep = np.isin(cells, allow)
            if not keep.any():
                continue
            emb_kept = pdf["embedding"].values[keep]
            ids = pdf["vec_id"].values[keep]
            E, cells = E[keep], cells[keep]
            codes = np.empty((len(ids), m), dtype=np.int64)
            for j in range(m):
                sub = E[:, j * ds : (j + 1) * ds]
                cent = books_b[j]
                d2 = (
                    (sub * sub).sum(1)[:, None]
                    - 2.0 * (sub @ cent.T)
                    + (cent * cent).sum(1)[None, :]
                )
                codes[:, j] = d2.argmin(1)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": list(emb_kept),
                    "cluster_id": cells,
                    "codes": list(codes),
                }
            )

    probed = emb.mapInPandas(
        assign_encode,
        schema=(
            "vec_id long, embedding array<double>, cluster_id long, "
            "codes array<bigint>"
        ),
    ).cache()  # read by the ADC path and the in-cell exact reference

    cands = adc_candidates(
        probed.select("vec_id", "cluster_id", "codes"),
        books,
        queries,
        r=100,
        probe_cells=probe,
    )

    qdf = spark.createDataFrame(queries, "query_id long, qv array<double>")
    refined = (
        probed.select("vec_id", "embedding")
        .join(F.broadcast(cands), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("score", dot("embedding", "qv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("vec_id").asc()
    )
    ivfpq_top = (
        refined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .groupBy("query_id")
        .agg(F.collect_set("vec_id").alias("ivfpq_ids"))
    )

    # guard reference: exact top-10 within each query's probed cells —
    # the same restriction the oracle computes relationally
    probe_pairs = spark.createDataFrame(
        [(qid, cid) for qid, cells in probe.items() for cid in cells],
        "query_id long, cluster_id long",
    )
    incell = (
        probed.select("vec_id", "embedding", "cluster_id")
        .join(F.broadcast(probe_pairs), "cluster_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("score", dot("embedding", "qv"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
    )
    incell_agg = incell.groupBy("query_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rnk", "vec_id"))),
                lambda s: s["vec_id"].cast("string"),
            ),
        ).alias("incell_top10"),
        F.collect_set("vec_id").alias("incell_ids"),
    )

    return incell_agg.join(ivfpq_top, "query_id").select(
        "query_id",
        "incell_top10",
        (
            F.size(F.array_intersect("incell_ids", "ivfpq_ids")) >= 8
        ).alias("ivfpq_recall_ok"),
    )


IVF_RECALL_FLOOR = 12  # of the 45 (9 queries x top-5) exact slots
LSH_MEAN_COS_FLOOR = 0.03  # all-pairs mean for random unit vectors ~ 0


@register(
    "ann_ivf_recall_guard",
    sql=f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id % {SQL_IVF_MOD} = 0
    ),
    assign AS (
      SELECT e.vec_id, e.embedding,
             arg_max(c.cid, {sql_dot('e.embedding', 'c.cv')}
                            + 1e-12 * (-c.cid)) AS cluster_id
      FROM embeddings e CROSS JOIN centroids c
      GROUP BY e.vec_id, e.embedding
    ),
    queries AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id <= {N_BATCH_QUERIES}
    ),
    probe AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sql_dot('q.qv', 'c.cv')} DESC, c.cid ASC) AS rn
        FROM queries q CROSS JOIN centroids c)
      WHERE rn <= {NPROBE}
    ),
    ivf5 AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, a.vec_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sql_dot('a.embedding', 'q.qv')} DESC,
                          a.vec_id ASC) AS rn
        FROM assign a
        JOIN probe p ON a.cluster_id = p.cid
        JOIN queries q ON q.query_id = p.query_id)
      WHERE rn <= 5
    ),
    exact5 AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sql_dot('e.embedding', 'q.qv')} DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN queries q)
      WHERE rn <= 5
    )
    SELECT (SELECT count(*) FROM queries)::BIGINT AS n_queries,
           count(*)::BIGINT AS total_hits,
           count(*) >= {IVF_RECALL_FLOOR} AS ivf_recall_ok
    FROM ivf5 JOIN exact5 USING (query_id, vec_id)
    """,
)
def q_ann_ivf_recall_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality contract for the IVF batch path (the
    ``ann_pq_guard`` pattern, round-2 review item 8): the IVF top-5 of
    the 9-query batch must recover at least {IVF_RECALL_FLOOR} of the
    45 exact brute-force top-5 slots.  Both sides and the hit count
    are integer-derived, so the single output row hash-matches
    exactly; measured total_hits is 20-26 across sf0.001/0.01/0.1 on
    the i.i.d.-random synthetic vectors (nprobe=2 of ~n/64 cells — on
    clustered production embeddings this rises sharply), so the floor
    guards against a broken quantizer/probe/assignment, not data
    drift.  The approximate path and the exact reference are the
    already-registered plans (``ann_ivf_topk_batch``: broadcast probe
    frame, zero corpus shuffle; ``topk_search_batch``: per-partition
    heap prune)."""
    from legalchatbot_vectordb_exp_spark.operators.topk import (
        topk_search_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ivf5 = q_ann_ivf_topk_batch(spark, sf_dir).select("query_id", "vec_id")
    qdf = emb.filter(F.col("vec_id") <= N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact5 = topk_search_batch(emb, qdf, k=5).select("query_id", "vec_id")
    n_q = qdf.count()
    return ivf5.join(exact5, ["query_id", "vec_id"]).agg(
        F.lit(n_q).cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).alias("total_hits"),
        (F.count(F.lit(1)) >= IVF_RECALL_FLOOR).alias("ivf_recall_ok"),
    )


def _lsh_quality_oracle() -> str:
    from legalchatbot_vectordb_exp_spark.registry import ORACLES

    return f"""
    SELECT count(*)::BIGINT AS n_pairs,
           round(CAST(sum(cos::DECIMAL(18,6)) AS DOUBLE) / count(*), 6)
             AS mean_pair_cos,
           round(CAST(sum(cos::DECIMAL(18,6)) AS DOUBLE) / count(*), 6)
             >= {LSH_MEAN_COS_FLOOR} AS lsh_enrichment_ok
    FROM ({ORACLES["ann_lsh_pairs"]}) p
    """


@register("ann_lsh_recall_guard", sql=_lsh_quality_oracle())
def q_ann_lsh_recall_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality contract for the LSH candidate path: the
    mean exact cosine over all same-bucket candidate pairs must exceed
    {LSH_MEAN_COS_FLOOR} — on this corpus of i.i.d. random unit
    vectors the all-pairs mean cosine is ~0, so the bound asserts the
    buckets genuinely ENRICH for similarity (measured 0.075-0.083
    across sf0.001/0.01/0.1; a degenerate hash that lumped everything
    into a few buckets would regress the mean to ~0 and flip the
    boolean — exactly the corpus-plane failure SCALE.md §6c records).
    The mean is sum(DECIMAL)/count over round-6 pair scores — exact
    integer-style arithmetic, so the single row hash-matches;
    the pair generation itself is the registered ``ann_lsh_pairs``
    plan (bucket-keyed shuffle, vectorized bit-exact rescore)."""
    pairs = q_ann_lsh_pairs(spark, sf_dir)
    mean = F.round(
        F.sum(F.col("cos").cast("decimal(18,6)")).cast("double")
        / F.count(F.lit(1)),
        6,
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        mean.alias("mean_pair_cos"),
        (mean >= LSH_MEAN_COS_FLOOR).alias("lsh_enrichment_ok"),
    )


# --------------------------------------------------------- persisted IVF

def _ivf_meta(spark: SparkSession, sf_dir: str):
    """One driver job: embeddings frame, centroid ids/matrix, the
    query vector (vec_id=1), and the driver-chosen probe cells —
    shared by ann_ivf_persisted and ann_ivf_incremental."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    mod = ivf_mod_for(emb.count())
    meta = emb.filter(
        (F.col("vec_id") % mod == 0) | (F.col("vec_id") == 1)
    ).collect()
    cids = [int(r[0]) for r in meta if int(r[0]) % mod == 0]
    cmat = [
        list(map(float, r[1])) for r in meta if int(r[0]) % mod == 0
    ]
    qvec = [float(x) for r in meta if int(r[0]) == 1 for x in r[1]]
    probe = sorted(
        cid
        for _, cid in sorted(
            ((-seq_dot(qvec, cv), cid) for cid, cv in zip(cids, cmat))
        )[:NPROBE]
    )
    return emb, cids, cmat, qvec, probe


def _stage_layout(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    scratch_key: str,
    keyed_fn,
    dim: int,
    holdout_pred=None,
):
    """Build-once-per-process protocol shared by every persisted IVF
    layout (cell-major AND label-in-key): clear the stale layout,
    persist the keyed frame so the pandas-UDF assignment kernel runs
    once instead of per-action (create's distributed path runs three
    actions — validation agg, range-boundary sample, write), create
    (optionally minus a holdout, then merge it — the incremental-
    ingest shape), and stage it so repeat bench runs probe the index
    at rest.  ``keyed_fn()`` returns the composite-keyed frame; it is
    only invoked on a build."""
    from legalchatbot_vectordb_exp_spark.sources.versioned import (
        VersionedCollection,
    )

    warehouse = scratch(sf_dir, scratch_key)
    coll = VersionedCollection(spark, warehouse, table)

    def build():
        fresh(coll.path)  # fresh layout per process
        keyed = keyed_fn().persist()
        try:
            base = (
                keyed
                if holdout_pred is None
                else keyed.filter(~holdout_pred)
            )
            coll.create(
                base, dim=dim, metric="dot", normalize=False,
                cluster_files=16,
            )
            if holdout_pred is not None:
                # the incremental ingest: same quantizer, same
                # composite key — ONE merge commit, no rebuild
                coll.merge(keyed.filter(holdout_pred))
        finally:
            keyed.unpersist()
        return warehouse

    stage(spark, sf_dir, scratch_key, build)
    return coll


def _ivf_layout_collection(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    scratch_key: str,
    holdout_pred=None,
):
    """Build (once per process) the cell-major persisted IVF layout
    and return ``(coll, qvec, probe)``.  With ``holdout_pred`` the
    layout lands in TWO commits — create without the held-out rows,
    then merge them (the incremental-ingest shape); without it, one
    create."""
    emb, cids, cmat, qvec, probe = _ivf_meta(spark, sf_dir)

    def keyed_fn():
        return emb.mapInPandas(
            make_ivf_assign(cids, cmat), schema=IVF_ASSIGN_SCHEMA
        ).select(
            (F.col("cluster_id") * CELL_SHIFT + F.col("vec_id")).alias(
                "id"
            ),
            F.col("embedding").alias("vector"),
            "vec_id",
            "cluster_id",
        )

    coll = _stage_layout(
        spark, sf_dir, table, scratch_key, keyed_fn,
        dim=len(qvec), holdout_pred=holdout_pred,
    )
    return coll, qvec, probe


def _ivf_probe_top5(coll, qvec, probe) -> DataFrame:
    """One stats-pruned MULTI-range read covering every probed cell
    (single manifest prune + single scan — N per-cell reads would
    build N plans and re-open shared files), exact rescore, top-5 —
    the shared search tail."""
    cand = coll.read_ranges(
        [
            (c * CELL_SHIFT, c * CELL_SHIFT + (CELL_SHIFT - 1))
            for c in probe
        ]
    )
    return topk_search(cand, qvec, vec_col="vector").select(
        "vec_id", "cluster_id", F.round("score", 6).alias("score")
    )


CELL_SHIFT = 2**32  # composite key: cluster_id * 2^32 + vec_id


@register(
    "ann_ivf_persisted",
    sql=f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id % {SQL_IVF_MOD} = 0
    ),
    assign AS (
      SELECT e.vec_id, e.embedding,
             arg_max(c.cid, {sql_dot('e.embedding', 'c.cv')}
                            + 1e-12 * (-c.cid)) AS cluster_id
      FROM embeddings e CROSS JOIN centroids c
      GROUP BY e.vec_id, e.embedding
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
    probe AS (
      SELECT c.cid
      FROM centroids c, q
      ORDER BY {sql_dot('q.qv', 'c.cv')} DESC, c.cid ASC
      LIMIT {NPROBE}
    )
    SELECT a.vec_id, a.cluster_id,
           round({sql_dot('a.embedding', 'q.qv')}, 6) AS score
    FROM assign a, probe p, q
    WHERE a.cluster_id = p.cid
    ORDER BY {sql_dot('a.embedding', 'q.qv')} DESC, a.vec_id ASC
    LIMIT 5
    """,
)
def q_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector database AT REST (E3 ⨝ E11): the IVF index is not a
    query-time structure but the physical LAYOUT of a versioned
    collection — what Qdrant's segment files are to the reference
    (``Qdrant/VectorDB/Database.py:7-20``), re-expressed as a
    manifest-tracked table whose sort order IS the index.

    Write path (once): every vector is assigned to its nearest
    deterministic centroid by THE shared coarse quantizer
    (:func:`ivf_best_cells`) and persisted under a cell-major
    composite key ``cluster_id * 2^32 + vec_id``, range-clustered so
    each file covers a tight key span — i.e. one or a few whole
    cells — and the manifest records each file's key min/max.

    Search path (per query): centroid scores are driver-side
    arithmetic (nlist rows are metadata); each probed cell becomes a
    ``read_range`` over its key interval, where MANIFEST STATS prune
    every file whose span cannot intersect the cell — the 100 TB scan
    reads nprobe/nlist of the files without any assignment recompute,
    Spark partition-pruning style but driven by the sink's own
    metadata.  Exact rescoring within the probed cells, top-5.

    The oracle recomputes assignment + probe + rescore relationally
    from the raw parquet, so a mis-keyed write, a stats-pruned file
    that should have been read, or a stale snapshot all fail the
    hash.  ``test_versioned_collection.py`` additionally pins that
    the probed scan OPENS fewer files than the snapshot holds."""
    # staged write path, then one stats-pruned range read per cell
    coll, qvec, probe = _ivf_layout_collection(
        spark, sf_dir, "emb_ivf", "ivf_persisted"
    )
    return _ivf_probe_top5(coll, qvec, probe)


# ------------------------------------------------- NN-descent k-NN graph

# Distributed k-NN graph construction (Dong, Moses & Li, "Efficient
# k-nearest neighbor graph construction for generic similarity
# measures", WWW 2011) — the batch analogue of the reference's
# graph-based index (Qdrant's server-side HNSW, Qdrant/main.py:60-61):
# Spark batch-builds the neighbor graph a serving engine would then
# navigate.  The structure is iterative refinement of a cheap initial
# graph via the NN-descent observation that "a neighbor of a neighbor
# is likely a neighbor":
#
#   init:  ring edges INSIDE each IVF cell (the shared coarse
#          quantizer, ivf_best_cells) — O(n*k) edges already enriched
#          for similarity because cell-mates share a centroid;
#   step:  candidates = neighbors-of-neighbors over the UNDIRECTED
#          current graph, scored exactly, then per-node top-k keep.
#
# Per-iteration candidate volume is O(n * (2k)^2) — NEVER all-pairs —
# and every stage is an equi-join or a per-node window, so the build is
# embarrassingly bucketable by node id at 100 TB.  Everything is
# deterministic (ring init + exact scores + score DESC, dst ASC
# tie-break), so the full edge list hash-matches the DuckDB oracle that
# replays the same iterations as nested CTEs.

KNN_K = 10  # neighbors kept per node
KNN_ITERS = 3  # NN-descent refinement rounds (fixed => SQL-expressible;
#   measured converged: recall identical at 3 vs 4 rounds on all sf)
KNN_GUARD_TOPK = 6  # exact slots per node the recall guard checks


def _knn_sql_scored_topk(
    pairs_cte: str, k: int, emb_rel: str = "embeddings"
) -> str:
    """Rank candidate pairs by exact dot, keep top-k per src.
    ``emb_rel`` is the vector-lookup relation — the incremental
    family passes an AUGMENTED relation (corpus ∪ derived insert
    batch) so reverse edges landing on new ids still score."""
    return f"""(
      SELECT src, dst, score FROM (
        SELECT s.src, s.dst, s.score,
               row_number() OVER (PARTITION BY s.src
                                  ORDER BY s.score DESC, s.dst ASC) AS rn
        FROM (SELECT p.src, p.dst,
                     {sql_dot('es.embedding', 'ed.embedding')} AS score
              FROM {pairs_cte} p
              JOIN {emb_rel} es ON es.vec_id = p.src
              JOIN {emb_rel} ed ON ed.vec_id = p.dst) s)
      WHERE rn <= {k})"""


def _knn_graph_ctes() -> list[str]:
    """The shared WITH-clause bodies of the graph build — composed
    structurally by _knn_graph_sql, _knn_search_sql, _knn_incr_sql,
    and _hnsw_sql (string surgery on rendered SQL corrupted silently
    if a CTE ever contained the split token).  One full-corpus build;
    the round-17 ``base_where`` restriction was removed with the
    held-out-batch incremental design (round 18: the incremental
    family inserts DERIVED points into this same build)."""
    k, iters = KNN_K, KNN_ITERS
    ctes = [
        f"""centroids AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id % {SQL_IVF_MOD} = 0
    )""",
        f"""assign AS (
      SELECT e.vec_id,
             arg_max(c.cid, {sql_dot('e.embedding', 'c.cv')}
                            + 1e-12 * (-c.cid)) AS cluster_id
      FROM embeddings e CROSS JOIN centroids c
      GROUP BY e.vec_id
    )""",
        """ranked AS (
      SELECT vec_id, cluster_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY vec_id) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS cn
      FROM assign
    )""",
        f"""init_pairs AS (
      SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
      FROM (SELECT r.vec_id, r.cluster_id, r.cn,
                   ((r.rn - 1 + j.j) % r.cn) + 1 AS trn
            FROM ranked r
            CROSS JOIN (SELECT unnest(generate_series(1, {k})) AS j) j
           ) a
      JOIN ranked b ON a.cluster_id = b.cluster_id AND a.trn = b.rn
      WHERE a.vec_id != b.vec_id
    )""",
        f"g0 AS MATERIALIZED {_knn_sql_scored_topk('init_pairs', k)}",
    ]
    for t in range(1, iters + 1):
        # B(mid) = forward neighbors (k) + top-k REVERSE neighbors —
        # the reverse cap is load-bearing: high-dim hubness makes raw
        # in-degree heavy-tailed and sum(deg^2) super-linear (measured
        # exponent 1.38 uncapped), while capped |B| <= 2k bounds
        # candidates at n*(2k)^2 exactly
        ctes.append(
            f"""rev{t} AS MATERIALIZED (
      SELECT mid, nbr FROM (
        SELECT dst AS mid, src AS nbr,
               row_number() OVER (PARTITION BY dst
                                  ORDER BY score DESC, src ASC) AS rn
        FROM g{t - 1})
      WHERE rn <= {k}
    )"""
        )
        ctes.append(
            f"""b{t} AS MATERIALIZED (
      SELECT src AS mid, dst AS nbr FROM g{t - 1}
      UNION ALL
      SELECT mid, nbr FROM rev{t}
    )"""
        )
        ctes.append(
            f"""cand{t} AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT x.nbr AS src, y.nbr AS dst
        FROM b{t} x JOIN b{t} y ON x.mid = y.mid
        UNION ALL
        SELECT src, dst FROM g{t - 1}) u
      WHERE src != dst
    )"""
        )
        ctes.append(
            f"g{t} AS MATERIALIZED {_knn_sql_scored_topk(f'cand{t}', k)}"
        )
    return ctes


def _knn_graph_sql(final_select: str) -> str:
    ctes = _knn_graph_ctes()
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + final_select.format(g=f"g{KNN_ITERS}")
    )


def _dedup_on(df: DataFrame, part_key: str, keys: list[str]) -> DataFrame:
    """Dedup on ``keys`` while establishing hash partitioning on
    ``part_key`` (a prefix of ``keys``) — ONE exchange where
    ``.distinct()`` costs two.  ``distinct()`` exchanges on the full
    key set, and the per-``part_key`` window that always follows these
    dedups then needs a SECOND exchange on ``part_key`` alone; hash
    partitioning on ``part_key`` already clusters the full key set
    (subset rule), so the aggregate dedups in place and the window
    rides the same exchange.  Row set is identical to ``distinct()``."""
    return df.repartition(F.col(part_key)).dropDuplicates(keys)


def _knn_scored_topk(pairs: DataFrame, emb: DataFrame) -> DataFrame:
    """Spark twin of :func:`_knn_sql_scored_topk`: two equi-joins back
    to the embeddings (broadcast- or bucket-joinable on vec_id at
    scale) + a per-src window — no shuffle wider than the candidate
    set itself."""
    # broadcast the embedding lookups: the candidate frame is the big
    # side; at 100 TB (corpus no longer broadcastable) the same joins
    # run bucketed on vec_id instead — the plan shape is unchanged
    scored = (
        pairs.join(
            F.broadcast(
                emb.select(
                    F.col("vec_id").alias("src"),
                    F.col("embedding").alias("_ev_src"),
                )
            ),
            "src",
        )
        .join(
            F.broadcast(
                emb.select(
                    F.col("vec_id").alias("dst"),
                    F.col("embedding").alias("_ev_dst"),
                )
            ),
            "dst",
        )
        .withColumn("score", dot("_ev_src", "_ev_dst"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.col("dst").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
        .select("src", "dst", "score")
    )


# bump for cache-layout changes; ALGORITHM changes are covered
# automatically by _build_source_sig below (review finding: a
# hand-bumped constant alone silently serves stale edges when someone
# retunes ivf_mod_for / the assign kernel / the level expr and
# forgets the bump)
_GRAPH_CACHE_VERSION = 1


def _build_source_sig(*fns) -> str | None:
    """sha256 (truncated) over the SOURCE TEXT of every function the
    build consumes: any edit to the build path — constants, kernels,
    tie-breaks, even a comment — invalidates the at-rest cache, so
    the cache can never serve edges the current code (and its DuckDB
    oracle) would not produce.

    Returns ``None`` when source is unavailable (zipapp/frozen build,
    REPL-defined patch — ``inspect.getsource`` raises OSError/
    TypeError there): the caller then DISABLES the at-rest cache for
    this build instead of failing the query itself (r19 ADVICE, low)."""
    import hashlib
    import inspect

    h = hashlib.sha256()
    for fn in fns:
        try:
            h.update(inspect.getsource(fn).encode())
        except (OSError, TypeError):
            return None
    return h.hexdigest()[:16]


def _emb_signature(sf_dir: str) -> dict:
    """Content signature of the embeddings table (size + mtime of its
    parquet bytes): the at-rest graph cache is valid only while the
    corpus it was built from is byte-identical."""
    p = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isfile(p):
        st = os.stat(p)
        return {"bytes": st.st_size, "mtime_ns": st.st_mtime_ns}
    total = mt = 0
    for root, _, files in os.walk(p):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                total += st.st_size
                mt = max(mt, st.st_mtime_ns)
    return {"bytes": total, "mtime_ns": mt}


def _cached_edges(
    spark: SparkSession, sf_dir: str, leaf: str, sig: dict, build_fn
) -> DataFrame:
    """AT-REST cache for a deterministic derived edge list (round-19
    item 5): the NN-descent build is ~10 s of the bench's graph-family
    fixture and is bit-identical on every rebuild (fixed iterations,
    fixed tie-breaks), so a production deployment would build it ONCE
    and serve the persisted index — exactly what the IVF family
    already does with its persisted layout.  The edge list is written
    to a per-sf_dir scratch dir with a content SIGNATURE (corpus
    bytes/mtime + build constants + algorithm version) committed
    LAST; a later process whose signature matches reads the parquet
    back instead of rebuilding; any mismatch (corpus changed, code
    retuned) rebuilds and atomically replaces the cache.  Doubles
    round-trip parquet exactly, so cached edges == built edges ==
    what the DuckDB oracle replays.  ``SPARK_GRAFT_GRAPH_CACHE=0``
    disables (build-mechanics tests measure the build itself)."""
    import shutil

    if os.environ.get("SPARK_GRAFT_GRAPH_CACHE", "1") == "0":
        return build_fn().localCheckpoint()
    if "src" in sig and sig["src"] is None:
        # build-source signature unavailable (frozen build / REPL
        # patch): a cache keyed on an unknowable build fingerprint
        # could serve stale edges — build uncached instead (the query
        # path must never depend on source availability)
        return build_fn().localCheckpoint()
    import hashlib

    # key the cache dir by the FULL sf_dir path, not just its basename:
    # two corpora both named e.g. "sf0.1" under different parents must
    # never share (and thrash) one cache directory (r19 ADVICE, low)
    path_tag = hashlib.sha256(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:8]
    cache = scratch(sf_dir, f"graph_cache_{leaf}_{path_tag}")
    sigfile = os.path.join(cache, "_signature.json")
    edges_dir = os.path.join(cache, "edges")
    try:
        with open(sigfile) as fh:
            if json.load(fh) == sig:
                return spark.read.parquet(edges_dir).localCheckpoint()
    except Exception:
        pass
    built = build_fn().localCheckpoint()
    tmp = f"{cache}.tmp{os.getpid()}"
    try:
        built.write.mode("overwrite").parquet(os.path.join(tmp, "edges"))
        with open(os.path.join(tmp, "_signature.json"), "w") as fh:
            json.dump(sig, fh)
        fresh(cache)
        os.rename(tmp, cache)
    except Exception as exc:  # noqa: BLE001
        # cache write is best-effort: concurrent writers or a
        # read-only scratch must never fail the query itself — but
        # never SILENTLY either (a swallowed NameError disabled this
        # whole path once; tests now pin the write, and a skipped
        # write at least says so)
        import warnings

        warnings.warn(
            f"graph edge cache write skipped for {leaf}: {exc!r}",
            stacklevel=2,
        )
        shutil.rmtree(tmp, ignore_errors=True)
    return built


def knn_graph_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the k-NN graph: IVF-cell ring init + KNN_ITERS NN-descent
    rounds.  Returns (src, dst, score) with exactly <=KNN_K edges per
    src, full doubles (callers round for display).  ONE full-corpus
    build serves every graph consumer — search, HNSW, and the
    incremental family — and the finished edge list additionally
    persists AT REST per sf_dir (:func:`_cached_edges`): a later
    process serves the stored index instead of rebuilding, the same
    build-once/query-many contract the persisted IVF layout already
    keeps.  Staged per process, so the recall guard and repeat bench
    runs reuse one build instead of re-running all KNN_ITERS rounds."""

    def build():
        return _cached_edges(
            spark,
            sf_dir,
            "knn",
            {
                "emb": _emb_signature(sf_dir),
                "k": KNN_K,
                "iters": KNN_ITERS,
                "src": _build_source_sig(
                    _knn_graph_build_uncached,
                    _knn_scored_topk,
                    make_ivf_assign,
                    ivf_mod_for,
                ),
                "v": _GRAPH_CACHE_VERSION,
            },
            lambda: _knn_graph_build_uncached(spark, sf_dir),
        )

    return stage(spark, sf_dir, "knn_graph", build)


def _knn_graph_build_uncached(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    mod = ivf_mod_for(emb.count())
    meta = emb.filter(F.col("vec_id") % mod == 0).collect()
    cids = [int(r[0]) for r in meta]
    cmat = [list(map(float, r[1])) for r in meta]
    assigned = emb.mapInPandas(
        make_ivf_assign(cids, cmat), schema=IVF_ASSIGN_SCHEMA
    ).select("vec_id", "cluster_id")

    w_rank = Window.partitionBy("cluster_id").orderBy("vec_id")
    ranked = assigned.withColumn(
        "rn", F.row_number().over(w_rank)
    ).withColumn("cn", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
    # ring init: each node -> its k successors (mod cell size) in
    # vec_id order within its cell; explode(sequence) keeps it a
    # narrow per-row expansion, no crossJoin
    targets = ranked.withColumn(
        "j", F.explode(F.sequence(F.lit(1), F.lit(KNN_K)))
    ).withColumn("trn", ((F.col("rn") - 1 + F.col("j")) % F.col("cn")) + 1)
    init_pairs = (
        targets.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.trn") == F.col("b.rn")),
        )
        .select(
            F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .transform(lambda d: _dedup_on(d, "src", ["src", "dst"]))
    )

    # Each iteration's graph feeds THREE downstream references (both
    # sides of the neighbor-of-neighbor self-join plus the keep-union),
    # so the lineage MUST be cut per round: persist alone keeps the
    # nested logical plan, which grows 3^ITERS and OOMs the driver
    # just RENDERING the plan string; localCheckpoint replaces it with
    # a leaf, so each round re-plans from n*k materialized edges.  At
    # 100 TB the same role is played by checkpointing each round to
    # reliable storage (the pagerank_parts pattern).
    graph = _knn_scored_topk(init_pairs, emb).localCheckpoint()
    for _ in range(KNN_ITERS):
        # B(mid) = forward neighbors (k) + top-k REVERSE neighbors.
        # The reverse cap is load-bearing at scale: high-dim hubness
        # makes raw in-degree heavy-tailed, so sum(deg^2) — the
        # candidate volume — grows super-linearly (measured exponent
        # 1.38 on the 10x stress corpus uncapped); with |B| <= 2k the
        # neighbor-of-neighbor self-join is bounded at n*(2k)^2 rows.
        w_rev = Window.partitionBy("mid").orderBy(
            F.desc("score"), F.col("nbr").asc()
        )
        rev = (
            graph.select(
                F.col("dst").alias("mid"),
                F.col("src").alias("nbr"),
                "score",
            )
            .withColumn("rn", F.row_number().over(w_rev))
            .filter(F.col("rn") <= KNN_K)
            .select("mid", "nbr")
        )
        b = graph.select(
            F.col("src").alias("mid"), F.col("dst").alias("nbr")
        ).union(rev)
        nn = (
            b.alias("x")
            .join(b.alias("y"), "mid")
            .select(F.col("x.nbr").alias("src"), F.col("y.nbr").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        pairs = _dedup_on(
            graph.select("src", "dst").union(nn), "src", ["src", "dst"]
        )
        graph = _knn_scored_topk(pairs, emb).localCheckpoint()
    return graph


@register(
    "ann_knn_graph",
    sql=_knn_graph_sql(
        "SELECT src, dst, round(score, 6) AS score FROM {g}"
    ),
)
def q_ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full NN-descent k-NN graph edge list, hash-matched against a
    DuckDB oracle that replays the identical iterations as nested CTEs
    (same fold order, same tie-breaks) — approximate in recall, exact
    in reproducibility."""
    return knn_graph_build(spark, sf_dir).select(
        "src", "dst", F.round("score", 6).alias("score")
    )


KNN_GRAPH_SAMPLE = 16  # vec_id <= 16 -> 17 sample nodes (ids start at 0)
KNN_RECALL_FLOOR = 8  # of the 102 (17 nodes x top-6) exact slots;
# measured hits 18-32 across sf0.001/0.01/0.1 on i.i.d.-random vectors
# (the hardest case for neighbor-of-neighbor transitivity) — a broken
# init/refinement collapses to the random-overlap expectation of ~0-2


@register(
    "ann_knn_graph_recall",
    sql=_knn_graph_sql(
        f"""
    , sample_nodes AS (
      SELECT vec_id AS src, embedding AS sv
      FROM embeddings WHERE vec_id <= {KNN_GRAPH_SAMPLE}
    ),
    exact_k AS (
      SELECT src, dst FROM (
        SELECT s.src, e.vec_id AS dst,
               row_number() OVER (
                 PARTITION BY s.src
                 ORDER BY {sql_dot('e.embedding', 's.sv')} DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN sample_nodes s
        WHERE e.vec_id != s.src)
      WHERE rn <= {KNN_GUARD_TOPK}
    )
    SELECT (SELECT count(*) FROM sample_nodes)::BIGINT AS n_nodes,
           count(*)::BIGINT AS total_hits,
           count(*) >= {KNN_RECALL_FLOOR} AS knn_recall_ok
    FROM {{g}} g JOIN exact_k USING (src, dst)
    WHERE g.src <= {KNN_GRAPH_SAMPLE}"""
    ),
)
def q_ann_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality contract for the NN-descent build (the
    ``ann_ivf_recall_guard`` shape): the graph's edges for the sample
    nodes (vec_id <= {KNN_GRAPH_SAMPLE}) must recover at least
    {KNN_RECALL_FLOOR} of their exact brute-force top-{KNN_GUARD_TOPK}
    slots.  Integer-derived
    single row, so it hash-matches exactly; the floor guards against a
    broken init/refinement/tie-break, not data drift."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    graph = knn_graph_build(spark, sf_dir).filter(
        F.col("src") <= KNN_GRAPH_SAMPLE
    )
    sample = emb.filter(F.col("vec_id") <= KNN_GRAPH_SAMPLE).select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("sv")
    )
    scored = (
        emb.crossJoin(F.broadcast(sample))
        .filter(F.col("vec_id") != F.col("src"))
        .withColumn("score", dot("embedding", "sv"))
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("score"), F.col("vec_id").asc()
    )
    exact_k = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_GUARD_TOPK)
        .select("src", F.col("vec_id").alias("dst"))
    )
    n_nodes = sample.count()
    return graph.join(exact_k, ["src", "dst"]).agg(
        F.lit(n_nodes).cast("bigint").alias("n_nodes"),
        F.count(F.lit(1)).alias("total_hits"),
        (F.count(F.lit(1)) >= KNN_RECALL_FLOOR).alias("knn_recall_ok"),
    )


# ------------------------------------------------- graph beam search

# Batch best-first search OVER the NN-descent graph — the navigate
# half of the reference's graph index (Qdrant HNSW search,
# Qdrant/main.py:60-61 via server defaults): seed each query with the
# IVF centroids (metadata-scale), then H hops of "expand the current
# beam's graph neighbors, rescore, keep top-B", exactly HNSW's greedy
# layer-0 walk batched across queries.  Every hop is one equi-join of
# the (queries x B) beam against the edge list plus a per-query window
# — beam volume is queries x B x k per hop, INDEPENDENT of corpus
# size; the corpus is touched only through broadcast embedding
# lookups (bucketed joins at 100 TB).

KNN_SEARCH_BEAM = 8  # beam width B
KNN_SEARCH_HOPS = 3  # fixed hops => SQL-expressible
KNN_SEARCH_TOPK = 5  # final results per query


def _knn_search_sql(final_select: str) -> str:
    """Graph CTEs (shared with ann_knn_graph) + beam-search CTEs."""
    b, hops, topk = KNN_SEARCH_BEAM, KNN_SEARCH_HOPS, KNN_SEARCH_TOPK
    g = f"g{KNN_ITERS}"
    search = [
        f"""squeries AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id <= {N_BATCH_QUERIES}
    )""",
        f"""beam0 AS MATERIALIZED (
      SELECT query_id, node, score FROM (
        SELECT s.query_id, c.cid AS node,
               {sql_dot('c.cv', 's.qv')} AS score,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY {sql_dot('c.cv', 's.qv')} DESC,
                                           c.cid ASC) AS rn
        FROM squeries s CROSS JOIN centroids c)
      WHERE rn <= {b}
    )""",
    ]
    for t in range(1, hops + 1):
        search.append(
            f"""beam{t} AS MATERIALIZED (
      SELECT query_id, node, score FROM (
        SELECT sc.query_id, sc.node, sc.score,
               row_number() OVER (PARTITION BY sc.query_id
                                  ORDER BY sc.score DESC,
                                           sc.node ASC) AS rn
        FROM (
          SELECT c.query_id, c.node,
                 {sql_dot('e.embedding', 's.qv')} AS score
          FROM (
            SELECT DISTINCT query_id, node FROM (
              SELECT query_id, node FROM beam{t - 1}
              UNION ALL
              SELECT p.query_id, ed.dst AS node
              FROM beam{t - 1} p JOIN {g} ed ON ed.src = p.node) u
          ) c
          JOIN embeddings e ON e.vec_id = c.node
          JOIN squeries s ON s.query_id = c.query_id) sc)
      WHERE rn <= {b}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(_knn_graph_ctes() + search)
        + "\n    "
        + final_select.format(beam=f"beam{hops}", topk=topk)
    )


@register(
    "ann_graph_search",
    sql=_knn_search_sql(
        """
    SELECT query_id, node AS vec_id, round(score, 6) AS score FROM (
      SELECT query_id, node, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, node ASC) AS rn
      FROM {beam})
    WHERE rn <= {topk}"""
    ),
)
def q_ann_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{KNN_SEARCH_TOPK} per query via beam search over the
    NN-descent graph — full hash-match against a DuckDB oracle that
    replays the identical build + walk."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    graph = knn_graph_build(spark, sf_dir).select("src", "dst")
    qdf = emb.filter(F.col("vec_id") <= N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
    )
    mod = ivf_mod_for(emb.count())
    cents = emb.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("node"),
        F.col("embedding").alias("nv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("node").asc()
    )
    beam = (
        qdf.join(F.broadcast(cents))
        .withColumn("score", dot("nv", "qv"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_SEARCH_BEAM)
        .select("query_id", "node", "score")
    )
    for hop in range(KNN_SEARCH_HOPS):
        # broadcast the BEAM (queries x B rows, always tiny) against
        # the corpus-sized edge list — the checkpointed graph carries
        # no stats, so without the hint Catalyst sort-merges and the
        # edge list would shuffle once per hop
        expanded = _dedup_on(
            beam.select("query_id", "node").union(
                F.broadcast(beam.alias("p"))
                .join(
                    graph.alias("ed"), F.col("ed.src") == F.col("p.node")
                )
                .select(
                    F.col("p.query_id").alias("query_id"),
                    F.col("ed.dst").alias("node"),
                )
            ),
            "query_id",
            ["query_id", "node"],
        )
        beam = (
            expanded.join(
                F.broadcast(
                    emb.select(
                        F.col("vec_id").alias("node"),
                        F.col("embedding").alias("nv"),
                    )
                ),
                "node",
            )
            .join(F.broadcast(qdf), "query_id")
            .withColumn("score", dot("nv", "qv"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= KNN_SEARCH_BEAM)
            .select("query_id", "node", "score")
        )
        # r21 (r20 "not yet optimized" item 1, measured): each
        # NON-FINAL hop's beam is referenced TWICE by the next hop
        # (union branch + broadcast probe), so without a lineage cut
        # the static plan doubles per hop (88 Exchange nodes for 3
        # hops) and the post-shuffle beam compute re-runs once per
        # reference.  A LAZY localCheckpoint materializes the
        # (queries x B)-row beam inside the next hop's broadcast
        # collect — no standalone job — and both references read
        # the cached blocks: constant-depth plans, one computation
        # per hop (the _hnsw_beam / incremental-walk shape).  The
        # FINAL beam is consumed exactly once (the top-k below), so
        # a cut there gains nothing and would truncate the executed
        # plan that tests/test_plans.py pins (broadcast-only joins).
        if hop < KNN_SEARCH_HOPS - 1:
            beam = beam.localCheckpoint(eager=False)
    return (
        beam.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_SEARCH_TOPK)
        .select(
            "query_id",
            F.col("node").alias("vec_id"),
            F.round("score", 6).alias("score"),
        )
    )


GRAPH_SEARCH_RECALL_FLOOR = 15  # of the 45 (9 queries x top-5) slots


@register(
    "ann_graph_search_recall",
    sql=_knn_search_sql(
        f"""
    , gs5 AS (
      SELECT query_id, node AS vec_id FROM (
        SELECT query_id, node,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, node ASC) AS rn
        FROM {{beam}})
      WHERE rn <= {{topk}}
    ),
    sexact5 AS (
      SELECT query_id, vec_id FROM (
        SELECT s.query_id, e.vec_id,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY {sql_dot('e.embedding', 's.qv')} DESC,
                                           e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN squeries s)
      WHERE rn <= {{topk}}
    )
    SELECT (SELECT count(*) FROM squeries)::BIGINT AS n_queries,
           count(*)::BIGINT AS total_hits,
           count(*) >= {GRAPH_SEARCH_RECALL_FLOOR} AS graph_recall_ok
    FROM gs5 JOIN sexact5 USING (query_id, vec_id)"""
    ),
)
def q_ann_graph_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality contract for the graph walk (the
    ``ann_ivf_recall_guard`` shape): beam-search top-5 of the 9-query
    batch must recover at least {GRAPH_SEARCH_RECALL_FLOOR} of the 45
    exact top-5 slots.  Integer-derived single row — hash-matches."""
    from legalchatbot_vectordb_exp_spark.operators.topk import (
        topk_search_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    gs5 = q_ann_graph_search(spark, sf_dir).select("query_id", "vec_id")
    qdf = emb.filter(F.col("vec_id") <= N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact5 = topk_search_batch(emb, qdf, k=KNN_SEARCH_TOPK).select(
        "query_id", "vec_id"
    )
    n_q = qdf.count()
    return gs5.join(exact5, ["query_id", "vec_id"]).agg(
        F.lit(n_q).cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).alias("total_hits"),
        (
            F.count(F.lit(1)) >= GRAPH_SEARCH_RECALL_FLOOR
        ).alias("graph_recall_ok"),
    )


# --------------------------------------------- incremental IVF index

INCR_HOLDOUT_MOD = 23  # vec_id % 23 == 5 arrives as the second commit


@register(
    "ann_ivf_incremental",
    sql=f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id % {SQL_IVF_MOD} = 0
    ),
    assign AS (
      SELECT e.vec_id, e.embedding,
             arg_max(c.cid, {sql_dot('e.embedding', 'c.cv')}
                            + 1e-12 * (-c.cid)) AS cluster_id
      FROM embeddings e CROSS JOIN centroids c
      GROUP BY e.vec_id, e.embedding
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
    probe AS (
      SELECT c.cid
      FROM centroids c, q
      ORDER BY {sql_dot('q.qv', 'c.cv')} DESC, c.cid ASC
      LIMIT {NPROBE}
    )
    SELECT a.vec_id, a.cluster_id,
           round({sql_dot('a.embedding', 'q.qv')}, 6) AS score
    FROM assign a, probe p, q
    WHERE a.cluster_id = p.cid
    ORDER BY {sql_dot('a.embedding', 'q.qv')} DESC, a.vec_id ASC
    LIMIT 5
    """,
)
def q_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance (E3 ⨝ E11, the other half of
    ``ann_ivf_persisted``): the persisted IVF layout is built in TWO
    commits — create over the corpus MINUS a held-out batch
    (``vec_id % {INCR_HOLDOUT_MOD} == 5``), then ``merge`` the batch
    keyed by the SAME quantizer/composite key — and the probe over
    the post-merge snapshot must equal the full-corpus IVF result
    (the oracle recomputes it relationally from the raw parquet).
    This is the production shape Qdrant gets from its upsert path
    (``Qdrant/VectorDB/Database.py:16-20``): new vectors join the
    index without a rebuild, the merge's manifest-stats discovery
    touches only the files whose cell ranges intersect the batch,
    and time travel keeps the pre-ingest index queryable."""
    coll, qvec, probe = _ivf_layout_collection(
        spark, sf_dir, "emb_ivf_incr", "ivf_incremental",
        holdout_pred=(F.col("vec_id") % INCR_HOLDOUT_MOD == 5),
    )
    return _ivf_probe_top5(coll, qvec, probe)


# ------------- filtered vector search (Qdrant Filter parity) -------------
#
# The reference imports Qdrant's filtered-search API — ``Filter,
# FieldCondition, MatchValue`` at ``Qdrant/main.py:4`` and
# ``Qdrant/main2.py:5`` — the payload-constrained search that is
# Qdrant's signature capability.  Spark-first re-expression: the
# payload predicate is PRE-filtering (fused into the parquet scan as a
# PushedFilter BEFORE any vector work — never post-filtering a top-k,
# which silently returns < k or misses matches), and the engine picks
# between Qdrant's two physical strategies by filter cardinality:
#
# * **full scan** when few rows match (Qdrant ``full_scan_threshold``):
#   exact scoring over the filtered scan — TakeOrderedAndProject,
#   zero shuffles; at 100 TB the predicate prunes row groups via
#   parquet stats before a single vector is read;
# * **escalated IVF** when many match: probe ``ceil(nprobe · n / m)``
#   cells instead of ``nprobe`` so the EXPECTED candidate count under
#   a selectivity-``m/n`` filter equals the unfiltered search's — the
#   standard IVF filtered-search correction (FAISS/Qdrant practice).
#   Integer-exact math both engines replay bit-for-bit.

FILTER_LABEL = 3  # MatchValue(value=3) analogue on the label payload


def filtered_search_plan(
    n_total: int,
    n_match: int,
    nlist: int,
    nprobe: int = NPROBE,
    threshold: int | None = None,
):
    """Qdrant-style filtered-search planner: ``("full_scan", None)``
    below the cardinality threshold, else ``("ivf", escalated_nprobe)``.

    The threshold scales with the corpus (``max(64, n // 16)``) the
    way Qdrant's per-segment ``full_scan_threshold`` scales with
    segment count; the escalation is exact integer ``ceil`` so the
    DuckDB oracle reproduces the probe set bit-for-bit."""
    thr = threshold if threshold is not None else max(64, n_total // 16)
    if n_match <= thr:
        return ("full_scan", None)
    return ("ivf", escalated_nprobe(n_total, n_match, nlist, nprobe))


def escalated_nprobe(n: int, m: int, nlist: int, nprobe: int = NPROBE) -> int:
    """THE escalation integer math — ``min(nlist, ceil(nprobe·n/m))``
    — in exactly one place.  Both :func:`filtered_search_plan` (the
    planner branch) and :func:`escalated_probe` (the probe-set
    builder the oracles replay) call here, so the ceil/cap arithmetic
    can never drift between them or from ``_FILTERED_IVF_SQL``."""
    m = max(1, m)
    return min(nlist, (nprobe * n + m - 1) // m)


def escalated_probe(qvec, cids, cmat, n, m, nprobe=NPROBE):
    """The filtered-search probe set: :func:`escalated_nprobe` cells
    nearest the query by ``(dot DESC, cid ASC)``.  SINGLE definition
    of the probe-rank tie-break every filtered oracle replays
    bit-for-bit — q_ann_filtered_ivf, the label-in-key persisted
    layout, and the per-query batch all call here, so the math can
    never desynchronize from the shared ``_FILTERED_IVF_SQL``.
    Returns cells in probe-rank order."""
    esc = escalated_nprobe(n, m, len(cids), nprobe)
    return [
        cid
        for _, cid in sorted(
            ((-seq_dot(qvec, cv), cid) for cid, cv in zip(cids, cmat))
        )[:esc]
    ]


@register(
    "ann_filtered_search",
    sql=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
    SELECT e.vec_id, e.label,
           round({sql_dot('e.embedding', 'q.qv')}, 6) AS score
    FROM embeddings e, q
    WHERE e.label = {FILTER_LABEL} AND e.vec_id % 7 = 0
    ORDER BY {sql_dot('e.embedding', 'q.qv')} DESC, e.vec_id ASC
    LIMIT 5
    """,
)
def q_ann_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, FULL-SCAN branch: a selective compound
    payload predicate (``label = {3} AND vec_id % 7 = 0``, ~1.4 % of
    the corpus — below the planner threshold at every test SF, pinned
    by ``tests/test_filtered_search.py``) routes to exact scoring over
    the filtered scan.  Plan: parquet scan with the label equality in
    PushedFilters → dot-product expression → TakeOrderedAndProject.
    Zero shuffles, zero Python in the scoring path; at 100 TB the
    label predicate prunes row groups before any vector IO.  The
    cardinality the planner consumes is one aggregate job — the Spark
    analogue of reading Qdrant's payload-index cardinality
    (``Qdrant/main.py:4`` imports the Filter API this re-expresses)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    flt = (F.col("label") == FILTER_LABEL) & (F.col("vec_id") % 7 == 0)
    # one metadata-scale job: corpus size, match cardinality, and the
    # query vector (any_value of the vec_id=1 row's embedding)
    stats = emb.agg(
        F.count("*").alias("n"),
        F.sum(flt.cast("long")).alias("m"),
        F.any_value(
            F.when(F.col("vec_id") == 1, F.col("embedding")), True
        ).alias("qv"),
    ).collect()[0]
    branch, _ = filtered_search_plan(
        int(stats["n"]), int(stats["m"]), nlist=ivf_nlist_for(int(stats["n"]))
    )
    assert branch == "full_scan", branch  # selectivity pins the branch
    return topk_search(emb.filter(flt), stats["qv"]).select(
        "vec_id", "label", F.round("score", 6).alias("score")
    )


# Shared by ann_filtered_ivf (scan-time assignment) and
# ann_filtered_persisted (label-in-key persisted layout): the two
# plans MUST agree bit-for-bit — same quantizer, same integer
# escalation, same tie-breaks — so they share one oracle.
_FILTERED_IVF_SQL = f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id % {SQL_IVF_MOD} = 0
    ),
    counts AS (
      SELECT count(*) AS n,
             greatest(1, sum(CASE WHEN label = {FILTER_LABEL}
                                  THEN 1 ELSE 0 END)) AS m
      FROM embeddings
    ),
    esc AS (
      SELECT least((SELECT count(*) FROM centroids),
                   ({NPROBE} * c.n + c.m - 1) // c.m) AS k
      FROM counts c
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
    ranked AS (
      SELECT c.cid,
             row_number() OVER (
               ORDER BY {sql_dot('q.qv', 'c.cv')} DESC, c.cid ASC
             ) AS rn
      FROM centroids c, q
    ),
    probe AS (SELECT r.cid FROM ranked r, esc WHERE r.rn <= esc.k),
    assign AS (
      SELECT e.vec_id, e.embedding,
             arg_max(c.cid, {sql_dot('e.embedding', 'c.cv')}
                            + 1e-12 * (-c.cid)) AS cluster_id
      FROM embeddings e CROSS JOIN centroids c
      WHERE e.label = {FILTER_LABEL}
      GROUP BY e.vec_id, e.embedding
    )
    SELECT a.vec_id, round({sql_dot('a.embedding', 'q.qv')}, 6) AS score
    FROM assign a, probe p, q
    WHERE a.cluster_id = p.cid
    ORDER BY {sql_dot('a.embedding', 'q.qv')} DESC, a.vec_id ASC
    LIMIT 5
    """


@register("ann_filtered_ivf", sql=_FILTERED_IVF_SQL)
def q_ann_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, ESCALATED-IVF branch (the
    above-threshold shape the planner picks for broad filters): the
    ``label = {3}`` predicate (~10 % selectivity) is fused into the
    scan BEFORE the assignment kernel — only matching vectors cross
    the Arrow boundary — and nprobe escalates to
    ``min(nlist, ceil(NPROBE · n / m))`` so the expected candidate
    count under the filter matches the unfiltered search's.  The
    DuckDB oracle replays the same integer escalation, the same
    probe-set tie-breaks, and the same filtered assignment, so the
    approximation itself is hash-checked, not just floored.  At
    100 TB: label is a scan-stage PushedFilter, cluster pruning stays
    in-kernel, and the candidate set is bounded by
    ``m · esc / nlist ≈ NPROBE · n / nlist`` — filter-independent.
    (Qdrant Filter/FieldCondition/MatchValue parity,
    ``Qdrant/main.py:4``, ``Qdrant/main2.py:5``.)"""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    # job 1: corpus + payload cardinality (the payload-index read)
    stats = emb.agg(
        F.count("*").alias("n"),
        F.sum((F.col("label") == FILTER_LABEL).cast("long")).alias("m"),
    ).collect()[0]
    n, m = int(stats["n"]), max(1, int(stats["m"]))
    mod = ivf_mod_for(n)
    # job 2: centroids + query vector (both metadata-scale)
    meta = emb.filter(
        (F.col("vec_id") % mod == 0) | (F.col("vec_id") == 1)
    ).select("vec_id", "embedding").collect()
    cids = [int(r[0]) for r in meta if int(r[0]) % mod == 0]
    cmat = [list(map(float, r[1])) for r in meta if int(r[0]) % mod == 0]
    qvec = [float(x) for r in meta if int(r[0]) == 1 for x in r[1]]
    probe = set(escalated_probe(qvec, cids, cmat, n, m))
    probed = (
        emb.filter(F.col("label") == FILTER_LABEL)
        .select("vec_id", "embedding")
        .mapInPandas(
            make_ivf_assign(cids, cmat, probe=probe),
            schema=IVF_ASSIGN_SCHEMA,
        )
    )
    return topk_search(probed, qvec).select(
        "vec_id", F.round("score", 6).alias("score")
    )


# ---------------- Qdrant search-API family completion (round 16) ----------------
#
# Beyond plain ``search`` the Qdrant client the reference wraps
# (``Qdrant/VectorDB/Database.py:22-27``) exposes a small family of
# read APIs a switching user would reach for next: ``search_groups``
# (top groups by best hit with per-group hit caps — the RAG shape:
# chunk hits grouped by parent document), ``scroll`` (filtered keyset
# pagination), and ``recommend`` (positive/negative example ids).
# Each is re-expressed as a declarative DataFrame plan with an exact
# DuckDB oracle — no approximation, so parity is hash-checked.

GROUP_TOP_GROUPS = 3  # search_groups: groups returned
GROUP_PER_GROUP = 2  # search_groups: hits kept per group


@register(
    "ann_group_search",
    sql=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
    scored AS (
      SELECT e.vec_id, e.label,
             {sql_dot('e.embedding', 'q.qv')} AS s
      FROM embeddings e, q
    ),
    hits AS (
      SELECT vec_id, label, s,
             row_number() OVER (
               PARTITION BY label ORDER BY s DESC, vec_id ASC
             ) AS hit_rank
      FROM scored
    ),
    capped AS (SELECT * FROM hits WHERE hit_rank <= {GROUP_PER_GROUP}),
    groups AS (
      SELECT label, max(s) AS best,
             row_number() OVER (
               ORDER BY max(s) DESC, label ASC
             ) AS group_rank
      FROM capped GROUP BY label
    )
    SELECT c.label, g.group_rank, c.hit_rank, c.vec_id,
           round(c.s, 6) AS score
    FROM capped c, groups g
    WHERE c.label = g.label AND g.group_rank <= {GROUP_TOP_GROUPS}
    ORDER BY g.group_rank ASC, c.hit_rank ASC
    """,
)
def q_ann_group_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant ``search_groups`` parity: top-{3} payload groups ranked
    by their best hit, {2} hits per group — the result-diversity API
    (chunk hits grouped by parent document, products by brand).
    Spark-first: scan-stage scoring, ONE shuffle (the window's
    partition-by-label exchange, map-side nothing to combine but the
    per-group cap truncates to ≤ groups·cap rows immediately), then
    group ranking over the tiny capped frame.  At 100 TB the heavy
    frame crosses the wire once, keyed by the group column; a skewed
    group costs one partition, not a replan."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]
    ]
    scored = emb.withColumn("s", dot("embedding", vector_lit(qvec)))
    w_hit = Window.partitionBy("label").orderBy(
        F.desc("s"), F.col("vec_id").asc()
    )
    capped = scored.withColumn(
        "hit_rank", F.row_number().over(w_hit)
    ).filter(F.col("hit_rank") <= GROUP_PER_GROUP)
    groups = (
        capped.groupBy("label")
        .agg(F.max("s").alias("best"))
        .withColumn(
            "group_rank",
            F.row_number().over(
                Window.orderBy(F.desc("best"), F.col("label").asc())
            ),
        )
        .filter(F.col("group_rank") <= GROUP_TOP_GROUPS)
    )
    return (
        capped.join(F.broadcast(groups), "label")
        .orderBy("group_rank", "hit_rank")
        .select(
            "label",
            "group_rank",
            "hit_rank",
            "vec_id",
            F.round("s", 6).alias("score"),
        )
    )


SCROLL_PAGE = 10  # scroll: page size
SCROLL_PAGES = 3  # scroll: pages the query materializes


@register(
    "collection_scroll",
    sql=f"""
    WITH filtered AS (
      SELECT vec_id, label
      FROM embeddings
      WHERE label = {FILTER_LABEL}
    ),
    numbered AS (
      SELECT vec_id, label,
             row_number() OVER (ORDER BY vec_id ASC) AS rn
      FROM filtered
    )
    SELECT CAST((rn - 1) // {SCROLL_PAGE} AS BIGINT) AS page,
           vec_id, label
    FROM numbered
    WHERE rn <= {SCROLL_PAGE * SCROLL_PAGES}
    ORDER BY vec_id ASC
    """,
)
def q_collection_scroll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant ``scroll`` parity: filtered KEYSET pagination — each page
    is ``WHERE id > cursor ORDER BY id LIMIT page`` with the cursor =
    last id of the previous page, NEVER ``OFFSET`` (offset-N re-scans
    and re-sorts N rows per page; keyset stays O(page) via the
    id-ordered index / parquet min-max pruning at any depth).  The
    query materializes the first {3} pages exactly as a driver loop of
    cursor reads — the loop is over PAGES (bounded, user-facing), not
    rows — then stamps each row's page number.  The oracle replays the
    same pagination relationally (row_number over the id order), so
    cursor arithmetic is hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    filtered = emb.filter(F.col("label") == FILTER_LABEL)
    out_rows = []
    cursor = None
    for page_no in range(SCROLL_PAGES):
        page = filtered
        if cursor is not None:
            page = page.filter(F.col("vec_id") > cursor)
        # ONE job per page: the collected page rows (≤ SCROLL_PAGE,
        # user-facing-bounded) supply both the cursor and the output —
        # a separate max() job would scan-and-sort each page twice
        rows = (
            page.orderBy(F.col("vec_id").asc())
            .limit(SCROLL_PAGE)
            .collect()
        )
        out_rows.extend(
            (page_no, int(r["vec_id"]), int(r["label"])) for r in rows
        )
        if len(rows) < SCROLL_PAGE:
            break  # past the last page
        cursor = int(rows[-1]["vec_id"])
    return spark.createDataFrame(
        out_rows, "page long, vec_id long, label int"
    ).orderBy(F.col("vec_id").asc())


# recommend: positive/negative example ids (Qdrant best_score
# strategy: with max_pos = max(sim to positives) and max_neg =
# max(sim to negatives), score(v) = max_pos when max_pos > max_neg
# else -(max_neg^2) — examples excluded from results)
RECO_POS = (1, 9)  # positive example vec_ids
RECO_NEG = (4,)  # negative example vec_ids


@register(
    "ann_recommend",
    sql=f"""
    WITH pos AS (
      SELECT embedding AS pv FROM embeddings
      WHERE vec_id IN {RECO_POS}
    ),
    neg AS (
      SELECT embedding AS nv FROM embeddings
      WHERE vec_id IN ({RECO_NEG[0]})
    ),
    folded AS (
      SELECT e.vec_id,
             (SELECT max({sql_dot('e.embedding', 'p.pv')}) FROM pos p)
               AS max_pos,
             (SELECT max({sql_dot('e.embedding', 'g.nv')}) FROM neg g)
               AS max_neg
      FROM embeddings e
      WHERE e.vec_id NOT IN {RECO_POS + RECO_NEG}
    ),
    scored AS (
      SELECT vec_id,
             CASE WHEN max_pos > max_neg THEN max_pos
                  ELSE -(max_neg * max_neg) END AS s
      FROM folded
    )
    SELECT vec_id, round(s, 6) AS score
    FROM scored
    ORDER BY s DESC, vec_id ASC
    LIMIT 5
    """,
)
def q_ann_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant ``recommend`` parity (best_score strategy, the exact
    upstream formula): with ``max_pos = max(sim to positive
    examples)`` and ``max_neg = max(sim to negative examples)``,
    score = ``max_pos`` when ``max_pos > max_neg``, else
    ``-(max_neg²)`` — candidates a negative dominates rank below
    every positive-dominated candidate, least-negative first.
    Example ids excluded from the result.  The example vectors are
    metadata-scale (one driver collect); each becomes a scan-stage
    dot-product literal, the max fold is a greatest()/CASE expression
    — so the whole plan is scan → expressions →
    TakeOrderedAndProject: zero shuffles, identical shape to
    single-query search no matter how many examples.  At 100 TB
    nothing changes: k example literals ride the task closure, the
    corpus is read once."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    examples = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            F.col("vec_id").isin(list(RECO_POS + RECO_NEG))
        ).collect()
    }
    pos_scores = [dot("embedding", vector_lit(examples[i])) for i in RECO_POS]
    neg_scores = [dot("embedding", vector_lit(examples[i])) for i in RECO_NEG]
    s = F.greatest(*pos_scores) if len(pos_scores) > 1 else pos_scores[0]
    t = F.greatest(*neg_scores) if len(neg_scores) > 1 else neg_scores[0]
    best_score = F.when(s > t, s).otherwise(-(t * t))
    return (
        emb.filter(~F.col("vec_id").isin(list(RECO_POS + RECO_NEG)))
        .withColumn("s", best_score)
        .orderBy(F.desc("s"), F.col("vec_id").asc())
        .limit(5)
        .select("vec_id", F.round("s", 6).alias("score"))
    )


# -------- filtered search over the persisted layout (label-in-key) --------

LABEL_SHIFT = 2**24  # composite key: cluster*2^32 + label*2^24 + vec_id
# (test-scale shifts: vec_id < 2^24 and label*2^24 < 2^32 hold at every
# driver SF and stress multiple; at production scale widen to 2^40/2^20
# — the layout math is shift-agnostic)

def _ivf_filtered_layout(spark: SparkSession, sf_dir: str):
    """Build (once per process) the FILTER-OPTIMIZED persisted IVF
    layout — composite key ``cluster_id·2^32 + label·2^24 + vec_id``
    so rows are clustered by payload WITHIN each cell — and return
    ``(coll, qvec, probe)`` with the probe set already escalated for
    the ``label = FILTER_LABEL`` filter's selectivity."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    # job 1: corpus + payload cardinality (escalation inputs) + the
    # composite-key field-width guard: vec_id must fit below the
    # label field and label below the cluster field, else packing
    # silently bleeds into the adjacent field and filtered range
    # reads return wrong rows — fail loudly instead
    stats = emb.agg(
        F.count("*").alias("n"),
        F.sum((F.col("label") == FILTER_LABEL).cast("long")).alias("m"),
        F.max("vec_id").alias("max_vid"),
        F.max("label").alias("max_label"),
    ).collect()[0]
    n, m = int(stats["n"]), max(1, int(stats["m"]))
    if int(stats["max_vid"]) >= LABEL_SHIFT:
        raise ValueError(
            f"label-in-key layout: max vec_id {stats['max_vid']} >= "
            f"LABEL_SHIFT {LABEL_SHIFT}; widen the composite-key shifts"
        )
    if int(stats["max_label"]) >= CELL_SHIFT // LABEL_SHIFT:
        raise ValueError(
            f"label-in-key layout: max label {stats['max_label']} >= "
            f"{CELL_SHIFT // LABEL_SHIFT}; widen the composite-key shifts"
        )
    mod = ivf_mod_for(n)
    # job 2: centroids + query vector (metadata-scale)
    meta = emb.filter(
        (F.col("vec_id") % mod == 0) | (F.col("vec_id") == 1)
    ).select("vec_id", "embedding").collect()
    cids = [int(r[0]) for r in meta if int(r[0]) % mod == 0]
    cmat = [list(map(float, r[1])) for r in meta if int(r[0]) % mod == 0]
    qvec = [float(x) for r in meta if int(r[0]) == 1 for x in r[1]]
    probe = sorted(escalated_probe(qvec, cids, cmat, n, m))

    def keyed_fn():
        return emb.mapInPandas(
            make_ivf_assign(cids, cmat, extra_cols=("label",)),
            schema=IVF_ASSIGN_SCHEMA + ", label int",
        ).select(
            (
                F.col("cluster_id") * CELL_SHIFT
                + F.col("label").cast("long") * LABEL_SHIFT
                + F.col("vec_id")
            ).alias("id"),
            F.col("embedding").alias("vector"),
            "vec_id",
            "cluster_id",
            "label",
        )

    coll = _stage_layout(
        spark, sf_dir, "emb_ivf_filt", "ivf_filtered", keyed_fn,
        dim=len(qvec),
    )
    return coll, qvec, probe


@register("ann_filtered_persisted", sql=_FILTERED_IVF_SQL)
def q_ann_filtered_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search over the PERSISTED index (the at-scale shape of
    ``ann_filtered_ivf``, which re-assigns at scan time): the layout's
    composite key embeds the payload — ``cluster·2^32 + label·2^24 +
    vec_id`` — so rows are label-clustered within every IVF cell and
    ONE id-range read per probed cell (``[cell|label|0, cell|label|max]``)
    lands exactly on the filter: manifest min/max stats prune every
    file of the cell that holds other labels, with NO new pruning
    machinery (the range read IS the existing stats-skipping path).
    This is the composite-clustering-key answer to filtered ANN at
    100 TB — Qdrant gets the same effect from its payload index;
    a columnar engine gets it from layout.  Escalation, quantizer and
    tie-breaks are shared with ``ann_filtered_ivf``, so both plans
    hash-match the SAME DuckDB oracle.  File-pruning evidence:
    ``tests/test_filtered_search.py`` pins scanned-file counts via
    ``last_read_stats``."""
    coll, qvec, probe = _ivf_filtered_layout(spark, sf_dir)
    lo_off = FILTER_LABEL * LABEL_SHIFT
    cand = coll.read_ranges(
        [
            (c * CELL_SHIFT + lo_off, c * CELL_SHIFT + lo_off + (LABEL_SHIFT - 1))
            for c in probe
        ]
    )
    return topk_search(cand, qvec, vec_col="vector").select(
        "vec_id", F.round("score", 6).alias("score")
    )


# ----------------------- named vectors (multi-vector points) -----------------------

TITLE_DIM = 32  # the second named vector: first 32 dims of the embedding


@register(
    "ann_named_vectors",
    sql=f"""
    WITH pts AS (
      SELECT vec_id,
             embedding AS body,
             embedding[1:{TITLE_DIM}] AS title
      FROM embeddings
    ),
    q AS (SELECT title AS qv FROM pts WHERE vec_id = 1)
    SELECT p.vec_id, round({sql_dot('p.title', 'q.qv')}, 6) AS score
    FROM pts p, q
    ORDER BY {sql_dot('p.title', 'q.qv')} DESC, p.vec_id ASC
    LIMIT 5
    """,
)
def q_ann_named_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMED VECTORS (Qdrant multi-vector points): one point carries
    several independently-searchable vectors, each with its OWN dim
    and metric — ``search(using="title")`` ranks in the title space,
    not the body space.  Here the second vector is derived (the first
    {32} dims — the testdata ships one embedding; a real pipeline
    brings its own title/body embeddings) and the search runs entirely
    in the 32-dim named space: scan-stage slice + dot expressions →
    TakeOrderedAndProject, zero shuffles.  Columnar named vectors are
    FREE at 100 TB reads: each name is its own parquet column, so a
    title-space search never reads body bytes (column pruning), where
    a row-store pays for every vector it stores per point.  API twin:
    ``VectorCollection.create_multi/search_named``
    (``tests/test_named_vectors.py``)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    pts = emb.select(
        "vec_id", F.slice("embedding", 1, TITLE_DIM).alias("title")
    )
    qvec = [
        float(x) for x in pts.filter(F.col("vec_id") == 1).head()["title"]
    ]
    return topk_search(pts, qvec, vec_col="title").select(
        "vec_id", F.round("score", 6).alias("score")
    )


# -------------------- per-query filtered batch search --------------------

FILTER_BATCH_QUERIES = 4  # queries vec_id 1..4, each with its own filter


@register(
    "ann_filtered_batch",
    sql=f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id % {SQL_IVF_MOD} = 0
    ),
    tot AS (SELECT count(*) AS n FROM embeddings),
    queries AS (
      SELECT vec_id AS query_id, embedding AS qv,
             (vec_id * 3) % 10 AS qlabel
      FROM embeddings
      WHERE vec_id BETWEEN 1 AND {FILTER_BATCH_QUERIES}
    ),
    lcounts AS (
      SELECT label, count(*) AS m FROM embeddings GROUP BY label
    ),
    esc AS (
      SELECT q.query_id,
             least((SELECT count(*) FROM centroids),
                   ({NPROBE} * t.n + l.m - 1) // l.m) AS k
      FROM queries q, tot t, lcounts l
      WHERE l.label = q.qlabel
    ),
    probe AS (
      SELECT r.query_id, r.cid
      FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sql_dot('q.qv', 'c.cv')} DESC, c.cid ASC
               ) AS rn
        FROM queries q CROSS JOIN centroids c
      ) r JOIN esc e ON e.query_id = r.query_id
      WHERE r.rn <= e.k
    ),
    assign AS (
      SELECT e.vec_id, e.embedding, e.label,
             arg_max(c.cid, {sql_dot('e.embedding', 'c.cv')}
                            + 1e-12 * (-c.cid)) AS cluster_id
      FROM embeddings e CROSS JOIN centroids c
      WHERE e.label IN (SELECT DISTINCT qlabel FROM queries)
      GROUP BY e.vec_id, e.embedding, e.label
    ),
    scored AS (
      SELECT q.query_id, a.vec_id,
             {sql_dot('a.embedding', 'q.qv')} AS score
      FROM assign a, probe p, queries q
      WHERE a.cluster_id = p.cid
        AND p.query_id = q.query_id
        AND a.label = q.qlabel
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, round(score, 6) AS score
    FROM ranked WHERE rn <= 5
    """,
)
def q_ann_filtered_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-QUERY filtered batch search — the multi-tenant serving
    shape (every request carries its own payload filter, Qdrant
    ``search_batch`` with per-request ``query_filter``): query ``i``
    filters ``label = (i·3) % 10`` and probes its OWN escalated cell
    set ``min(nlist, ceil(NPROBE·n/m_label))`` from the per-label
    histogram (ONE ≤-n_labels-row driver aggregate — the payload-index
    cardinality read, amortized across the whole batch).

    Plan: scan filtered to the batch's label union (PushedFilter In) →
    narrow assignment kernel pruned in-kernel to the union of all
    probe sets → broadcast-hash join against the (query_id, cell,
    label, qv) probe frame on ``cell AND label`` → per-query window
    rank.  The corpus never shuffles; the single exchange carries only
    per-query label-and-cell-matched candidates — ≈ NPROBE·n/nlist per
    query by the escalation construction, filter-independent.  The
    oracle replays per-query escalation, probe tie-breaks, filtered
    assignment, and ranking — the whole approximation is
    hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    # job 1: per-label histogram (n_labels rows; total = sum)
    m_by_label = {
        int(r["label"]): int(r["count"])
        for r in emb.groupBy("label").count().collect()
    }
    n = sum(m_by_label.values())
    mod = ivf_mod_for(n)
    # job 2: centroids + the batch's query vectors (metadata-scale)
    meta = emb.filter(
        (F.col("vec_id") % mod == 0)
        | (F.col("vec_id").between(1, FILTER_BATCH_QUERIES))
    ).select("vec_id", "embedding").collect()
    cids = [int(r[0]) for r in meta if int(r[0]) % mod == 0]
    cmat = [list(map(float, r[1])) for r in meta if int(r[0]) % mod == 0]
    probe_rows = []
    union_probe = set()
    for r in meta:
        qid = int(r[0])
        if not (1 <= qid <= FILTER_BATCH_QUERIES):
            continue
        qv = [float(x) for x in r[1]]
        qlabel = (qid * 3) % 10
        cells = escalated_probe(
            qv, cids, cmat, n, m_by_label.get(qlabel, 0)
        )
        union_probe.update(cells)
        probe_rows.extend((qid, c, qlabel, qv) for c in cells)
    probe_df = spark.createDataFrame(
        probe_rows,
        "query_id long, cid long, qlabel int, qv array<double>",
    )
    labels = sorted({(q * 3) % 10 for q in range(1, FILTER_BATCH_QUERIES + 1)})
    cand = (
        emb.filter(F.col("label").isin(labels))
        .mapInPandas(
            make_ivf_assign(
                cids, cmat, probe=union_probe, extra_cols=("label",)
            ),
            schema=IVF_ASSIGN_SCHEMA + ", label int",
        )
    )
    joined = cand.join(
        F.broadcast(probe_df),
        (cand["cluster_id"] == probe_df["cid"])
        & (cand["label"] == probe_df["qlabel"]),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("vec_id").asc()
    )
    return (
        joined.withColumn("score", dot("embedding", "qv"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id", F.round("score", 6).alias("score"))
    )


FILTERED_RECALL_FLOOR = 12  # of 20 slots (4 queries x top-5)


def _filtered_recall_oracle() -> str:
    from legalchatbot_vectordb_exp_spark.registry import ORACLES

    return f"""
    WITH ivf5 AS (
      SELECT query_id, vec_id FROM ({ORACLES["ann_filtered_batch"]})
    ),
    queries AS (
      SELECT vec_id AS query_id, embedding AS qv,
             (vec_id * 3) % 10 AS qlabel
      FROM embeddings
      WHERE vec_id BETWEEN 1 AND {FILTER_BATCH_QUERIES}
    ),
    exact5 AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sql_dot('e.embedding', 'q.qv')} DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e JOIN queries q ON e.label = q.qlabel)
      WHERE rn <= 5
    )
    SELECT (SELECT count(*) FROM queries)::BIGINT AS n_queries,
           count(*)::BIGINT AS total_hits,
           count(*) >= {FILTERED_RECALL_FLOOR} AS filtered_recall_ok
    FROM ivf5 JOIN exact5 USING (query_id, vec_id)
    """


@register("ann_filtered_recall_guard", sql=_filtered_recall_oracle())
def q_ann_filtered_recall_guard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximation-quality contract for FILTERED search (the
    ``ann_ivf_recall_guard`` pattern): the escalated per-query-filtered
    batch must recover ≥ {12} of the 20 exact filtered-top-5 slots.
    The escalation-replay oracles prove the plans compute what they
    claim; THIS guard proves what they claim is GOOD — escalating
    nprobe by 1/selectivity genuinely compensates for the filter
    (measured 20/20 at sf0.001/0.01 where the escalation caps at all
    cells, 16/20 at sf0.1 probing 20 of 32 cells; a broken escalation
    stuck at NPROBE=2 cells would land near 2-4).  Both sides and the
    hit count are integer-derived, so the single row hash-matches."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    ivf5 = q_ann_filtered_batch(spark, sf_dir).select("query_id", "vec_id")
    qdf = emb.filter(
        F.col("vec_id").between(1, FILTER_BATCH_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        ((F.col("vec_id") * 3) % 10).alias("qlabel"),
    )
    joined = emb.join(F.broadcast(qdf), emb["label"] == qdf["qlabel"])
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("vec_id").asc()
    )
    exact5 = (
        joined.withColumn("score", dot("embedding", "qv"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id")
    )
    n_q = FILTER_BATCH_QUERIES
    return ivf5.join(exact5, ["query_id", "vec_id"]).agg(
        F.lit(n_q).cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).alias("total_hits"),
        (F.count(F.lit(1)) >= FILTERED_RECALL_FLOOR).alias(
            "filtered_recall_ok"
        ),
    )


# ------------------- multivector MaxSim (late interaction) -------------------

MAXSIM_SUBVECS = 4  # token vectors per point: 4 x 16-dim slices
MAXSIM_SUBDIM = DIM // MAXSIM_SUBVECS


def _maxsim_sql() -> str:
    """score = Σ_i max_j dot(q_i, d_j) with the SAME shape Spark
    builds: per query-subvector a greatest() over its 4 doc-subvector
    dots, the 4 greatest values summed LEFT-TO-RIGHT."""
    def sub(col, i):
        lo = i * MAXSIM_SUBDIM + 1
        return f"{col}[{lo}:{lo + MAXSIM_SUBDIM - 1}]"

    per_q = [
        "greatest("
        + ", ".join(
            sql_dot(sub("q.qv", i), sub("e.embedding", j))
            for j in range(MAXSIM_SUBVECS)
        )
        + ")"
        for i in range(MAXSIM_SUBVECS)
    ]
    score = "(" + " + ".join(per_q) + ")"
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
    SELECT e.vec_id, round({score}, 6) AS score
    FROM embeddings e, q
    ORDER BY {score} DESC, e.vec_id ASC
    LIMIT 5
    """


@register("ann_maxsim", sql=_maxsim_sql())
def q_ann_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIVECTOR MaxSim — late-interaction scoring (ColBERT; the
    Qdrant 1.10 multivector comparator): a point is a BAG of token
    vectors and ``score = Σ_i max_j (q_i · d_j)`` — each query token
    matches its best document token, so fine-grained term interactions
    survive where a single pooled vector averages them away.  Token
    vectors here are the {4} 16-dim slices of the stored embedding
    (the testdata ships pooled vectors; a real pipeline stores its
    token matrix as ``array<array<float>>`` — the scoring plan is
    identical).  Spark-first: all {16} slice-pair dots, the per-query-
    token ``greatest``, and the final sum are scan-stage expressions —
    scan → expressions → TakeOrderedAndProject, zero shuffles, zero
    Python; at 100 TB MaxSim costs exactly one more expression tree
    than dot-product search.  The left-to-right sum and per-token
    greatest mirror the oracle's fold shape, so scores hash-match."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]
    ]

    def dsub(j):
        return F.slice("embedding", j * MAXSIM_SUBDIM + 1, MAXSIM_SUBDIM)

    def qsub(i):
        return F.array(
            *[
                F.lit(x)
                for x in qvec[
                    i * MAXSIM_SUBDIM : (i + 1) * MAXSIM_SUBDIM
                ]
            ]
        )

    per_q = [
        F.greatest(
            *[dot(dsub(j), qsub(i)) for j in range(MAXSIM_SUBVECS)]
        )
        for i in range(MAXSIM_SUBVECS)
    ]
    score = per_q[0]
    for g in per_q[1:]:
        score = score + g
    return (
        emb.withColumn("score", score)
        .orderBy(F.desc("score"), F.col("vec_id").asc())
        .limit(5)
        .select("vec_id", F.round("score", 6).alias("score"))
    )


# ------------------------------------------------- HNSW layer hierarchy

# The E13 graph search above is HNSW's LAYER-0 walk seeded by IVF
# centroids.  This family adds the hierarchy itself — the structure
# the reference's index actually uses (Qdrant builds HNSW server-side
# for every collection, `Qdrant/main.py:58-62` via server defaults):
# geometric layer assignment, per-layer edge lists derived from the
# same NN-descent build, and a search that greedily descends the
# layers to find the layer-0 entry instead of probing centroids.
#
# Determinism: the layer of a node is md5-derived (p = 1/4 per level,
# levels 0..HNSW_LEVEL_CAP keyed on h % 4^l — the classic HNSW
# ml = 1/ln(M) geometric assignment with the RNG replaced by a hash
# both engines compute identically; every threshold derives from the
# one cap constant),
# the entry point is the (level DESC, vec_id ASC) ranked first node,
# and every walk has FIXED hop counts, so the DuckDB oracle replays
# the exact build + descent + beam bit-for-bit.
#
# Round-18 retune (measured, SCALE.md §17d): entering at a DENSER top
# layer dominates every other knob on this corpus — cap 2 (~n/16
# scanned exactly, the centroid-probe analogue) with a deeper descent
# (3 hops, ef 16) lifts recall 16/20/16 → 31/32/18 of 45 vs the
# IVF-seeded walk's 30/29/21 at equal layer-0 budget; edge-diversity
# (select-neighbors) heuristics moved NOTHING on i.i.d.-random
# vectors (20 → 20 at sf0.01), so they were not adopted.

HNSW_LEVEL_CAP = 2  # layers 0..2 (p=1/4 geometric, hash-derived)
HNSW_UPPER_HOPS = 3  # hops in each descended layer
HNSW_DESCENT_BEAM = 16  # ef in the upper layers (layer-0 beam stays 8)


def _hnsw_level_expr():
    """level(v) from the first 8 md5 hex digits of the DECIMAL vec_id:
    the highest l ≤ HNSW_LEVEL_CAP with h % 4^l == 0 (geometric
    p = 1/4).  Both this and the SQL twin below DERIVE every
    threshold from HNSW_LEVEL_CAP — topset, the per-layer edge
    builds, and the descent loops all key off the same constant, so
    retuning the cap can never desync the assignment from the walk
    (the contract the oracle replays verbatim)."""
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    expr = F.when(
        h % (4 ** HNSW_LEVEL_CAP) == 0, F.lit(HNSW_LEVEL_CAP)
    )
    for lvl in range(HNSW_LEVEL_CAP - 1, 0, -1):
        expr = expr.when(h % (4 ** lvl) == 0, F.lit(lvl))
    return expr.otherwise(F.lit(0))


_HNSW_LEVELS_SQL = (
    """levels AS (
      SELECT vec_id,
             CASE """
    + " ".join(
        f"WHEN h % {4 ** lvl} = 0 THEN {lvl}"
        for lvl in range(HNSW_LEVEL_CAP, 0, -1)
    )
    + """
                  ELSE 0 END AS level
      FROM (SELECT vec_id,
                   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS h
            FROM embeddings)
    )"""
)


def _hnsw_sql(final_select: str) -> str:
    """Graph-build CTEs (shared with ann_knn_graph) + layer CTEs +
    the descent + layer-0 beam, all as fixed-depth SQL."""
    b, topk = KNN_SEARCH_BEAM, KNN_SEARCH_TOPK
    g = f"g{KNN_ITERS}"
    ctes = list(_knn_graph_ctes())
    ctes.append(_HNSW_LEVELS_SQL)
    # Per-layer edge lists: NOT the bare restriction of the layer-0
    # graph (a node keeps only ~1/4^l of its k edges inside layer l —
    # too sparse to navigate, measured 12/45 recall), but the layer's
    # own kNN: candidates = direct edges ∪ 2-hop closure THROUGH
    # ANY-LEVEL mids, endpoints in the layer, then top-k per src by
    # exact score — one NN-descent-round's cost (n·k² candidate
    # bound), which is how HNSW's upper layers actually behave
    # (long-range shortcuts over the layer's nodes).
    for lvl in range(1, HNSW_LEVEL_CAP):
        ctes.append(
            f"""lpairs{lvl} AS (
      SELECT DISTINCT u.src, u.dst FROM (
        SELECT src, dst FROM {g}
        UNION ALL
        SELECT x.src, y.dst FROM {g} x JOIN {g} y ON x.dst = y.src) u
      JOIN levels ls ON ls.vec_id = u.src
      JOIN levels ld ON ld.vec_id = u.dst
      WHERE ls.level >= {lvl} AND ld.level >= {lvl}
        AND u.src != u.dst
    )"""
        )
        ctes.append(
            f"edges{lvl} AS MATERIALIZED "
            + _knn_sql_scored_topk(f"lpairs{lvl}", KNN_K)
        )
    ctes.append(
        f"""hqueries AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id <= {N_BATCH_QUERIES}
    )"""
    )
    # the entry layer (level {HNSW_LEVEL_CAP}, ~n/4^{cap} nodes —
    # comparable to the IVF centroid count) is scanned exactly, the
    # same pattern the E13 walk uses for its centroid seeding; the
    # global (level DESC, vec_id ASC) entry node is unioned in so the
    # set is never empty at tiny corpora
    ctes.append(
        f"""topset AS (
      SELECT vec_id FROM levels WHERE level >= {HNSW_LEVEL_CAP}
      UNION
      SELECT vec_id FROM (
        SELECT vec_id FROM levels
        ORDER BY level DESC, vec_id ASC LIMIT 1)
    )"""
    )
    prev = "hd_seed"
    ctes.append(
        f"""hd_seed AS MATERIALIZED (
      SELECT query_id, node, score FROM (
        SELECT q.query_id, t.vec_id AS node,
               {sql_dot('e.embedding', 'q.qv')} AS score,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {sql_dot('e.embedding', 'q.qv')} DESC,
                                           t.vec_id ASC) AS rn
        FROM hqueries q
        CROSS JOIN topset t
        JOIN embeddings e ON e.vec_id = t.vec_id)
      WHERE rn <= {HNSW_DESCENT_BEAM}
    )"""
    )
    # descent: HNSW_UPPER_HOPS beam-{HNSW_DESCENT_BEAM} hops per
    # layer, top down (ef > 1 in the upper layers)
    for lvl in range(HNSW_LEVEL_CAP - 1, 0, -1):
        for h in range(1, HNSW_UPPER_HOPS + 1):
            cur = f"hd{lvl}_{h}"
            ctes.append(
                f"""{cur} AS MATERIALIZED (
      SELECT query_id, node, score FROM (
        SELECT sc.query_id, sc.node, sc.score,
               row_number() OVER (PARTITION BY sc.query_id
                                  ORDER BY sc.score DESC,
                                           sc.node ASC) AS rn
        FROM (
          SELECT c.query_id, c.node,
                 {sql_dot('e.embedding', 's.qv')} AS score
          FROM (
            SELECT DISTINCT query_id, node FROM (
              SELECT query_id, node FROM {prev}
              UNION ALL
              SELECT p.query_id, ed.dst AS node
              FROM {prev} p JOIN edges{lvl} ed ON ed.src = p.node) u
          ) c
          JOIN embeddings e ON e.vec_id = c.node
          JOIN hqueries s ON s.query_id = c.query_id) sc)
      WHERE rn <= {HNSW_DESCENT_BEAM}
    )"""
            )
            prev = cur
    # layer 0: the full beam walk (same shape as ann_graph_search),
    # seeded by the descended entry instead of IVF centroids
    ctes.append(
        f"""hbeam0 AS MATERIALIZED (
      SELECT query_id, node, score FROM {prev}
    )"""
    )
    for t in range(1, KNN_SEARCH_HOPS + 1):
        ctes.append(
            f"""hbeam{t} AS MATERIALIZED (
      SELECT query_id, node, score FROM (
        SELECT sc.query_id, sc.node, sc.score,
               row_number() OVER (PARTITION BY sc.query_id
                                  ORDER BY sc.score DESC,
                                           sc.node ASC) AS rn
        FROM (
          SELECT c.query_id, c.node,
                 {sql_dot('e.embedding', 's.qv')} AS score
          FROM (
            SELECT DISTINCT query_id, node FROM (
              SELECT query_id, node FROM hbeam{t - 1}
              UNION ALL
              SELECT p.query_id, ed.dst AS node
              FROM hbeam{t - 1} p JOIN {g} ed ON ed.src = p.node) u
          ) c
          JOIN embeddings e ON e.vec_id = c.node
          JOIN hqueries s ON s.query_id = c.query_id) sc)
      WHERE rn <= {b}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + final_select.format(beam=f"hbeam{KNN_SEARCH_HOPS}", topk=topk)
    )


def _hnsw_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HNSW walk, Spark side: layer assignment → greedy descent
    over per-layer edge subsets → layer-0 beam walk.  Scale shape per
    upper hop: the (queries × 1) beam BROADCASTS against the layer's
    edge list (a ~(p^l)-fraction subset of the graph — level ≥ 1 is
    ~1/4 of nodes, so edges1 is ~1/16 of edges); embedding rescore is
    an equi-join (bucketed at 100 TB).  Beam volume stays queries ×
    B × k per hop, corpus-independent — identical to the E13 walk,
    the hierarchy only swaps the seeding."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    graph = knn_graph_build(spark, sf_dir).select("src", "dst")
    levels = emb.select("vec_id", _hnsw_level_expr().alias("level"))
    qdf = emb.filter(F.col("vec_id") <= N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
    )
    # entry layer: the level-{cap} node set (~n/4^cap — centroid-count
    # scale) scanned exactly, unioned with the global (level DESC,
    # vec_id ASC) entry node so it is never empty at tiny corpora
    entry = levels.orderBy(
        F.desc("level"), F.col("vec_id").asc()
    ).limit(1).collect()[0]["vec_id"]
    topset = (
        levels.filter(F.col("level") >= HNSW_LEVEL_CAP)
        .select("vec_id")
        .union(
            levels.sparkSession.createDataFrame(
                [(int(entry),)], "vec_id long"
            )
        )
        .distinct()
    )
    nodes = emb.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("nv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("node").asc()
    )
    beam = (
        qdf.join(
            F.broadcast(
                nodes.join(
                    topset.select(F.col("vec_id").alias("node")), "node"
                )
            )
        )
        .withColumn("score", dot("nv", "qv"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HNSW_DESCENT_BEAM)
        .select("query_id", "node", "score")
    )

    def hop(beam, edges, width):
        expanded = _dedup_on(
            beam.select("query_id", "node").union(
                F.broadcast(beam.alias("p"))
                .join(edges.alias("ed"), F.col("ed.src") == F.col("p.node"))
                .select(
                    F.col("p.query_id").alias("query_id"),
                    F.col("ed.dst").alias("node"),
                )
            ),
            "query_id",
            ["query_id", "node"],
        )
        return (
            expanded.join(F.broadcast(nodes), "node")
            .join(F.broadcast(qdf), "query_id")
            .withColumn("score", dot("nv", "qv"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= width)
            .select("query_id", "node", "score")
        )

    for lvl in range(HNSW_LEVEL_CAP - 1, 0, -1):
        # the layer's own kNN edges: direct ∪ 2-hop-through-any-mid
        # candidates with both endpoints in the layer, top-k per src
        # by exact score — n·k² bounded, one NN-descent round's shape.
        # Deterministic function of (graph, levels) => cached AT REST
        # next to the base graph, so repeat processes read n_l·k rows
        # of parquet instead of re-running the layer build.  (The
        # localCheckpoint inside _cached_edges also cuts lineage: the
        # edge list feeds every hop of the layer and the beam feeds 3
        # references per hop — without the cut the nested plan grows
        # exponentially across the 9 hops, the knn_graph_build lesson.)
        def _build_layer(lvl=lvl):
            lv = levels.filter(F.col("level") >= lvl)
            two_hop = (
                graph.alias("x")
                .join(graph.alias("y"), F.col("x.dst") == F.col("y.src"))
                .select(
                    F.col("x.src").alias("src"),
                    F.col("y.dst").alias("dst"),
                )
            )
            lpairs = (
                graph.select("src", "dst")
                .union(two_hop)
                .join(lv.select(F.col("vec_id").alias("src")), "src")
                .join(lv.select(F.col("vec_id").alias("dst")), "dst")
                .filter(F.col("src") != F.col("dst"))
                .transform(lambda d: _dedup_on(d, "src", ["src", "dst"]))
            )
            return _knn_scored_topk(lpairs, emb).select("src", "dst")

        edges_l = _cached_edges(
            spark,
            sf_dir,
            f"hnsw_l{lvl}",
            {
                "emb": _emb_signature(sf_dir),
                "k": KNN_K,
                "iters": KNN_ITERS,
                "cap": HNSW_LEVEL_CAP,
                "lvl": lvl,
                # _hnsw_beam's source covers the layer-build closure;
                # the base-graph builders cover the edges it closes
                # over
                "src": _build_source_sig(
                    _knn_graph_build_uncached,
                    _knn_scored_topk,
                    make_ivf_assign,
                    ivf_mod_for,
                    _hnsw_level_expr,
                    _hnsw_beam,
                ),
                "v": _GRAPH_CACHE_VERSION,
            },
            _build_layer,
        )
        for _ in range(HNSW_UPPER_HOPS):
            beam = hop(beam, edges_l, HNSW_DESCENT_BEAM).localCheckpoint()
    for _ in range(KNN_SEARCH_HOPS):
        beam = hop(beam, graph, KNN_SEARCH_BEAM).localCheckpoint()
    return beam


@register(
    "ann_hnsw_search",
    sql=_hnsw_sql(
        """
    SELECT query_id, node AS vec_id, round(score, 6) AS score FROM (
      SELECT query_id, node, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, node ASC) AS rn
      FROM {beam})
    WHERE rn <= {topk}"""
    ),
)
def q_ann_hnsw_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{KNN_SEARCH_TOPK} per query via the FULL HNSW structure:
    hash-geometric layer assignment, greedy descent through the upper
    layers' edge subsets from the global entry point, then the
    layer-0 beam walk — the complete analogue of the reference's
    Qdrant index (`Qdrant/main.py:58-62`), hash-matched against a
    DuckDB oracle replaying the identical build + descent + walk.  The
    walk is staged per process: ann_hnsw_recall re-walks via this query
    and bench repeats it — one walk serves all."""
    beam = stage(
        spark, sf_dir, "hnsw_beam", lambda: _hnsw_beam(spark, sf_dir)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("node").asc()
    )
    return (
        beam.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_SEARCH_TOPK)
        .select(
            "query_id",
            F.col("node").alias("vec_id"),
            F.round("score", 6).alias("score"),
        )
    )


# equal beam budget to ann_graph_search (B=8, 3 layer-0 hops) — the
# hierarchy must be at least as good a seeder as the IVF centroids
HNSW_RECALL_FLOOR = GRAPH_SEARCH_RECALL_FLOOR


@register(
    "ann_hnsw_recall",
    sql=_hnsw_sql(
        f"""
    , hs5 AS (
      SELECT query_id, node AS vec_id FROM (
        SELECT query_id, node,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, node ASC) AS rn
        FROM {{beam}})
      WHERE rn <= {{topk}}
    ),
    hexact5 AS (
      SELECT query_id, vec_id FROM (
        SELECT s.query_id, e.vec_id,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY {sql_dot('e.embedding', 's.qv')} DESC,
                                           e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN hqueries s)
      WHERE rn <= {{topk}}
    )
    SELECT (SELECT count(*) FROM hqueries)::BIGINT AS n_queries,
           count(*)::BIGINT AS total_hits,
           count(*) >= {HNSW_RECALL_FLOOR} AS hnsw_recall_ok
    FROM hs5 JOIN hexact5 USING (query_id, vec_id)"""
    ),
)
def q_ann_hnsw_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality contract for the HNSW walk at EQUAL beam
    budget to ``ann_graph_search`` (B={8}, {3} layer-0 hops): top-5 of
    the 9-query batch must recover at least {HNSW_RECALL_FLOOR} of the
    45 exact top-5 slots — the hierarchy's descent must seed the
    layer-0 walk at least as well as the IVF-centroid probe does.
    Integer-derived single row — hash-matches."""
    from legalchatbot_vectordb_exp_spark.operators.topk import (
        topk_search_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    hs5 = q_ann_hnsw_search(spark, sf_dir).select("query_id", "vec_id")
    qdf = emb.filter(F.col("vec_id") <= N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact5 = topk_search_batch(emb, qdf, k=KNN_SEARCH_TOPK).select(
        "query_id", "vec_id"
    )
    n_q = qdf.count()
    return hs5.join(exact5, ["query_id", "vec_id"]).agg(
        F.lit(n_q).cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).alias("total_hits"),
        (
            F.count(F.lit(1)) >= HNSW_RECALL_FLOOR
        ).alias("hnsw_recall_ok"),
    )


# ------------------------------ discovery search + facet counts

# discover: a target example steered by (positive, negative) context
# pairs — ranked lexicographically by (pairs satisfied DESC, target
# similarity DESC, vec_id ASC); a pair is satisfied when
# sim(v, pos) > sim(v, neg).  Stated as this engine's own contract
# (the SHAPE of Qdrant's discover API, not a claim of parity with the
# server's internal context-loss formula).
DISC_TARGET = 2
DISC_PAIRS = ((1, 4), (9, 6))


@register(
    "ann_discover",
    sql=f"""
    WITH ex AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id IN {tuple({DISC_TARGET, *[x for p in DISC_PAIRS for x in p]})}
    ),
    scored AS (
      SELECT e.vec_id,
             {" + ".join(
                 f"(CASE WHEN (SELECT {sql_dot('e.embedding', 'p.embedding')} FROM ex p WHERE p.vec_id = {pos})"
                 f" > (SELECT {sql_dot('e.embedding', 'g.embedding')} FROM ex g WHERE g.vec_id = {neg})"
                 f" THEN 1 ELSE 0 END)"
                 for pos, neg in DISC_PAIRS
             )} AS pairs_ok,
             (SELECT {sql_dot('e.embedding', 't.embedding')} FROM ex t
              WHERE t.vec_id = {DISC_TARGET}) AS tsim
      FROM embeddings e
      WHERE e.vec_id NOT IN {tuple({DISC_TARGET, *[x for p in DISC_PAIRS for x in p]})}
    )
    SELECT vec_id, CAST(pairs_ok AS INT) AS pairs_ok,
           round(tsim, 6) AS target_sim
    FROM scored
    ORDER BY pairs_ok DESC, tsim DESC, vec_id ASC
    LIMIT 5
    """,
)
def q_ann_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery-style search (the shape of Qdrant's ``discover``):
    target example {2}, context pairs {(1,4), (9,6)} — candidates
    ranked by (context pairs satisfied, target similarity, id).  The
    example vectors are one metadata-scale driver lookup; each pair
    check and the target similarity are scan-stage dot-literal
    expressions, so the plan is scan → expressions →
    TakeOrderedAndProject: zero shuffles at any example count, the
    recommend plan shape with an integer lexicographic head.  Mirrors
    ``VectorCollection.discover``."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    ex_ids = sorted({DISC_TARGET, *[x for p in DISC_PAIRS for x in p]})
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(ex_ids)).collect()
    }

    def lit_dot(eid):
        return dot("embedding", vector_lit(vecs[eid]))

    pairs_ok = None
    for pos, neg in DISC_PAIRS:
        sat = (lit_dot(pos) > lit_dot(neg)).cast("int")
        pairs_ok = sat if pairs_ok is None else pairs_ok + sat
    return (
        emb.filter(~F.col("vec_id").isin(ex_ids))
        .withColumn("pairs_ok", pairs_ok)
        .withColumn("tsim", lit_dot(DISC_TARGET))
        .orderBy(
            F.desc("pairs_ok"), F.desc("tsim"), F.col("vec_id").asc()
        )
        .limit(5)
        .select(
            "vec_id",
            F.col("pairs_ok").cast("int").alias("pairs_ok"),
            F.round("tsim", 6).alias("target_sim"),
        )
    )


@register(
    "collection_facet",
    sql=f"""
    SELECT label AS value, count(*) AS count
    FROM embeddings
    WHERE vec_id % 2 = 0
    GROUP BY label
    ORDER BY count DESC, value ASC
    LIMIT 5
    """,
)
def q_collection_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant ``facet``: exact value counts of one payload field under
    a pre-filter, most-frequent first.  One partially-aggregated
    groupBy whose shuffle carries distinct facet values; the scan
    reads only the facet + filter columns.  Mirrors
    ``VectorCollection.facet``."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    return (
        emb.filter(F.col("vec_id") % 2 == 0)
        .groupBy(F.col("label").alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.col("value").asc())
        .limit(5)
    )


# --------------------------- incremental k-NN graph maintenance

# E13's maintenance half (the graph-family analogue of
# ``ann_ivf_incremental``): the base graph is the FULL-corpus
# NN-descent build — the SAME staged build ann_graph_search / the
# HNSW family walk (r17 item 3: the previous held-out-batch design
# rebuilt a 96%-of-corpus second graph per process, the largest
# fixture cost in the bench) — and the insert batch is a set of
# DERIVED points: midpoints of adjacent sampled corpus vectors, i.e.
# arriving vectors that did not exist at build time.  Each new node
# finds its neighbors by a beam search over the base graph (HNSW's
# actual insert algorithm), and only the base nodes a new edge LANDS
# ON re-rank their lists.  Everything is deterministic and
# fixed-depth, so a DuckDB oracle replays build + insert bit-for-bit.
#
# Batch semantics (documented contract): all new nodes insert against
# the BASE graph (batch-parallel — new↔new edges are not created; a
# real pipeline would fold the next NN-descent round over the merged
# graph, which q_ann_knn_graph already covers).

INCR_G_MOD = 29  # midpoint(v, v+1) for v % 29 == 7 is the insert batch
INCR_G_REM = 7
# New ids = sampled vec_id + offset.  The offset must dominate every
# real vec_id or derived ids collide with corpus ids and the
# `src >= offset` classification silently misattributes edges: 1<<30
# (the old value) is only ~1.07e9 — BELOW the >1B-vector corpora the
# scale docs claim.  1<<62 leaves 4.6e18 of id headroom while
# vec_id + offset still fits in int64 on both engines.
INCR_G_ID_OFFSET = 1 << 62
INCR_G_RECALL_FLOOR = 8  # of the (batch x KNN_GUARD_TOPK) exact slots

# the derived insert vector: element-wise midpoint of two adjacent
# corpus vectors, widened to double BEFORE the average on both engines
# (float32 halves would not replay)
_INCR_NEWQ_SQL = f"""newq AS MATERIALIZED (
      SELECT a.vec_id + {INCR_G_ID_OFFSET} AS query_id,
             list_transform(
               list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
               x -> (x[1] + x[2]) / 2.0) AS qv
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % {INCR_G_MOD} = {INCR_G_REM}
    )"""


def _knn_incr_ctes() -> list[str]:
    """FULL-graph CTEs (byte-identical to the shared build) + the
    insert CTEs, ending in ``finalg`` = the post-insert edge list."""
    b, hops, k = KNN_SEARCH_BEAM, KNN_SEARCH_HOPS, KNN_K
    g = f"g{KNN_ITERS}"
    ctes = _knn_graph_ctes()
    ctes.append(_INCR_NEWQ_SQL)
    # corpus ∪ new points: the re-rank scores reverse edges whose dst
    # is a NEW id, so the lookup relation must carry both
    ctes.append(
        """allemb AS (
      SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
      UNION ALL
      SELECT query_id AS vec_id, qv AS embedding FROM newq
    )"""
    )
    ctes.append(
        f"""nbeam0 AS MATERIALIZED (
      SELECT query_id, node, score FROM (
        SELECT s.query_id, c.cid AS node,
               {sql_dot('c.cv', 's.qv')} AS score,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY {sql_dot('c.cv', 's.qv')} DESC,
                                           c.cid ASC) AS rn
        FROM newq s CROSS JOIN centroids c)
      WHERE rn <= {b}
    )"""
    )
    for t in range(1, hops + 1):
        ctes.append(
            f"""nbeam{t} AS MATERIALIZED (
      SELECT query_id, node, score FROM (
        SELECT sc.query_id, sc.node, sc.score,
               row_number() OVER (PARTITION BY sc.query_id
                                  ORDER BY sc.score DESC,
                                           sc.node ASC) AS rn
        FROM (
          SELECT c.query_id, c.node,
                 {sql_dot('e.embedding', 's.qv')} AS score
          FROM (
            SELECT DISTINCT query_id, node FROM (
              SELECT query_id, node FROM nbeam{t - 1}
              UNION ALL
              SELECT p.query_id, ed.dst AS node
              FROM nbeam{t - 1} p JOIN {g} ed ON ed.src = p.node) u
          ) c
          JOIN embeddings e ON e.vec_id = c.node
          JOIN newq s ON s.query_id = c.query_id) sc)
      WHERE rn <= {b}
    )"""
        )
    ctes.append(
        f"""ncand AS (
      SELECT DISTINCT query_id, node FROM (
        SELECT query_id, node FROM nbeam{hops}
        UNION ALL
        SELECT p.query_id, ed.dst AS node
        FROM nbeam{hops} p JOIN {g} ed ON ed.src = p.node) u
    )"""
    )
    ctes.append(
        f"""new_edges AS MATERIALIZED (
      SELECT query_id AS src, node AS dst, score FROM (
        SELECT c.query_id, c.node,
               {sql_dot('e.embedding', 'q.qv')} AS score,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {sql_dot('e.embedding', 'q.qv')} DESC,
                                           c.node ASC) AS rn
        FROM ncand c
        JOIN embeddings e ON e.vec_id = c.node
        JOIN newq q ON q.query_id = c.query_id)
      WHERE rn <= {k}
    )"""
    )
    ctes.append(
        f"""upd_pairs AS (
      SELECT src, dst FROM {g}
      UNION ALL
      SELECT dst AS src, src AS dst FROM new_edges
    )"""
    )
    ctes.append(
        "updated AS MATERIALIZED "
        + _knn_sql_scored_topk("upd_pairs", k, emb_rel="allemb")
    )
    ctes.append(
        """finalg AS (
      SELECT src, dst, score FROM updated
      UNION ALL
      SELECT src, dst, score FROM new_edges
    )"""
    )
    return ctes


def _knn_incr_sql(final_select: str) -> str:
    return (
        "WITH "
        + ",\n    ".join(_knn_incr_ctes())
        + "\n    "
        + final_select
    )


def incr_new_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived insert batch: (query_id, qv) midpoints of adjacent
    sampled corpus vectors — Spark twin of ``_INCR_NEWQ_SQL``.

    Both join sides are pre-filtered to their residue class (a ≡ 7,
    so its successor b ≡ 8 mod 29) and the successor side broadcasts:
    the naive self-join shuffled the FULL corpus twice and showed up
    as a 12x insert-bytes jump at the 30x stress tier — the batch
    derivation must cost O(batch), like everything else on the insert
    path."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    a = emb.filter(F.col("vec_id") % INCR_G_MOD == INCR_G_REM)
    b = emb.filter(
        F.col("vec_id") % INCR_G_MOD == (INCR_G_REM + 1) % INCR_G_MOD
    )
    return (
        a.alias("a")
        .join(
            F.broadcast(b.alias("b")),
            F.col("b.vec_id") == F.col("a.vec_id") + 1,
        )
        .select(
            (F.col("a.vec_id") + INCR_G_ID_OFFSET).alias("query_id"),
            F.zip_with(
                "a.embedding",
                "b.embedding",
                lambda x, y: (x.cast("double") + y.cast("double"))
                / 2.0,
            ).alias("qv"),
        )
    )


def knn_graph_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final merged graph, staged per process (its base graph is
    the shared ``knn_graph_build`` stage — no second build)."""
    return stage(
        spark,
        sf_dir,
        "knn_graph_incremental",
        lambda: _knn_graph_insert(spark, sf_dir),
    )


def _knn_graph_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-insert graph, Spark side.  Incremental cost profile:
    the base graph is the one staged full-corpus build every graph
    consumer shares (zero marginal cost here); the batch's beam
    searches are (batch × B × k)-bounded; the re-rank touches ONLY
    base nodes a new edge lands on (≤ batch·k, via one semi-join — on
    the persisted layout this is a pruned read); every other base
    node's edge list is CARRIED untouched.  Hash-equality with the
    oracle's global re-rank holds because re-top-k of an unaffected
    node's existing k edges is the identity (same scores, same
    tie-breaks)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    base = knn_graph_build(spark, sf_dir).select("src", "dst", "score")
    newq = incr_new_points(spark, sf_dir)
    mod = ivf_mod_for(emb.count())
    cents = emb.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("nv")
    )
    nodes = emb.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("nv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("node").asc()
    )
    beam = (
        newq.join(F.broadcast(cents))
        .withColumn("score", dot("nv", "qv"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_SEARCH_BEAM)
        .select("query_id", "node", "score")
    )
    graph_sd = base.select("src", "dst")

    def expand(frame):
        return _dedup_on(
            frame.select("query_id", "node").union(
                F.broadcast(frame.alias("p"))
                .join(
                    graph_sd.alias("ed"), F.col("ed.src") == F.col("p.node")
                )
                .select(
                    F.col("p.query_id").alias("query_id"),
                    F.col("ed.dst").alias("node"),
                )
            ),
            "query_id",
            ["query_id", "node"],
        )

    for _ in range(KNN_SEARCH_HOPS):
        beam = (
            expand(beam)
            .join(F.broadcast(nodes), "node")
            .join(F.broadcast(newq), "query_id")
            .withColumn("score", dot("nv", "qv"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= KNN_SEARCH_BEAM)
            .select("query_id", "node", "score")
            .localCheckpoint()
        )
    ncand = expand(beam)
    new_edges = (
        ncand.join(F.broadcast(nodes), "node")
        .join(F.broadcast(newq), "query_id")
        .withColumn("score", dot("nv", "qv"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
        .select(
            F.col("query_id").alias("src"),
            F.col("node").alias("dst"),
            "score",
        )
        .localCheckpoint()
    )
    rev = new_edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    affected = rev.select("src").distinct()
    affected_pairs = (
        base.join(affected, "src", "semi").select("src", "dst").union(rev)
    )
    # corpus ∪ new points: reverse edges' dst is a NEW id, so the
    # re-rank's vector lookup must carry both (twin of the allemb CTE)
    allemb = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).union(
        newq.select(
            F.col("query_id").alias("vec_id"),
            F.col("qv").alias("embedding"),
        )
    )
    updated_affected = _knn_scored_topk(affected_pairs, allemb)
    untouched = base.join(affected, "src", "anti")
    return (
        untouched.select("src", "dst", "score")
        .union(updated_affected)
        .union(new_edges)
        .localCheckpoint()
    )


@register(
    "ann_knn_graph_incremental",
    sql=_knn_incr_sql(
        "SELECT src, dst, round(score, 6) AS score FROM finalg"
    ),
)
def q_ann_knn_graph_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL graph maintenance (E13 ⨝ the ann_ivf_incremental
    shape): the base graph is the SHARED full-corpus NN-descent build
    (one staged build serves graph-search, HNSW, and this family);
    the insert batch is DERIVED points — midpoints of adjacent
    sampled corpus vectors (``vec_id % {29} == {7}``), i.e. vectors
    that did not exist at build time — inserted via beam search over
    the base graph (HNSW's insert algorithm); only the landed-on base
    nodes re-rank.  The FULL post-insert edge list hash-matches a
    DuckDB oracle replaying build + insert; the Spark plan touches
    O(batch·k) base nodes, never rebuilding."""
    return knn_graph_incremental(spark, sf_dir).select(
        "src", "dst", F.round("score", 6).alias("score")
    )


@register(
    "ann_knn_graph_incr_recall",
    sql=_knn_incr_sql(
        f"""
    , exact_new AS (
      SELECT src, dst FROM (
        SELECT q.query_id AS src, e.vec_id AS dst,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sql_dot('e.embedding', 'q.qv')} DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN newq q)
      WHERE rn <= {KNN_GUARD_TOPK}
    )
    SELECT (SELECT count(*) FROM newq)::BIGINT AS n_new,
           count(*)::BIGINT AS total_hits,
           count(*) >= {INCR_G_RECALL_FLOOR} AS incr_recall_ok
    FROM finalg f JOIN exact_new USING (src, dst)
    WHERE f.src >= {INCR_G_ID_OFFSET}"""
    ),
)
def q_ann_knn_graph_incr_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximation-quality contract for the INSERT path: the new
    nodes' edges must recover ≥ {INCR_G_RECALL_FLOOR} of their exact
    brute-force top-{KNN_GUARD_TOPK} slots among BASE nodes — a broken
    beam/candidate/re-rank step collapses toward the random-overlap
    expectation of ~0-2.  Integer-derived single row — hash-matches."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    final = knn_graph_incremental(spark, sf_dir).filter(
        F.col("src") >= INCR_G_ID_OFFSET
    )
    newq = incr_new_points(spark, sf_dir).select(
        F.col("query_id").alias("src"), "qv"
    )
    scored = emb.crossJoin(F.broadcast(newq)).withColumn(
        "score", dot("embedding", "qv")
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("score"), F.col("vec_id").asc()
    )
    exact_new = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_GUARD_TOPK)
        .select("src", F.col("vec_id").alias("dst"))
    )
    n_new = newq.count()
    return final.join(exact_new, ["src", "dst"]).agg(
        F.lit(n_new).cast("bigint").alias("n_new"),
        F.count(F.lit(1)).alias("total_hits"),
        (F.count(F.lit(1)) >= INCR_G_RECALL_FLOOR).alias(
            "incr_recall_ok"
        ),
    )


# ------------------------------ search_matrix (pairwise distances)

MATRIX_SAMPLE = 12  # vec_id < 12 — the filtered sample
MATRIX_TOPK = 3  # nearest neighbors kept per row (Qdrant `limit`)


@register(
    "ann_search_matrix",
    sql=f"""
    WITH sample AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id < {MATRIX_SAMPLE} AND vec_id % 2 = 0
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {sql_dot('a.embedding', 'b.embedding')} AS s
      FROM sample a JOIN sample b ON a.vec_id != b.vec_id
    ),
    ranked AS (
      SELECT id_a, id_b, s,
             row_number() OVER (PARTITION BY id_a
                                ORDER BY s DESC, id_b ASC) AS rn
      FROM pairs
    )
    SELECT id_a, id_b, round(s, 6) AS score
    FROM ranked WHERE rn <= {MATRIX_TOPK}
    """,
)
def q_ann_search_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant ``search_matrix``: the pairwise-similarity matrix of a
    FILTERED point sample, trimmed to each row's top-{MATRIX_TOPK}
    nearest (the API powers clustering/dedup previews over a
    selection).  The sample is bounded by the filter (user-facing —
    Qdrant's own API caps it), so the pair volume is sample², never
    corpus²; the sample broadcasts against itself and the per-row
    window runs over ≤ sample·top rows.  Exact scores, full
    hash-match.  Mirrors ``VectorCollection.search_matrix``."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    sample = emb.filter(
        (F.col("vec_id") < MATRIX_SAMPLE) & (F.col("vec_id") % 2 == 0)
    )
    a = sample.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = sample.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") != F.col("id_b"))
        .withColumn("s", dot("va", "vb"))
    )
    w = Window.partitionBy("id_a").orderBy(
        F.desc("s"), F.col("id_b").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MATRIX_TOPK)
        .select("id_a", "id_b", F.round("s", 6).alias("score"))
    )
