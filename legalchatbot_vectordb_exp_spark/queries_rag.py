"""RAG / retrieval preprocessing operators beyond the reference's
paragraph chunker: overlapping token-window chunking, per-document
TF-IDF key terms, corpus-LM surprisal scoring, and a partition-pruned
sink round-trip.

Scale notes:

* ``chunk_overlap`` is a scan-stage explode — no shuffle; chunk count
  per document is ceil(n/stride), so output size is a constant factor
  of input tokens (the standard RAG chunker shape);
* ``tfidf_topterms`` shuffles on (doc, term) then term — both keyed
  aggregations with map-side partial agg; the document-frequency side
  joins back on the term key (never a cross join);
* ``unigram_surprisal`` pins float determinism by folding each
  document's per-term contributions in SORTED term order (an ordered
  ``aggregate`` over a sorted collect — same fold both engines);
* ``partitioned_roundtrip`` writes the corpus partitioned by language
  and reads one partition back: the filter must become partition
  PRUNING (directory-level skip), the 100 TB layout story for any
  per-language corpus (pinned in tests/test_plans.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from legalchatbot_vectordb_exp_spark import staging
from legalchatbot_vectordb_exp_spark.functions.text import words
from legalchatbot_vectordb_exp_spark.io_tables import load_table
from legalchatbot_vectordb_exp_spark.registry import register, sql_words

CHUNK_W = 64  # tokens per chunk
CHUNK_S = 48  # stride (overlap = W - S = 16 tokens)

TFIDF_TOPK = 3


@register(
    "chunk_overlap",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, {sql_words('text')} AS ws,
             len({sql_words('text')})::BIGINT AS n
      FROM documents
    )
    SELECT doc_id,
           (s.start // {CHUNK_S})::BIGINT AS chunk_index,
           len(ws[s.start + 1 : s.start + {CHUNK_W}])::BIGINT
             AS n_chunk_tokens,
           array_to_string(ws[s.start + 1 : s.start + {CHUNK_W}], ' ')
             AS chunk_text
    FROM toks, unnest(generate_series(0, n - 1, {CHUNK_S})) AS s(start)
    WHERE n > 0
    """,
)
def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking with overlap — the standard RAG
    chunker (width {CHUNK_W}, stride {CHUNK_S}, so consecutive chunks
    share {CHUNK_W - CHUNK_S} tokens of context).  Window starts are a
    per-row ``sequence`` explode; the chunk text is a slice + join of
    the already-split word array — scan-stage only, no shuffle, output
    bounded by ceil(n/stride) chunks per document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        words("text").alias("ws"),
    ).withColumn("n", F.size("ws").cast("bigint"))
    starts = toks.filter(F.col("n") > 0).select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(F.lit(0), (F.col("n") - 1).cast("int"),
                       F.lit(CHUNK_S))
        ).alias("start"),
    )
    chunk = F.slice(F.col("ws"), F.col("start") + 1, CHUNK_W)
    return starts.select(
        "doc_id",
        (F.col("start") / CHUNK_S).cast("bigint").alias("chunk_index"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


_TF_CTE = """
    tf AS (
      SELECT doc_id, t AS term, count(*)::BIGINT AS tf
      FROM (SELECT doc_id,
                   unnest(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     w -> w <> '')) AS t
            FROM documents)
      GROUP BY doc_id, t
    )
"""


@register(
    "tfidf_topterms",
    sql=f"""
    WITH {_TF_CTE},
    df AS (
      SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
      FROM tf JOIN df USING (term), n
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, rank::BIGINT AS rank,
           round(score, 6) AS tfidf
    FROM ranked WHERE rank <= {TFIDF_TOPK}
    """,
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOPK} TF-IDF key terms per document — the classic
    keyword extractor a retrieval pipeline runs beside dense
    embeddings.  idf = ln((N+1)/(df+1)) and score = tf * idf are one
    division, one log and one multiply over exact integer counts, so
    floats agree bit-for-bit across engines.  Plan: (doc, term) tf
    aggregate → term-keyed df aggregate joined back on the term key →
    per-doc window rank; every exchange is key-partitioned with
    map-side partial aggregation, never corpus x corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "[^a-z0-9]+"),
                    lambda w: w != "",
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # metadata-scale: one count-star job
    scored = tf.join(df_t, "term").withColumn(
        "score",
        F.col("tf")
        * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select(
            "doc_id", "term", "rank", F.round("score", 6).alias("tfidf")
        )
    )


@register(
    "unigram_surprisal",
    sql=f"""
    WITH {_TF_CTE},
    corpus AS (
      SELECT term, sum(tf)::BIGINT AS ctf FROM tf GROUP BY term
    ),
    total AS (SELECT sum(ctf)::BIGINT AS n_total FROM corpus),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(corpus.ctf / CAST(total.n_total AS DOUBLE))
               AS c,
             tf.tf
      FROM tf JOIN corpus USING (term), total
    )
    SELECT doc_id,
           sum(tf)::BIGINT AS n_tokens,
           round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(c ORDER BY term)), (acc, x) -> acc + x)
                 / sum(tf), 6) AS mean_surprisal
    FROM contrib
    GROUP BY doc_id
    """,
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM surprisal per document — the classic
    perplexity-style quality signal (documents scoring far from the
    corpus distribution are boilerplate, noise, or another language).

    mean_surprisal = -(Σ_t tf_t · ln p(t)) / n_tokens with p(t) from
    the corpus itself.  Float determinism: each term's contribution is
    exact-count arithmetic (one divide, one log, one multiply), and
    the per-document sum folds in SORTED TERM ORDER on both engines —
    Spark ``aggregate`` over an ``array_sort``-ed collect, DuckDB
    ``list_reduce`` over ``list(... ORDER BY term)`` — so the
    accumulated double is bit-identical.  Plan: the corpus term table
    is a term-keyed aggregate joined back on the term key; the
    per-document fold rides the (doc, term) aggregate's partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "[^a-z0-9]+"),
                    lambda w: w != "",
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    corpus = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    # corpus-total token count as a broadcast single-row cross join
    # instead of a driver collect: the collect form ran the ENTIRE
    # explode -> (doc,term) aggregate -> term aggregate lineage twice
    # (once for the scalar job, once in the real job).  Inside the
    # plan the term-keyed exchange is shared (ReusedExchange) and the
    # division is the same double op — bit-identical scores, one pass
    # over the corpus instead of two (guide §1.2 "don't compute things
    # you throw away").
    total = corpus.agg(
        F.sum("ctf").cast("double").alias("n_total")
    )
    contrib = (
        tf.join(corpus, "term")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            "tf",
            (
                F.col("tf") * F.log(F.col("ctf") / F.col("n_total"))
            ).alias("c"),
        )
    )
    folded = contrib.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("s"),
    )
    return folded.select(
        "doc_id",
        "n_tokens",
        F.round(-F.col("s") / F.col("n_tokens"), 6).alias(
            "mean_surprisal"
        ),
    )


@register(
    "partitioned_roundtrip",
    sql="""
    SELECT doc_id, n_chars, 'en' AS lang
    FROM documents WHERE lang = 'en'
    """,
)
def q_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink → pruned source round-trip: write the
    corpus ``partitionBy(lang)``, read it back filtered to one
    language, and the filter must never touch the other partitions'
    files — directory-level partition pruning, the layout every
    per-language 100 TB corpus uses (plan pinned in
    tests/test_plans.py::test_partitioned_roundtrip_prunes).

    The oracle reads the ORIGINAL table: round-tripping through the
    partitioned layout must preserve rows and values exactly (lang
    comes back as the partition directory's value)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    out = staging.fresh(staging.scratch(sf_dir, "part_roundtrip"))
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    return back.select(
        "doc_id", "n_chars", F.col("lang").cast("string").alias("lang")
    )


MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in SQL: pick 1 = argmax relevance, pick i =
    argmax over remaining of λ·rel − (1−λ)·max sim to already-picked.
    Every float derives from the shared exact dot fold plus one
    multiply/subtract, so the greedy path is bit-identical to the
    Spark/driver arithmetic."""
    from legalchatbot_vectordb_exp_spark.registry import sql_dot

    head = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    pool AS (
      SELECT e.vec_id, e.embedding,
             {sql_dot('e.embedding', 'q.qv')} AS rel
      FROM embeddings e, q
      ORDER BY rel DESC, e.vec_id ASC LIMIT {MMR_POOL}
    ),
    sims AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             {sql_dot('a.embedding', 'b.embedding')} AS s
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ),
    p1 AS (SELECT vec_id, rel AS score FROM pool
           ORDER BY rel DESC, vec_id ASC LIMIT 1)
    """
    lam, mu = MMR_LAMBDA, 1 - MMR_LAMBDA
    steps = []
    for i in range(2, MMR_K + 1):
        prev = ", ".join(f"p{j}" for j in range(1, i))
        sim_joins = " ".join(
            f"JOIN sims s{j} ON s{j}.ia = p.vec_id AND "
            f"s{j}.ib = (SELECT vec_id FROM p{j})"
            for j in range(1, i)
        )
        maxsim = (
            f"greatest({', '.join(f's{j}.s' for j in range(1, i))})"
            if i > 2
            else "s1.s"
        )
        not_in = " AND ".join(
            f"p.vec_id <> (SELECT vec_id FROM p{j})" for j in range(1, i)
        )
        steps.append(
            f""",
    p{i} AS (
      SELECT p.vec_id, {lam} * p.rel - {mu} * {maxsim} AS score
      FROM pool p {sim_joins}
      WHERE {not_in}
      ORDER BY score DESC, p.vec_id ASC LIMIT 1
    )"""
        )
    unions = " UNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, round(score, 6) AS mmr FROM p{i}"
        for i in range(1, MMR_K + 1)
    )
    return head + "".join(steps) + f" SELECT * FROM ({unions}) ORDER BY rank"


@register("topk_mmr", sql=_mmr_oracle())
def q_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance reranking — the standard RAG
    diversifier: from the top-{MMR_POOL} cosine pool, greedily pick
    {MMR_K} results maximizing λ·relevance − (1−λ)·max-similarity to
    the already-picked set (λ = {MMR_LAMBDA}), so near-duplicate hits
    don't crowd the context window.

    Split of labor mirrors production MMR: RETRIEVAL is the Spark plan
    (TakeOrderedAndProject top-{MMR_POOL} + a {MMR_POOL}²-row pairwise
    sim frame, all exact dot folds); the greedy SELECTION runs on the
    collected pool — k·pool metadata-scale scalars, like the IVF probe
    choice — using only Spark-computed doubles plus one multiply and
    one subtract per step, so the result is bit-identical to the
    oracle's unrolled greedy CTE chain."""
    from legalchatbot_vectordb_exp_spark.functions.vector import dot

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    qvec = F.array(
        *[
            F.lit(float(x))
            for x in emb.filter(F.col("vec_id") == 0).head()[1]
        ]
    )
    pool = (
        emb.withColumn("rel", dot("embedding", qvec))
        .orderBy(F.desc("rel"), F.col("vec_id").asc())
        .limit(MMR_POOL)
        .cache()
    )
    a = pool.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = pool.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    sims = (
        a.join(b, F.col("ia") != F.col("ib"))
        .withColumn("s", dot("ea", "eb"))
        .select("ia", "ib", "s")
    )
    rel = {r["vec_id"]: r["rel"] for r in pool.select("vec_id", "rel").collect()}
    sim = {(r["ia"], r["ib"]): r["s"] for r in sims.collect()}

    lam, mu = MMR_LAMBDA, 1 - MMR_LAMBDA
    picked: list[tuple[int, int, float]] = []
    first = min(((-s, v) for v, s in rel.items()))[1]
    picked.append((1, first, rel[first]))
    while len(picked) < MMR_K:
        best = None
        for v in sorted(rel):
            if any(v == p[1] for p in picked):
                continue
            maxsim = max(sim[(v, p[1])] for p in picked)
            score = lam * rel[v] - mu * maxsim
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, score)
        picked.append((len(picked) + 1, best[1], best[2]))
    return spark.createDataFrame(
        [(r, v, round(s, 6)) for r, v, s in picked],
        "rank long, vec_id long, mmr double",
    ).orderBy("rank")


MMR_BATCH_QUERIES = 8  # query vectors 0..7


def _mmr_greedy_kernel(pdf):
    """Greedy MMR over ONE query's pool (Arrow batch, <= MMR_POOL
    rows).  Pairwise sims are sequential left folds over
    double-widened elements — the exact arithmetic of both the Spark
    ``dot`` expression and the oracle's ``list_reduce``, so every
    float here is bit-identical to the engines'."""
    import pandas as pd

    qid = int(pdf["query_id"].iloc[0])
    vecs = {
        int(v): [float(x) for x in e]
        for v, e in zip(pdf["vec_id"], pdf["embedding"])
    }
    rel = {int(v): float(r) for v, r in zip(pdf["vec_id"], pdf["rel"])}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    ids = sorted(rel)
    sim = {
        (i, j): fold_dot(vecs[i], vecs[j])
        for i in ids
        for j in ids
        if i != j
    }
    lam, mu = MMR_LAMBDA, 1 - MMR_LAMBDA
    picked: list[tuple[int, int, float]] = []
    first = min(((-s, v) for v, s in rel.items()))[1]
    picked.append((1, first, rel[first]))
    # min(MMR_K, pool): a short pool (tiny corpus / filtered group)
    # picks every candidate and stops — the oracle's unrolled CTE
    # returns the same short result
    while len(picked) < min(MMR_K, len(ids)):
        best = None
        for v in ids:
            if any(v == p[1] for p in picked):
                continue
            maxsim = max(sim[(v, p[1])] for p in picked)
            score = lam * rel[v] - mu * maxsim
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, score)
        if best is None:
            break
        picked.append((len(picked) + 1, best[1], best[2]))
    return pd.DataFrame(
        [(qid, r, v, round(s, 6)) for r, v, s in picked],
        columns=["query_id", "rank", "vec_id", "mmr"],
    )


def _mmr_batch_oracle() -> str:
    """Per-query unrolled greedy MMR (the batch generalization of
    ``_mmr_oracle``): LIMIT 1 becomes a row_number() == 1 per
    query_id partition, and each pick step joins the previous picks'
    sims within the same query_id."""
    from legalchatbot_vectordb_exp_spark.registry import sql_dot

    lam, mu = MMR_LAMBDA, 1 - MMR_LAMBDA
    head = f"""
    WITH qs AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < {MMR_BATCH_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id, e.embedding,
             {sql_dot('e.embedding', 'q.qv')} AS rel
      FROM embeddings e CROSS JOIN qs q
    ),
    pool AS (
      SELECT query_id, vec_id, embedding, rel FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS rn
        FROM scored) WHERE rn <= {MMR_POOL}
    ),
    sims AS (
      SELECT a.query_id, a.vec_id AS ia, b.vec_id AS ib,
             {sql_dot('a.embedding', 'b.embedding')} AS s
      FROM pool a JOIN pool b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    ),
    p1 AS (
      SELECT query_id, vec_id, rel AS score FROM (
        SELECT query_id, vec_id, rel, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS rn
        FROM pool) WHERE rn = 1
    )"""
    steps = []
    for i in range(2, MMR_K + 1):
        joins = " ".join(
            f"JOIN p{j} ON p{j}.query_id = p.query_id "
            f"AND p.vec_id <> p{j}.vec_id "
            f"JOIN sims s{j} ON s{j}.query_id = p.query_id "
            f"AND s{j}.ia = p.vec_id AND s{j}.ib = p{j}.vec_id"
            for j in range(1, i)
        )
        maxsim = (
            f"greatest({', '.join(f's{j}.s' for j in range(1, i))})"
            if i > 2
            else "s1.s"
        )
        steps.append(
            f""",
    p{i} AS (
      SELECT query_id, vec_id, score FROM (
        SELECT p.query_id, p.vec_id,
               {lam} * p.rel - {mu} * {maxsim} AS score,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY {lam} * p.rel - {mu} * {maxsim} DESC,
                          p.vec_id ASC) AS rn
        FROM pool p {joins}) WHERE rn = 1
    )"""
        )
    unions = " UNION ALL ".join(
        f"SELECT query_id, {i} AS rank, vec_id, round(score, 6) AS mmr "
        f"FROM p{i}"
        for i in range(1, MMR_K + 1)
    )
    return head + "".join(steps) + f" SELECT * FROM ({unions})"


@register("topk_mmr_batch", sql=_mmr_batch_oracle())
def q_topk_mmr_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MMR — ``topk_mmr`` generalized to many query vectors the
    way ``topk_search_batch`` generalizes ``topk_search`` (round-3
    review item: the single-query version runs its greedy step on the
    driver, which cannot scale past one query).

    Plan: broadcast the {MMR_BATCH_QUERIES}-row query frame across the
    corpus (scoring stays narrow over the big side), ONE shuffle on
    query_id for the per-query top-{MMR_POOL} window, then the grouped
    greedy runs as applyInPandas on the SAME hash partitioning — the
    window's exchange already satisfies the groupBy's required
    distribution, so no second shuffle (pinned in test_plans.py).
    Each task sees <= {MMR_POOL} rows per query: the greedy is
    embarrassingly parallel across thousands of queries."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") < MMR_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    from legalchatbot_vectordb_exp_spark.functions.vector import dot

    scored = (
        emb.join(F.broadcast(queries), how="cross")
        .withColumn("rel", dot("embedding", "query_vec"))
        .drop("query_vec")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.col("vec_id").asc()
    )
    pool = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_POOL)
        .select("query_id", "vec_id", "embedding", "rel")
    )
    return pool.groupBy("query_id").applyInPandas(
        _mmr_greedy_kernel,
        schema="query_id long, rank long, vec_id long, mmr double",
    )
