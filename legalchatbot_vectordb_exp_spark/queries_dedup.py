"""Deduplication query family (extension operators E1/E2 — SURVEY.md
§2.9): the LLM-training-data-pipeline dedup stack.

Scale design notes (all verified on the sf tables, designed for 100 TB):

* every pairwise comparison goes through an **explode → equi-join on a
  blocking key** (shingle, minhash band, LSH bucket) — never a cross
  join of the corpus with itself;
* hot blocking keys are capped by document frequency (a shingle in
  half the corpus generates O(n²) pairs and zero dedup signal — the
  frequency cap is part of the operator's semantics on both engines);
* hashing is md5 hex (bit-identical in Spark and DuckDB) so signatures
  are portable across engines and runs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from legalchatbot_vectordb_exp_spark.functions.text import word_shingles, words
from legalchatbot_vectordb_exp_spark.io_tables import load_table, spread
from legalchatbot_vectordb_exp_spark.registry import (
    register,
    sql_dot,
    sql_words,
)
from legalchatbot_vectordb_exp_spark.staging import stage

# shingles appearing in more docs than this are dropped from pairing
# (stopword-shingle suppression; identical on both engines)
MAX_SHINGLE_DF = 20
N_MINHASH = 8  # minhash signature length
MINHASH_BANDS = 4  # bands of 2 rows each


def _sql_shingles(text: str, n: int = 3) -> str:
    """Distinct n-word shingles — mirrors functions.text.word_shingles."""
    ws = sql_words(text)
    return (
        f"list_distinct(list_transform("
        f"generate_series(0, greatest(len({ws}) - {n}, 0)), "
        f"i -> array_to_string({ws}[i + 1 : i + {n}], ' ')))"
    )


_SHINGLE_CTE = f"""
    WITH sh AS (
      SELECT doc_id, unnest({_sql_shingles('text')}) AS shingle
      FROM documents
    ),
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {MAX_SHINGLE_DF}
    ),
    sh_rare AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
    ),
    doc_sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh_rare GROUP BY doc_id
    )
"""


def _spark_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) pairs after the document-frequency cap.

    The cap is applied as a broadcast ANTI join against the *hot* set
    (df > cap): hot shingles are by construction few (59 at sf0.1 vs
    ~250k rare ones), so the broadcast is tiny — the inverse join
    (broadcasting the rare majority) would ship the whole vocabulary
    to every executor."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("shingle")
    ).cache()  # read by both the hot-set agg and the anti join — the
    # shingle HOF expression is the expensive part, evaluate it once
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti").select(
        "doc_id", "shingle"
    )



def _doc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rare-shingle counts (doc_sizes CTE) — n_docs rows,
    CACHED and staged per process (r21, guide §1.2): jaccard and
    containment each broadcast this frame TWICE (doc_a and doc_b
    sides), and a broadcast exchange builds its input independently —
    uncached, the groupBy re-ran the shingle lineage four times per
    bench pass (~1 s each at sf0.1).  One aggregate object now feeds
    all four broadcasts across both queries."""

    def build():
        sh = _spark_shingles(spark, sf_dir)
        return (
            sh.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sh"))
            .cache()
        )

    return stage(spark, sf_dir, "dedup_doc_sizes", build)


def _spark_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a < doc_b, shared) — shared-shingle counts from the
    DF-capped shingle equi-join, CACHED and staged per process: the
    Jaccard and containment queries score the identical candidate
    frame, so the join+aggregate runs once."""

    def build():
        sh = _spark_shingles(spark, sf_dir)
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        return (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
            .cache()
        )

    return stage(spark, sf_dir, "dedup_pair_counts", build)


@register(
    "dedup_ngram_jaccard",
    sql=_SHINGLE_CTE
    + """
    , pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM sh_rare a JOIN sh_rare b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(shared::DOUBLE
                 / (sa.n_sh + sb.n_sh - shared)::DOUBLE, 6) AS jaccard
    FROM pairs
    JOIN doc_sizes sa ON sa.doc_id = doc_a
    JOIN doc_sizes sb ON sb.doc_id = doc_b
    WHERE shared::DOUBLE / (sa.n_sh + sb.n_sh - shared)::DOUBLE >= 0.2
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates by exact n-gram Jaccard ≥ 0.2, computed via
    shingle-key equi-join (shared counts) + per-doc shingle counts —
    the shuffle is on the shingle key, never a corpus×corpus product."""
    sizes = _doc_sizes(spark, sf_dir)
    pairs = _spark_pair_counts(spark, sf_dir)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )
    return jac.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _signature_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc with columns h0..h{N-1} = min over shingles of
    the i-th Kirsch-Mitzenmacher hash ``(h1 + i·h2) mod 2^32``, where
    h1/h2 are the first/second 8 hex digits of a single md5(shingle).

    Two design points for 100 TB:

    * **one md5 per shingle row**, not N — the N hash family is derived
      arithmetically (Kirsch-Mitzenmacher 2006: two hashes simulate any
      number with no loss for min-wise estimates).  Hash cost is the
      dominant per-token cost of minhash at scale;
    * the N mins are N *aggregate columns* over the un-exploded shingle
      rows, not an N-way row fan-out: partial-aggregated map-side, the
      shuffle carries one N-column row per document.

    Portable across engines: md5 hex is bit-identical, and the hex→int
    parse is ``conv(hex,16,10)`` in Spark / ``('0x'||hex)::BIGINT`` in
    DuckDB."""
    sh = _spark_shingles(spark, sf_dir)
    h1 = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10).cast("bigint")
    staged = sh.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    return staged.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(4294967296)
            ).alias(f"h{i}")
            for i in range(N_MINHASH)
        ]
    )


@register(
    "dedup_minhash_signature",
    sql=_SHINGLE_CTE
    + f"""
    , hv AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
      FROM sh_rare
    ),
    hashed AS (
      SELECT doc_id, h.i AS hash_id,
             min((h1 + h.i * h2) % 4294967296) AS minhash
      FROM hv, unnest(generate_series(0, {N_MINHASH - 1})) AS h(i)
      GROUP BY doc_id, h.i
    )
    SELECT doc_id, hash_id::BIGINT AS hash_id, minhash
    FROM hashed
    """,
)
def q_dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: per (doc, hash_id) the min of the hash_id-th
    Kirsch-Mitzenmacher hash of the shingle (one md5 per shingle),
    unpivoted from the wide map-side-combined aggregate
    (_signature_wide) — the explode happens *after* the agg, on
    docs × N tiny rows."""
    wide = _signature_wide(spark, sf_dir)
    return wide.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"h{i}") for i in range(N_MINHASH)])),
    ).select(
        F.col("doc_id"),
        F.col("pos").cast("bigint").alias("hash_id"),
        F.col("col").alias("minhash"),
    )


@register(
    "dedup_minhash_pairs",
    sql=_SHINGLE_CTE
    + f"""
    , hv AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
      FROM sh_rare
    ),
    hashed AS (
      SELECT doc_id, h.i AS hash_id,
             min((h1 + h.i * h2) % 4294967296) AS minhash
      FROM hv, unnest(generate_series(0, {N_MINHASH - 1})) AS h(i)
      GROUP BY doc_id, h.i
    ),
    bands AS (
      SELECT doc_id, hash_id // 2 AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY hash_id) AS band_key
      FROM hashed GROUP BY doc_id, hash_id // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b FROM cand
    """,
)
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature (4 bands × 2
    rows), join on (band, band_key) — candidates share at
    least one full band.  The join key is the band hash, so shuffle
    volume is O(docs × bands), independent of corpus pair count.
    Band keys concat adjacent columns of the wide signature directly —
    no second groupBy after the signature aggregate."""
    wide = _signature_wide(spark, sf_dir)
    rows_per_band = N_MINHASH // MINHASH_BANDS
    band_keys = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.col(f"h{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    bands = (
        wide.select("doc_id", F.posexplode(band_keys))
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("band"),
            F.col("col").alias("band_key"),
        )
        # self-joined below: cache so the signature lineage (shingle
        # explode + md5) runs once, not once per join side
        .cache()
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


@register(
    "dedup_groups",
    sql=_SHINGLE_CTE.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + f"""
    , hv AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
      FROM sh_rare
    ),
    hashed AS (
      SELECT doc_id, h.i AS hash_id,
             min((h1 + h.i * h2) % 4294967296) AS minhash
      FROM hv, unnest(generate_series(0, {N_MINHASH - 1})) AS h(i)
      GROUP BY doc_id, h.i
    ),
    bands AS (
      SELECT doc_id, hash_id // 2 AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY hash_id) AS band_key
      FROM hashed GROUP BY doc_id, hash_id // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    undirected AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION SELECT doc_b, doc_a FROM cand
    ),
    reach AS (
      SELECT a AS node, a AS comp FROM undirected
      UNION
      SELECT u.a, r.comp FROM reach r JOIN undirected u ON u.b = r.node
    )
    SELECT node AS doc_id, min(comp) AS group_id
    FROM reach GROUP BY node
    """,
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups: MinHash-LSH candidate pairs → connected
    components (iterative min-label propagation; oracle: recursive
    CTE transitive closure) → group representative = min doc_id.
    The keep-one dedup decision is then ``doc_id == group_id``."""
    from legalchatbot_vectordb_exp_spark.operators.components import (
        connected_components,
    )

    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("group_id")
    )


_SIMHASH_CTE = f"""
    WITH tok AS (
      SELECT doc_id, unnest({sql_words('text')}) AS w FROM documents
    ),
    bits AS (
      SELECT doc_id, b.j AS bit_pos,
             CASE WHEN
               (strpos('0123456789abcdef',
                       substr(md5(w), 1 + b.j // 4, 1)) - 1)
               // CAST(pow(2, 3 - b.j % 4) AS INT) % 2 = 1
             THEN 1 ELSE -1 END AS v
      FROM tok, unnest(generate_series(0, 15)) AS b(j)
    ),
    agg AS (
      SELECT doc_id, bit_pos, sum(v) AS s FROM bits GROUP BY 1, 2
    ),
    sim AS (
      SELECT doc_id,
             sum(CASE WHEN s > 0
                 THEN CAST(pow(2, bit_pos) AS BIGINT) ELSE 0 END)::BIGINT
               AS simhash
      FROM agg GROUP BY doc_id
    )
"""


def _spark_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — 16-bit SimHash, one md5 per token, 16 bit
    votes as wide map-side-combined aggregate columns."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # one md5 + one hex→int conv per token; vote j is then a single
    # shift-and-mask.  Bit (3 - j%4) of hex digit j//4 is bit (15 - j)
    # of the 16-bit value, so the 16 vote expressions share the conv.
    tok = docs.select("doc_id", F.explode(words("text")).alias("w")).select(
        "doc_id",
        F.conv(F.substring(F.md5("w"), 1, 4), 16, 10)
        .cast("int")
        .alias("hv"),
    )

    def vote(j: int):
        bit = F.shiftright(F.col("hv"), 15 - j).bitwiseAND(F.lit(1))
        return bit * 2 - F.lit(1)  # {0,1} -> {-1,+1}

    agg = tok.groupBy("doc_id").agg(
        *[F.sum(vote(j)).alias(f"s{j}") for j in range(16)]
    )
    simhash = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return agg.select("doc_id", simhash.cast("bigint").alias("simhash"))


@register(
    "dedup_simhash",
    sql=_SIMHASH_CTE + "SELECT doc_id, simhash FROM sim",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash from md5 token hashes: per (doc, bit) sum of ±1
    weighted votes, positive → bit set; token multiplicity counts
    (standard SimHash).

    The md5 is staged per *token* (one hash each); the 16 bit votes
    are 16 integer **aggregate columns** over the un-exploded token
    rows (same wide map-side-combine shape as the minhash signature):
    one shuffle carrying a 16-int row per doc, versus the previous
    16-way bit explode + two groupBys shuffling tokens × 16 rows.
    10× stress corpus: 12.6 s → ~2 s."""
    return _spark_simhash(spark, sf_dir)


SIMHASH_BANDS = 2  # bands of 8 bits each over the 16-bit signature
SIMHASH_MAX_HAMMING = 1  # pigeonhole: ≤1 differing bit → one band exact


@register(
    "dedup_simhash_pairs",
    sql=_SIMHASH_CTE
    + f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup *pairs* — the step that makes the signature a
    dedup operator: candidates collide on at least one 8-bit band
    (pigeonhole guarantees every pair at hamming ≤ 1 shares a band),
    then exact ``bit_count(simhash XOR simhash) ≤ 1`` verification.

    Shuffle is on the (band_id, band_value) key — never a corpus self
    cross join; the DuckDB oracle *is* the quadratic formulation, which
    is exactly the point of the banding rewrite.  Each band row carries
    its signature so verification needs no join back to the signature
    table.  At a production 64-bit simhash the same shape runs 4 bands
    × 16 bits for hamming ≤ 3."""
    sim = _spark_simhash(spark, sf_dir)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 8 * b).bitwiseAND(F.lit(255))
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "band_val"),
    ).cache()  # self-joined: signature lineage runs once
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "band",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "band",
        "band_val",
    )
    hamming = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    ).cast("bigint")
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


@register(
    "dedup_embedding_cosine",
    sql=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({sql_dot('a.embedding', 'b.embedding')}, 6) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {sql_dot('a.embedding', 'b.embedding')} >= 0.5
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ 0.5 (unit vectors → dot).

    Uses the blocked BLAS candidate prune + exact-fold rescore
    (operators/ann.py) — O(n²) arithmetic stays vectorized inside
    Arrow batches instead of O(n²) interpreted lambda evaluations;
    final scores are bit-identical to the expression plan."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    from legalchatbot_vectordb_exp_spark.operators.ann import cosine_pairs_blocked

    pairs = cosine_pairs_blocked(emb, threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


@register(
    "dedup_keep_one",
    sql=_SHINGLE_CTE.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + f"""
    , hv AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
      FROM sh_rare
    ),
    hashed AS (
      SELECT doc_id, h.i AS hash_id,
             min((h1 + h.i * h2) % 4294967296) AS minhash
      FROM hv, unnest(generate_series(0, {N_MINHASH - 1})) AS h(i)
      GROUP BY doc_id, h.i
    ),
    bands AS (
      SELECT doc_id, hash_id // 2 AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY hash_id) AS band_key
      FROM hashed GROUP BY doc_id, hash_id // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    undirected AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION SELECT doc_b, doc_a FROM cand
    ),
    reach AS (
      SELECT a AS node, a AS comp FROM undirected
      UNION
      SELECT u.a, r.comp FROM reach r JOIN undirected u ON u.b = r.node
    ),
    groups AS (
      SELECT node AS doc_id, min(comp) AS group_id
      FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           coalesce(g.group_id, d.doc_id) AS group_id,
           d.doc_id = coalesce(g.group_id, d.doc_id) AS kept
    FROM documents d LEFT JOIN groups g USING (doc_id)
    """,
)
def q_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized dedup *decision* that completes E2: every
    document tagged with its duplicate-group representative and a
    ``kept`` flag (representative = min doc_id; singletons keep
    themselves).  The group map — tiny after LSH banding — broadcasts
    against the full corpus, so the big side never shuffles; at 100 TB
    this is the same broadcast-hash-join shape, with the group map
    spilling to a shuffle join only past ~GB group counts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    groups = q_dedup_groups(spark, sf_dir)
    joined = docs.join(F.broadcast(groups), "doc_id", "left")
    gid = F.coalesce(F.col("group_id"), F.col("doc_id"))
    return joined.select(
        "doc_id",
        gid.alias("group_id"),
        (F.col("doc_id") == gid).alias("kept"),
    )


def _curation_oracle() -> str:
    """Build the corpus_curation oracle on top of the registered
    dedup_keep_one SQL (embedded as a derived table — DuckDB accepts a
    full WITH RECURSIVE query as a subquery)."""
    from legalchatbot_vectordb_exp_spark.functions.text import LANG_STOPWORDS
    from legalchatbot_vectordb_exp_spark.registry import ORACLES

    en = list(LANG_STOPWORDS["en"])
    return f"""
    WITH keepers AS (
      SELECT doc_id FROM ({ORACLES["dedup_keep_one"]}) k WHERE kept
    ),
    w AS (
      SELECT doc_id, text, lang, {sql_words('text')} AS ws FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, len(ws) AS n_tokens,
             least(len(ws)::DOUBLE / 100.0, 1.0) * 0.5
             + (len(list_filter(ws, x -> list_contains({en},
                                         lower(x))))::DOUBLE
                / greatest(len(ws), 1)::DOUBLE) * 0.3
             + CASE WHEN length(text) BETWEEN 100 AND 5000
                    THEN 0.2 ELSE 0.0 END AS q
      FROM w
    )
    SELECT s.doc_id, s.lang, s.n_tokens, round(s.q, 6) AS quality
    FROM scored s JOIN keepers USING (doc_id)
    WHERE s.q >= 0.45
      AND s.lang IN ('en', 'fr', 'es', 'de')
      AND substr(md5(s.doc_id::VARCHAR), 1, 8) < 'c0000000'
    """


@register("corpus_curation", sql=_curation_oracle())
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation pipeline composed end-to-end as ONE
    lazy plan: quality scoring -> quality floor -> language allowlist
    -> MinHash near-dup keep-one -> deterministic token-budget
    downsample.  Each stage is an already-oracle-checked operator;
    this query pins their *composition* (filter interaction, join
    keys, sample-after-dedup ordering) against a single relational
    oracle built from the same fragments.

    Scale shape: quality/lang/sample are scan-stage predicates and
    projections (no shuffle); the near-dup decision rides the banded
    MinHash + connected-components lineage (`dedup_groups` — shuffles
    are signature-agg and band-join keyed, never corpus x corpus), and
    its group map broadcasts back against the corpus.  Order matters
    and is the cheap order: the corpus is thinned by the scan-stage
    predicates before anything shuffles."""
    from legalchatbot_vectordb_exp_spark.functions.text import (
        LANG_STOPWORDS,
        stopword_count,
        words,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    ws = words("text")
    nw = F.greatest(F.size(ws), F.lit(1)).cast("double")
    quality = (
        F.least(F.size(ws).cast("double") / 100.0, F.lit(1.0)) * 0.5
        + (
            stopword_count("text", LANG_STOPWORDS["en"]).cast("double") / nw
        )
        * 0.3
        + F.when(F.length("text").between(100, 5000), 0.2).otherwise(0.0)
    )
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(ws).cast("long").alias("n_tokens"),
        quality.alias("q"),
    )
    filtered = scored.filter(
        (F.col("q") >= 0.45)
        & F.col("lang").isin("en", "fr", "es", "de")
        & (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
            < "c0000000"
        )
    )
    keepers = (
        q_dedup_keep_one(spark, sf_dir)
        .filter(F.col("kept"))
        .select("doc_id")
    )
    return filtered.join(keepers, "doc_id").select(
        "doc_id", "lang", "n_tokens", F.round("q", 6).alias("quality")
    )


CONTAIN_MIN = 0.8  # fraction of the smaller doc's shingles shared


@register(
    "dedup_containment",
    sql=_SHINGLE_CTE
    + f"""
    , pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM sh_rare a JOIN sh_rare b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.shared::BIGINT AS shared,
           round(p.shared / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6)
             AS containment
    FROM pairs p
    JOIN doc_sizes sa ON sa.doc_id = p.doc_a
    JOIN doc_sizes sb ON sb.doc_id = p.doc_b
    WHERE p.shared / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE)
          >= {CONTAIN_MIN}
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: pairs where ≥{CONTAIN_MIN:.0%} of
    the SMALLER document's shingles appear in the other — the case
    Jaccard systematically misses (a paragraph quoted inside a long
    document scores near-zero Jaccard but 1.0 containment; quotes and
    wholesale inclusions are endemic in legal corpora and training
    data).

    Same sub-quadratic shape as the Jaccard query: the DF-capped
    shingle equi-join generates candidates (never corpus x corpus),
    per-doc shingle counts join back on the doc key, and the score is
    one integer division — bit-identical across engines."""
    sizes = _doc_sizes(spark, sf_dir)
    pairs = _spark_pair_counts(spark, sf_dir)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    contain = (
        F.col("shared") / F.least("na", "nb").cast("double")
    )
    # broadcast the per-doc size frames exactly like dedup_ngram_jaccard
    # does (guide §3.1): without the hint the checkpointed pair frame
    # carries no stats and Catalyst sort-merges BOTH size joins — two
    # extra full shuffles of the candidate pairs per run (measured in
    # the r20 before-plan: 37 Exchange nodes vs jaccard's 35 on the
    # identical inputs)
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(contain >= CONTAIN_MIN)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("bigint").alias("shared"),
            F.round(contain, 6).alias("containment"),
        )
    )
