"""Vector expression helpers: normalization zero-guard, dot, cosine."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from legalchatbot_vectordb_exp_spark.functions.vector import (
    cosine_sim,
    dot,
    l2_norm,
    l2_normalize,
)


def test_l2_normalize_unit_and_zero_guard(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], ["id", "v"]
    )
    out = df.select(
        "id",
        l2_normalize("v").alias("nv"),
        l2_norm(l2_normalize("v")).alias("n"),
    ).collect()
    by_id = {r.id: r for r in out}
    assert by_id[1].nv == [0.6, 0.8]
    assert abs(by_id[1].n - 1.0) < 1e-12
    # reference zero-guard: x / (norm or 1.0) → zeros stay zeros, no NaN
    assert by_id[2].nv == [0.0, 0.0]
    assert by_id[2].n == 0.0


def test_dot_and_cosine(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0], [3.0, 4.0])], ["id", "a", "b"])
    r = df.select(
        dot("a", "b").alias("d"), cosine_sim("a", "b").alias("c")
    ).head()
    assert r.d == 11.0
    expected = 11.0 / (math.sqrt(5) * math.sqrt(25))
    assert abs(r.c - expected) < 1e-12


def test_cosine_zero_vector_scores_zero(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0], [1.0, 0.0])], ["id", "a", "b"])
    assert df.select(cosine_sim("a", "b").alias("c")).head().c == 0.0


def test_exact_pair_scores_bit_equal_to_expression(spark):
    import pyspark.sql.functions as F
    from legalchatbot_vectordb_exp_spark.functions.vector import dot
    from legalchatbot_vectordb_exp_spark.operators.ann import exact_pair_scores

    rows = [
        (1, [0.1, -0.2, 0.3, 0.7]),
        (2, [0.5, 0.5, -0.5, 0.1]),
        (3, [-0.9, 0.01, 0.2, 0.4]),
        (4, [0.25, 0.25, 0.25, 0.25]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], ["id_a", "id_b"]
    )
    kernel = {
        (r.id_a, r.id_b): r.cos
        for r in exact_pair_scores(pairs, emb).collect()
    }
    va = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    expr = {
        (r.id_a, r.id_b): r.cos
        for r in pairs.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b", dot("va", "vb").alias("cos"))
        .collect()
    }
    # bit-identical, not approximately equal: the kernel folds dims in
    # the same IEEE order as the expression plan
    assert kernel == expr


def test_lsh_planes_match_md5_construction(spark):
    import hashlib

    from legalchatbot_vectordb_exp_spark.queries_ann import (
        DIM,
        N_PLANES,
        _spark_planes,
    )

    got = {r.plane_id: r.pv for r in _spark_planes(spark).collect()}
    assert len(got) == N_PLANES
    for p in range(N_PLANES):
        expected = [
            1.0
            if hashlib.md5(f"{p}_{j}".encode()).hexdigest()[0] <= "7"
            else -1.0
            for j in range(DIM)
        ]
        assert got[p] == expected


# ---- one home for vector expressions: bit-identity and growth guards ----
#
# The reference implementations below are the shapes the helpers in
# functions/vector.py replaced: a per-element normalize whose norm was
# re-folded inside the transform lambda, a nested when/otherwise
# assignment fold, and one F.lit per query element.  They are kept
# here, at small sizes only, to pin the new helpers bit-for-bit.


def _ref_l2_normalize(v):
    v = F.col(v)
    n = l2_norm(v)
    safe = F.when(n == 0.0, F.lit(1.0)).otherwise(n)
    return F.transform(v, lambda x: x.cast("double") / safe)


def _ref_assign(v, centroids):
    best = None
    for cid, cvec in centroids:
        score = dot(F.col(v), F.array(*[F.lit(x) for x in cvec]))
        cur = F.struct(score.alias("s"), F.lit(int(cid)).alias("cid"))
        best = cur if best is None else F.when(
            cur["s"] > best["s"], cur
        ).otherwise(best)
    return best["cid"]


def _small_vectors(d=8, n=24, seed=7):
    import random

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(n)]
    rows.append((n, [0.0] * d))  # the zero-guard row
    return rows


def _centroids_with_tie(d=8, k=4, seed=11):
    import random

    rng = random.Random(seed)
    cents = [(c, [rng.uniform(-1, 1) for _ in range(d)]) for c in range(k)]
    # cid 3 duplicates cid 1: every row ties between them
    cents[3] = (3, list(cents[1][1]))
    return cents


def _resolved(spark, col, ddl):
    """The analyzed expression of ``col`` over an empty ``ddl`` frame."""
    df = spark.createDataFrame([], ddl).select(col.alias("out"))
    return df._jdf.queryExecution().analyzed().projectList().head().child()


def _walk(expr):
    """Every node of a JVM expression tree, with its class name."""
    stack = [expr]
    while stack:
        e = stack.pop()
        yield e.getClass().getSimpleName(), e
        kids = e.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def test_l2_normalize_norm_is_not_refolded_per_element(spark):
    """Growth guard: the sum-of-squares fold must not sit inside the
    transform lambda, where it runs once per element (O(d²))."""
    e = _resolved(spark, l2_normalize("v"), "v array<double>")
    transforms = [t for name, t in _walk(e) if name == "ArrayTransform"]
    assert transforms
    for t in transforms:
        assert "ArrayAggregate" not in {name for name, _ in _walk(t)}


def test_nearest_centroid_expression_is_linear_in_k(spark):
    """Growth guard: doubling the centroid count may at most ~double
    the expression (the nested fold grew 2^k)."""
    from legalchatbot_vectordb_exp_spark.functions.vector import (
        nearest_centroid,
    )

    def size(k):
        cents = [(c, [float(c + j) for j in range(8)]) for c in range(k)]
        expr = _resolved(
            spark, nearest_centroid("v", cents), "v array<double>"
        )
        return len(expr.sql())

    assert size(16) <= 2.5 * size(8)


def test_l2_normalize_bit_equal_to_reference_and_driver(spark):
    from legalchatbot_vectordb_exp_spark.functions.vector import normalize_vec

    df = spark.createDataFrame(_small_vectors(), "id long, v array<double>")
    got = df.select(
        "id",
        l2_normalize("v").alias("new"),
        _ref_l2_normalize("v").alias("ref"),
        "v",
    ).collect()
    assert any(all(x == 0.0 for x in r.v) for r in got)
    for r in got:
        assert r.new == r.ref
        assert normalize_vec(r.v) == r.new  # driver twin, same bits
    assert normalize_vec([0.0, 0.0]) == [0.0, 0.0]


def test_nearest_centroid_bit_equal_to_reference_fold(spark):
    from legalchatbot_vectordb_exp_spark.functions.vector import (
        nearest_centroid,
    )

    cents = _centroids_with_tie()
    rows = _small_vectors() + [(99, list(cents[1][1]))]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = df.select(
        "id",
        nearest_centroid("v", cents).alias("new"),
        _ref_assign("v", cents).alias("ref"),
    )
    assert out.schema["new"].dataType == out.schema["ref"].dataType
    got = {r.id: (r.new, r.ref) for r in out.collect()}
    assert all(new == ref for new, ref in got.values())
    assert got[99][0] == 1  # exact tie with cid 3: the smaller cid wins
    assert got[len(rows) - 2][0] == 0  # zero vector ties everywhere
    assert 3 not in {new for new, _ in got.values()}


def test_vector_lit_scores_bit_equal_to_per_element_literals(spark):
    from legalchatbot_vectordb_exp_spark.functions.vector import vector_lit
    from legalchatbot_vectordb_exp_spark.operators.topk import topk_search

    rows = _small_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[3][1]
    ref_lit = F.array(*[F.lit(x) for x in q])
    got = df.select(
        "vec_id",
        dot("embedding", vector_lit(q)).alias("new"),
        dot("embedding", ref_lit).alias("ref"),
    ).collect()
    assert all(r.new == r.ref for r in got)
    top = topk_search(df, q, k=5).collect()
    ref = (
        df.withColumn("score", dot("embedding", ref_lit))
        .orderBy(F.desc("score"), F.col("vec_id").asc())
        .limit(5)
        .select("vec_id", "score")
        .collect()
    )
    assert [(r.vec_id, r.score) for r in top] == [
        (r.vec_id, r.score) for r in ref
    ]


def test_nearest_centroid_agrees_with_numpy_quantizer(spark):
    """The two quantizers (Column expression for VectorCollection,
    numpy kernel for the queries_ann IVF queries) pick the same cell
    on data without ties."""
    import random

    import numpy as np

    from legalchatbot_vectordb_exp_spark.functions.vector import (
        nearest_centroid,
    )
    from legalchatbot_vectordb_exp_spark.queries_ann import ivf_best_cells

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(64)]
    cents = [(c * 5, [rng.gauss(0, 1) for _ in range(8)]) for c in range(6)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {
        r.id: r.c
        for r in df.select(
            "id", nearest_centroid("v", cents).alias("c")
        ).collect()
    }
    want = ivf_best_cells(
        np.array([v for _, v in rows], dtype=np.float64),
        [c for c, _ in cents],
        [v for _, v in cents],
    )
    assert [got[i] for i, _ in rows] == [int(c) for c in want]
