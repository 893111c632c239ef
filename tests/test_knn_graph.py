"""NN-descent k-NN graph build (round-15 verdict item 3): the batch
analogue of the reference's graph-based index (Qdrant server-side HNSW,
``Qdrant/main.py:60-61``).  Structural invariants + oracle parity +
recall floor; the shuffle-growth story is measured by the stress tier
(``stress_shuffle.py`` knn_graph family, SCALE.md §16)."""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from legalchatbot_vectordb_exp_spark.queries_ann import (  # noqa: E402
    KNN_GUARD_TOPK,
    KNN_ITERS,
    KNN_K,
    KNN_RECALL_FLOOR,
    knn_graph_build,
    q_ann_knn_graph,
    q_ann_knn_graph_recall,
)
from tests.oracle_harness import duckdb_conn, compare  # noqa: E402
from legalchatbot_vectordb_exp_spark.registry import ORACLES  # noqa: E402
from legalchatbot_vectordb_exp_spark import staging  # noqa: E402

SF_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
)


def test_graph_structure(spark):
    g = knn_graph_build(spark, SF_DIR)
    stats = g.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg"),
        F.count_distinct("dst").alias("ndst"),
        F.max((F.col("dst") == F.col("src")).cast("int")).alias("selfloop"),
    )
    row = stats.agg(
        F.max("deg").alias("max_deg"),
        F.min("deg").alias("min_deg"),
        F.max(F.col("deg") - F.col("ndst")).alias("dup_edges"),
        F.max("selfloop").alias("selfloops"),
        F.count(F.lit(1)).alias("n_nodes"),
    ).collect()[0]
    n_total = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert row.max_deg <= KNN_K
    assert row.min_deg >= 1
    assert row.dup_edges == 0, "duplicate (src,dst) edges"
    assert row.selfloops == 0, "self-loop edge"
    assert row.n_nodes == n_total, "every node must keep neighbors"


def test_build_is_cached_per_process(spark):
    g1 = knn_graph_build(spark, SF_DIR)
    assert ("knn_graph", os.path.abspath(SF_DIR)) in [
        (name, os.path.abspath(sf)) for name, sf, _ in staging.build_log()
    ]
    builds = len(staging.build_log())
    g2 = knn_graph_build(spark, SF_DIR)
    assert g1 is g2, "second build must return the staged graph"
    assert len(staging.build_log()) == builds


def test_cached_edges_at_rest_roundtrip(spark, tmp_path, monkeypatch):
    """The cross-process at-rest cache (r19 item 5): a matching
    signature serves the STORED parquet without re-invoking the
    build; any signature change rebuilds and replaces.  Pinned as a
    unit because a swallowed NameError once disabled the write path
    silently — the cache must be observably real."""
    import legalchatbot_vectordb_exp_spark.queries_ann as A

    monkeypatch.setenv("SPARK_GRAFT_TMP", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_GRAPH_CACHE", raising=False)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )

    sig = {"v": 1, "k": 3}
    a = A._cached_edges(spark, SF_DIR, "unit", sig, build)
    assert calls["n"] == 1
    cache_root = tmp_path / "spark_graft_roundtrip"
    cached_dirs = [
        d for d in os.listdir(cache_root) if "graph_cache_unit" in d
    ]
    assert cached_dirs, "cache dir must be written at rest"
    # same signature: served from parquet, build NOT re-invoked
    b = A._cached_edges(spark, SF_DIR, "unit", sig, build)
    assert calls["n"] == 1
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )
    # changed signature (corpus or constants moved): rebuild
    A._cached_edges(spark, SF_DIR, "unit", {"v": 2, "k": 3}, build)
    assert calls["n"] == 2
    # opt-out: build runs, cache untouched
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_CACHE", "0")
    A._cached_edges(spark, SF_DIR, "unit", {"v": 9}, build)
    assert calls["n"] == 3


def test_oracle_parity_graph(spark):
    con = duckdb_conn(SF_DIR)
    try:
        compare(
            q_ann_knn_graph(spark, SF_DIR),
            con,
            ORACLES["ann_knn_graph"],
            "ann_knn_graph",
        )
    finally:
        con.close()


def test_recall_guard_passes_and_matches_oracle(spark):
    con = duckdb_conn(SF_DIR)
    try:
        df = q_ann_knn_graph_recall(spark, SF_DIR)
        row = df.collect()[0]
        assert row.knn_recall_ok, (
            f"recall {row.total_hits} under floor {KNN_RECALL_FLOOR}"
        )
        compare(
            q_ann_knn_graph_recall(spark, SF_DIR),
            con,
            ORACLES["ann_knn_graph_recall"],
            "ann_knn_graph_recall",
        )
    finally:
        con.close()


def test_refinement_beats_init(spark):
    """NN-descent must IMPROVE on the ring init: the mean kept-edge
    score strictly increases from g0 to the final graph (on random
    vectors the init ring is near-random; refinement pulls in true
    neighbors)."""
    import legalchatbot_vectordb_exp_spark.queries_ann as A

    final_mean = (
        knn_graph_build(spark, SF_DIR).agg(F.avg("score")).collect()[0][0]
    )
    old_iters = A.KNN_ITERS
    try:
        A.KNN_ITERS = 0
        staging.clear()
        init_mean = (
            knn_graph_build(spark, SF_DIR)
            .agg(F.avg("score"))
            .collect()[0][0]
        )
    finally:
        A.KNN_ITERS = old_iters
        # drop the KNN_ITERS=0 graph (and everything staged on it)
        staging.clear()
    assert final_mean > init_mean, (
        f"refinement did not improve: init {init_mean} final {final_mean}"
    )


def test_constants_sane():
    assert KNN_GUARD_TOPK <= KNN_K
    assert KNN_ITERS >= 1
    assert KNN_RECALL_FLOOR >= 1


def test_graph_search_shape_and_recall(spark):
    from legalchatbot_vectordb_exp_spark.queries_ann import (
        GRAPH_SEARCH_RECALL_FLOOR,
        KNN_SEARCH_TOPK,
        q_ann_graph_search,
        q_ann_graph_search_recall,
    )

    res = q_ann_graph_search(spark, SF_DIR)
    per_q = (
        res.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("vec_id").alias("nd"),
        )
        .collect()
    )
    assert per_q and all(
        r.n == KNN_SEARCH_TOPK and r.nd == KNN_SEARCH_TOPK for r in per_q
    )
    row = q_ann_graph_search_recall(spark, SF_DIR).collect()[0]
    assert row.graph_recall_ok, (
        f"graph-search recall {row.total_hits} under floor "
        f"{GRAPH_SEARCH_RECALL_FLOOR}"
    )


# ----------------------- incremental maintenance (round-17, E13 half)


def test_incremental_insert_structure(spark):
    """Post-insert invariants: every new node has <= k edges all
    landing on BASE nodes; untouched base nodes carry their base edge
    lists byte-identically; affected base nodes keep exactly k edges."""
    from legalchatbot_vectordb_exp_spark.queries_ann import (
        INCR_G_ID_OFFSET,
        knn_graph_build,
        knn_graph_incremental,
    )

    final = knn_graph_incremental(spark, SF_DIR)
    # the base graph IS the shared full-corpus staged build (r17
    # item 3: no second build) — the insert batch is derived points
    base = knn_graph_build(spark, SF_DIR)
    is_new = lambda v: v >= INCR_G_ID_OFFSET  # noqa: E731
    rows = final.collect()
    new_rows = [r for r in rows if is_new(r["src"])]
    assert new_rows, "no inserted edges"
    deg = {}
    for r in new_rows:
        assert not is_new(r["dst"])  # batch links to BASE only
        deg[r["src"]] = deg.get(r["src"], 0) + 1
    assert max(deg.values()) <= KNN_K
    # affected = base nodes gaining a reverse candidate
    affected = {r["dst"] for r in new_rows}
    base_rows = base.collect()
    base_by_src = {}
    for r in base_rows:
        base_by_src.setdefault(r["src"], set()).add(
            (r["dst"], round(r["score"], 9))
        )
    final_by_src = {}
    for r in rows:
        if not is_new(r["src"]):
            final_by_src.setdefault(r["src"], set()).add(
                (r["dst"], round(r["score"], 9))
            )
    for src, edges in base_by_src.items():
        if src in affected:
            assert len(final_by_src[src]) == len(edges)  # still k
        else:
            assert final_by_src[src] == edges, src  # carried untouched


def test_incremental_recall_guard_passes(spark):
    from legalchatbot_vectordb_exp_spark.queries_ann import (
        q_ann_knn_graph_incr_recall,
    )

    row = q_ann_knn_graph_incr_recall(spark, SF_DIR).collect()[0]
    assert row["incr_recall_ok"], row


def test_source_sig_unavailable_disables_cache(
    spark, tmp_path, monkeypatch
):
    """inspect.getsource can raise in frozen/zipapp builds; the build
    signature then returns None and the at-rest cache is DISABLED for
    that build instead of failing the query (r19 ADVICE, low)."""
    import inspect

    import legalchatbot_vectordb_exp_spark.queries_ann as A

    def boom(_):
        raise OSError("source not available")

    monkeypatch.setattr(inspect, "getsource", boom)
    assert A._build_source_sig(test_source_sig_unavailable_disables_cache) is None

    monkeypatch.setenv("SPARK_GRAFT_TMP", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_GRAPH_CACHE", raising=False)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )

    sig = {"v": 1, "src": None}
    A._cached_edges(spark, SF_DIR, "nosig", sig, build)
    A._cached_edges(spark, SF_DIR, "nosig", sig, build)
    assert calls["n"] == 2, "unknowable signature must build uncached"
    root = tmp_path / "spark_graft_roundtrip"
    assert not root.exists() or not any(
        "graph_cache_nosig" in d for d in os.listdir(root)
    ), "no cache dir may be written for an unknowable signature"


def test_cache_dir_keyed_by_full_corpus_path(
    spark, tmp_path, monkeypatch
):
    """Two corpora that share a basename (e.g. both named 'sf0.1')
    must never share one at-rest cache directory (r19 ADVICE, low)."""
    import shutil

    import legalchatbot_vectordb_exp_spark.queries_ann as A

    monkeypatch.setenv("SPARK_GRAFT_TMP", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_GRAPH_CACHE", raising=False)
    twin_parent = tmp_path / "twin"
    twin = twin_parent / os.path.basename(os.path.normpath(SF_DIR))
    twin.mkdir(parents=True)
    shutil.copy(
        os.path.join(SF_DIR, "region.parquet"),
        twin / "region.parquet",
    )

    def build():
        return spark.range(2).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )

    sig = {"v": 1, "k": 1}
    A._cached_edges(spark, SF_DIR, "twin", sig, build)
    A._cached_edges(spark, str(twin), "twin", sig, build)
    root = tmp_path / "spark_graft_roundtrip"
    dirs = [d for d in os.listdir(root) if "graph_cache_twin" in d]
    assert len(dirs) == 2, f"distinct corpora must get distinct caches: {dirs}"
