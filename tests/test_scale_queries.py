"""Plan-shape + invariant pins for the queries_scale family
(incremental dedup, substring spans, SemDeDup, Bloom semi-join).
Value-level parity vs DuckDB is covered by test_oracle_parity."""

from __future__ import annotations

import pyspark.sql.functions as F

from legalchatbot_vectordb_exp_spark.queries_scale import (
    q_bloom_prune_join,
    q_dedup_incremental,
    q_semdedup_cells,
    q_substring_dedup_spans,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dedup_incremental_no_cartesian(spark, sf_smoke):
    plan = _plan(q_dedup_incremental(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_spans_no_cartesian_and_bounded_ratio(spark, sf_smoke):
    df = q_substring_dedup_spans(spark, sf_smoke)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    bad = df.filter(
        (F.col("n_dup_grams") > F.col("n_grams"))
        | (F.col("dup_ratio") < 0)
        | (F.col("dup_ratio") > 1)
    ).count()
    assert bad == 0


def test_semdedup_no_cartesian_min_id_always_kept(spark, sf_smoke):
    """The pairwise join must be equi-blocked on cluster_id, and the
    greedy-by-id policy guarantees each cluster's smallest vec_id has
    no smaller neighbor — it must always be kept."""
    df = q_semdedup_cells(spark, sf_smoke).cache()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    mins = df.groupBy("cluster_id").agg(F.min("vec_id").alias("vec_id"))
    dropped_min = (
        df.join(mins, ["cluster_id", "vec_id"]).filter(~F.col("kept")).count()
    )
    assert dropped_min == 0
    # the policy must actually drop something on the dense smoke corpus
    assert df.filter(~F.col("kept")).count() > 0
    df.unpersist()


def test_kmeans_refine_partitions_corpus_no_cartesian(spark, sf_smoke):
    """Every vector lands in exactly one cluster (member counts sum to
    the corpus), clusters are a subset of the initial centroid ids,
    and no plan stage degenerates to a cartesian product."""
    import pyspark.sql.functions as F2

    from legalchatbot_vectordb_exp_spark.io_tables import load_table
    from legalchatbot_vectordb_exp_spark.queries_ann import ivf_mod_for
    from legalchatbot_vectordb_exp_spark.queries_scale import q_kmeans_refine

    df = q_kmeans_refine(spark, sf_smoke).cache()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    emb = load_table(spark, sf_smoke, "embeddings")
    n = emb.count()
    assert df.agg(F2.sum("n_members")).head()[0] == n
    mod = ivf_mod_for(n)
    bad = df.filter(F2.col("cluster_id") % mod != 0).count()
    assert bad == 0
    df.unpersist()


def test_cms_never_underestimates(spark, sf_smoke):
    """The count-min one-sided guarantee: estimate ≥ exact for EVERY
    key, not just the reported heavy hitters."""
    import pyspark.sql.functions as F2

    from legalchatbot_vectordb_exp_spark import queries_scale as qs

    old = qs.CMS_THRESHOLD
    qs.CMS_THRESHOLD = 0  # report all keys for the check
    try:
        df = qs.q_cms_heavy_hitters(spark, sf_smoke)
        under = df.filter(F2.col("cms_est") < F2.col("exact_cnt")).count()
        assert under == 0
        assert df.count() > 0
    finally:
        qs.CMS_THRESHOLD = old


def test_negative_sampling_never_selects_self(spark, sf_smoke):
    import pyspark.sql.functions as F2

    from legalchatbot_vectordb_exp_spark.io_tables import load_table
    from legalchatbot_vectordb_exp_spark.queries_training import (
        NEG_K,
        q_negative_sampling,
    )

    df = q_negative_sampling(spark, sf_smoke).cache()
    n = load_table(spark, sf_smoke, "embeddings").count()
    assert df.count() == n * NEG_K
    assert df.filter(F2.col("neg_id") == F2.col("vec_id")).count() == 0
    assert (
        df.filter((F2.col("neg_id") < 0) | (F2.col("neg_id") >= n)).count()
        == 0
    )
    df.unpersist()


def test_hard_negatives_cross_label_only(spark, sf_smoke):
    import pyspark.sql.functions as F2

    from legalchatbot_vectordb_exp_spark.io_tables import load_table
    from legalchatbot_vectordb_exp_spark.queries_training import (
        HARD_NEG_ANCHORS,
        HARD_NEG_K,
        q_hard_negatives,
    )

    df = q_hard_negatives(spark, sf_smoke).cache()
    assert df.count() == HARD_NEG_ANCHORS * HARD_NEG_K
    emb = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", "label"
    )
    same = (
        df.join(
            emb.select(
                F2.col("vec_id").alias("anchor_id"),
                F2.col("label").alias("al"),
            ),
            "anchor_id",
        )
        .join(
            emb.select(
                F2.col("vec_id").alias("neg_id"),
                F2.col("label").alias("nl"),
            ),
            "neg_id",
        )
        .filter(F2.col("al") == F2.col("nl"))
        .count()
    )
    assert same == 0
    df.unpersist()


def test_dq_audit_clean_data_zero_violations(spark, sf_smoke):
    """The synthetic warehouse is referentially intact — every audit
    metric must be zero, and all seven checks must be present."""
    import pyspark.sql.functions as F2

    from legalchatbot_vectordb_exp_spark.queries_scale import q_dq_audit

    df = q_dq_audit(spark, sf_smoke).cache()
    assert df.count() == 7
    assert df.filter(F2.col("value") != 0).count() == 0
    df.unpersist()


def test_graph_triangles_counts_are_consistent(spark, sf_smoke):
    row = __import__(
        "legalchatbot_vectordb_exp_spark.queries_scale", fromlist=["x"]
    ).q_graph_triangles(spark, sf_smoke).head()
    assert 0 < row["n_triangles"] <= row["n_wedges"]
    assert row["n_edges"] > 0


def test_incremental_mv_equals_direct_recompute(spark, sf_smoke):
    """The maintained MV must equal a from-scratch aggregation of the
    post-CDC state — checked Spark-vs-Spark (the oracle pins it
    cross-engine)."""
    import pyspark.sql.functions as F2

    from legalchatbot_vectordb_exp_spark.io_tables import load_table
    from legalchatbot_vectordb_exp_spark.queries_roundtrip import (
        q_incremental_agg_maintain,
    )

    got = sorted(
        map(tuple, q_incremental_agg_maintain(spark, sf_smoke).collect())
    )
    orders = load_table(spark, sf_smoke, "orders")
    k = F2.col("o_orderkey")
    direct = sorted(
        map(
            tuple,
            orders.filter((k % 10 == 0) | ((k % 10 != 0) & (k % 97 != 0)))
            .groupBy("o_orderpriority")
            .agg(
                F2.count(F2.lit(1)).alias("n_orders"),
                F2.sum(
                    F2.round(F2.col("o_totalprice") * 1000).cast("bigint")
                ).alias("revenue_milli"),
            )
            .collect(),
        )
    )
    assert got == direct


def test_zorder_buckets_are_bounded_rectangles(spark, sf_smoke):
    """Fixing the top (2*Z_BITS - shift) zaddr bits pins the top
    (Z_BITS - shift/2) bits of EACH dimension, so every coarse bucket
    spans < 2^(shift/2) of both user and minute space — the property
    that makes min-max stripe indexes prune on two columns at once."""
    import pyspark.sql.functions as F2

    from legalchatbot_vectordb_exp_spark.queries_scale import (
        Z_BUCKET_SHIFT,
        q_zorder_layout,
    )

    df = q_zorder_layout(spark, sf_smoke).cache()
    assert df.count() >= 2
    half = 2 ** (Z_BUCKET_SHIFT // 2)
    bad = df.filter(
        (F2.col("user_span") >= half) | (F2.col("minute_span") >= half)
    ).count()
    assert bad == 0
    df.unpersist()


def test_orc_roundtrip_preserves_every_row(spark, sf_smoke):
    """The all-column equality join drops rows on ANY mangling, so the
    result count must equal the source slice exactly."""
    import pyspark.sql.functions as F2

    from legalchatbot_vectordb_exp_spark.io_tables import load_table
    from legalchatbot_vectordb_exp_spark.queries_roundtrip import (
        q_orc_roundtrip,
    )

    want = (
        load_table(spark, sf_smoke, "orders")
        .filter(F2.col("o_orderkey") % 7 == 0)
        .count()
    )
    assert q_orc_roundtrip(spark, sf_smoke).count() == want


def test_bloom_prune_join_plan_and_no_false_negatives(spark, sf_smoke):
    """The bloom membership test is a scan-stage literal-array filter:
    the ONLY join in the plan is the broadcast exact-measurement join —
    no shuffle join anywhere.  And a Bloom filter admits false
    positives but never false negatives: every exact match passes."""
    df = q_bloom_prune_join(spark, sf_smoke)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    row = df.head()
    assert row["n_bloom_pass"] >= row["n_exact"]
    assert row["n_bloom_pass"] - row["n_exact"] == row["n_false_positive"]


def test_hll_register_merge_equals_recompute(spark, sf_smoke):
    """The mergeable-sketch contract: MAX-merging the five per-group
    register sets (the stored-sketch union a 100 TB pipeline does
    across days/partitions) lands on exactly the registers a direct
    recompute over the union of rows produces — max's associativity,
    the reason HLL registers can be stored per-partition and folded
    later.  Also pins the estimate guard the query emits."""
    from legalchatbot_vectordb_exp_spark.io_tables import load_table
    from legalchatbot_vectordb_exp_spark.queries_scale import (
        HLL_M,
        _hll_rho_case,
        q_hll_register_merge,
    )

    orders = load_table(spark, sf_smoke, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_custkey").alias("k"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % HLL_M
    )
    h2 = F.conv(
        F.substring(F.md5(F.col("k").cast("string")), 9, 5), 16, 10
    ).cast("bigint")
    keyed = orders.withColumn("h2_val", h2).select(
        "grp",
        bucket.alias("bucket"),
        F.expr(_hll_rho_case("h2_val")).alias("rho"),
    )
    per_group = keyed.groupBy("grp", "bucket").agg(
        F.max("rho").alias("r")
    )
    merged = per_group.groupBy("bucket").agg(F.max("r").alias("r"))
    direct = keyed.groupBy("bucket").agg(F.max("rho").alias("r"))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )

    rows = q_hll_register_merge(spark, sf_smoke).collect()
    assert len(rows) == 6  # five priorities + the merged ALL sketch
    assert all(r["within_20pct"] for r in rows)
    # estimates are exact-integer deterministic: re-running cannot move
    rows2 = q_hll_register_merge(spark, sf_smoke).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_dedup_index_cdc_maintain_equals_recompute(spark, sf_smoke):
    """The maintenance invariant at ROW granularity (the driver oracle
    checks the per-band rollup): retiring delete/update ids from the
    stored v0 index and appending re-shingled feed rows lands on
    exactly the band rows a from-scratch index over the final snapshot
    produces — no stale row, no double-add, no missed retirement."""
    from legalchatbot_vectordb_exp_spark.queries_roundtrip import (
        _doc_bands,
        q_dedup_index_cdc_maintain,
    )
    from legalchatbot_vectordb_exp_spark.staging import scratch
    from legalchatbot_vectordb_exp_spark.sources.versioned import (
        VersionedCollection,
    )

    q_dedup_index_cdc_maintain(spark, sf_smoke).collect()  # build
    coll = VersionedCollection(
        spark, scratch(sf_smoke, "dedup_idx_cdc"), "docs_idx"
    )
    final = coll.read().select(F.col("id").alias("doc_id"), "text")
    recompute = sorted(map(tuple, _doc_bands(final).collect()))

    index_v0 = spark.read.parquet(scratch(sf_smoke, "dedup_idx_bands"))
    feed = coll.changes(0, 2)
    retired = feed.filter(
        F.col("_change_type").isin("delete", "update_postimage")
    ).select(F.col("id").alias("doc_id"))
    arrived = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(F.col("id").alias("doc_id"), "text")
    maintained = index_v0.join(
        retired, "doc_id", "left_anti"
    ).unionByName(_doc_bands(arrived))
    assert sorted(map(tuple, maintained.collect())) == recompute

    # O(changes) claim: the re-shingled set is the feed's touch set,
    # a strict subset of the corpus
    n_changed = arrived.count()
    n_corpus = final.count()
    assert 0 < n_changed < n_corpus
