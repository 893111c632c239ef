"""Phase-level wall profile of the two most expensive bench fixtures
(sparse_layout_incremental, cdf_stream_fold): each phase is labeled
with setJobDescription and timed so the fixture cost decomposes into
its actual jobs instead of one opaque number.

Usage: SPARK_GRAFT_SF_DIR=... python tools/profile_fixtures.py [sparse|cdf|all]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from bench import warm_up  # noqa: E402
from legalchatbot_vectordb_exp_spark.session import get_spark  # noqa: E402
from legalchatbot_vectordb_exp_spark.io_tables import load_table  # noqa: E402
from legalchatbot_vectordb_exp_spark.staging import fresh, scratch  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_t: list[tuple[str, float]] = []


def phase(spark, label):
    spark.sparkContext.setJobDescription(label)
    now = time.perf_counter()
    if _t:
        print(f"  {_t[-1][0]}: {now - _t[-1][1]:.2f}s", flush=True)
    _t.append((label, now))


def profile_sparse(spark):
    import shutil

    from legalchatbot_vectordb_exp_spark.queries_sparse import (
        SPARSE_INCR_BUCKETS,
        SPARSE_INCR_DEL,
        SPARSE_INCR_MOD,
        SPARSE_INCR_SLICES,
        SPARSE_INCR_UPD,
        _postings,
    )
    from legalchatbot_vectordb_exp_spark.sources.collection import (
        VectorCollection,
    )

    warehouse = scratch(SF_DIR, "sparse_incr_profile")
    coll = VectorCollection(spark, warehouse, "doc_postings_profile")
    fresh(coll.path)
    v0 = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") % 8 == 1)
        .select("doc_id", "text")
    )
    phase(spark, "sparse: create_sparse")
    coll.create_sparse(
        _postings(v0),
        id_col="doc_id",
        term_col="term_id",
        weight_col="w",
        n_buckets=SPARSE_INCR_BUCKETS,
        doc_slices=SPARSE_INCR_SLICES,
    )
    res = F.col("doc_id") % SPARSE_INCR_MOD
    phase(spark, "sparse: merge_sparse")
    retire = _postings(v0.filter(res.isin(SPARSE_INCR_UPD, SPARSE_INCR_DEL)))
    add = _postings(
        v0.filter(res == SPARSE_INCR_UPD).withColumn(
            "text", F.concat(F.col("text"), F.lit(" rev2"))
        )
    )
    stats = coll.merge_sparse(retire, add)
    phase(spark, "sparse: read+agg (steady query body)")
    coll.read().groupBy(
        F.col("bucket").cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.countDistinct("term_id").alias("n_terms"),
        F.sum("w").cast("bigint").alias("sum_w"),
        F.sum((F.col("term_id") % 97) * F.col("w"))
        .cast("bigint")
        .alias("wsum"),
    ).write.mode("overwrite").format("noop").save()
    phase(spark, "sparse: done")
    print("  merge stats:", stats)
    shutil.rmtree(coll.path, ignore_errors=True)


def profile_cdf(spark):
    import shutil

    from legalchatbot_vectordb_exp_spark.sources.versioned import (
        VersionedCollection,
    )
    from legalchatbot_vectordb_exp_spark.streaming.ingest import (
        stage_changes_feed,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    warehouse = scratch(SF_DIR, "cdf_stream_profile")
    coll = VersionedCollection(spark, warehouse, "emb_cdf_profile")
    fresh(coll.path)
    dim = len(emb.select("embedding").head()[0])

    def sel(df, bump):
        return df.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("vector"),
            (F.col("label") + bump).alias("label"),
        )

    phase(spark, "cdf: create v0")
    coll.create(
        sel(emb.filter(F.col("vec_id") < 400), 0),
        dim=dim,
        metric="dot",
        normalize=False,
    )
    phase(spark, "cdf: merge v1")
    coll.merge(
        sel(emb.filter((F.col("vec_id") >= 350) & (F.col("vec_id") < 450)), 1000)
    )
    phase(spark, "cdf: delete v2")
    coll.delete_where("id % 7 = 0")
    phase(spark, "cdf: merge v3")
    coll.merge(
        sel(emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)), 5000)
    )
    phase(spark, "cdf: merge v4 (sentinel)")
    coll.merge(sel(emb.filter(F.col("vec_id") < 5), 9000))
    phase(spark, "cdf: stage_changes_feed")
    staging = fresh(scratch(SF_DIR, "cdf_stream_log_profile"))
    stage_changes_feed(coll, 0, 4, staging_dir=staging)
    phase(spark, "cdf: done (streaming replay not included)")
    shutil.rmtree(coll.path, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    if which not in ("sparse", "cdf", "all"):
        sys.exit(f"unknown mode {which!r}: use sparse|cdf|all")
    spark = get_spark(
        app_name="fixture-profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, SF_DIR)  # so phase 1 is not billed JVM init

    if which in ("sparse", "all"):
        print("== sparse_layout_incremental fixture ==", flush=True)
        profile_sparse(spark)
    if which in ("cdf", "all"):
        print("== cdf_stream_fold fixture (history+staging) ==", flush=True)
        profile_cdf(spark)
    spark.stop()


if __name__ == "__main__":
    main()
