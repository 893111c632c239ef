"""Incremental IVF index maintenance (E3 x E11): the persisted layout
grows by a merge commit, no rebuild; probe equals the full build."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from legalchatbot_vectordb_exp_spark.queries_ann import (  # noqa: E402
    q_ann_ivf_incremental,
)
from legalchatbot_vectordb_exp_spark.staging import scratch  # noqa: E402
from legalchatbot_vectordb_exp_spark.sources.versioned import (  # noqa: E402
    VersionedCollection,
)

SF_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
)


def test_two_commit_shape_and_pruned_merge(spark):
    res = q_ann_ivf_incremental(spark, SF_DIR).collect()
    assert len(res) == 5
    coll = VersionedCollection(
        spark, scratch(SF_DIR, "ivf_incremental"), "emb_ivf_incr"
    )
    # exactly two commits: the base build and the incremental ingest
    assert coll.versions() == [0, 1]
    m1 = coll.manifest(1)
    assert m1["operation"].startswith("merge")
    # the ingest carried most of the layout by reference — an
    # incremental commit, not a rebuild
    assert m1["n_carried"] > 0
    assert m1["n_written"] < m1["n_carried"] + m1["n_written"]
    # time travel: the pre-ingest index is smaller and still readable
    assert coll.read(version=0).count() < coll.read(version=1).count()
