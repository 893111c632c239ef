"""The process-scoped staging registry (``staging.py``): one build per
``(name, sf_dir)`` key, DataFrame values bound to their session, a
build log, and no entry left behind by a failed build."""

from __future__ import annotations

import pytest

from legalchatbot_vectordb_exp_spark import staging
from legalchatbot_vectordb_exp_spark.queries import QUERIES
from legalchatbot_vectordb_exp_spark.queries_dedup import (
    _doc_sizes,
    _spark_pair_counts,
)


def _counting_build(calls: list, value):
    def build():
        calls.append(1)
        return value

    return build


def _log_names(since: int) -> list[str]:
    return [name for name, _, _ in staging.build_log()[since:]]


def test_build_runs_once_per_key(spark, tmp_path):
    calls: list = []
    build = _counting_build(calls, "warehouse")
    since = len(staging.build_log())
    a = staging.stage(spark, str(tmp_path), "unit_once", build)
    b = staging.stage(spark, str(tmp_path) + "/", "unit_once", build)
    assert a == b == "warehouse"
    assert len(calls) == 1, "same abspath(sf_dir) must share one build"
    staging.stage(spark, str(tmp_path / "other"), "unit_once", build)
    staging.stage(spark, str(tmp_path), "unit_twice", build)
    assert len(calls) == 3, "a new sf_dir or a new name is a new key"
    assert _log_names(since) == ["unit_once", "unit_once", "unit_twice"]
    name, sf_dir, seconds = staging.build_log()[since]
    assert sf_dir == str(tmp_path) and seconds >= 0.0


def test_clear_forces_a_rebuild(spark, tmp_path):
    calls: list = []
    build = _counting_build(calls, "v")
    staging.stage(spark, str(tmp_path), "unit_clear", build)
    staging.stage(spark, str(tmp_path), "unit_clear", build)
    assert len(calls) == 1
    staging.clear()
    staging.stage(spark, str(tmp_path), "unit_clear", build)
    assert len(calls) == 2


def test_new_session_rebuilds_dataframes_but_not_directories(
    spark, tmp_path
):
    df_calls: list = []
    dir_calls: list = []

    def build_df():
        df_calls.append(1)
        return spark.range(3)

    frame = staging.stage(spark, str(tmp_path), "unit_df", build_df)
    staging.stage(
        spark, str(tmp_path), "unit_dir", _counting_build(dir_calls, "d")
    )
    assert staging.stage(spark, str(tmp_path), "unit_df", build_df) is frame

    other = spark.newSession()
    fresh_frame = staging.stage(
        other, str(tmp_path), "unit_df", lambda: other.range(3)
    )
    assert fresh_frame is not frame
    assert fresh_frame.sparkSession is other
    assert len(df_calls) == 1  # the rebuild used the new session's build
    assert (
        staging.stage(
            other, str(tmp_path), "unit_dir", _counting_build(dir_calls, "x")
        )
        == "d"
    )
    assert dir_calls == [1], "a directory value outlives sessions"


def test_failed_build_leaves_no_entry(spark, tmp_path):
    since = len(staging.build_log())

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        staging.stage(spark, str(tmp_path), "unit_boom", boom)
    assert _log_names(since) == []
    calls: list = []
    assert (
        staging.stage(
            spark, str(tmp_path), "unit_boom", _counting_build(calls, 7)
        )
        == 7
    )
    assert calls == [1], "the next call must retry the build"


def test_fresh_removes_only_directories(tmp_path):
    d = tmp_path / "d"
    (d / "sub").mkdir(parents=True)
    assert staging.fresh(str(d)) == str(d)
    assert not d.exists()
    assert staging.fresh(str(d)) == str(d)  # absent: a no-op


def test_dedup_frames_are_shared_objects(spark, sf_smoke):
    """Jaccard and containment share one cached frame per process by
    construction, not through CacheManager plan matching."""
    assert _doc_sizes(spark, sf_smoke) is _doc_sizes(spark, sf_smoke)
    assert _spark_pair_counts(spark, sf_smoke) is _spark_pair_counts(
        spark, sf_smoke
    )


@pytest.mark.parametrize(
    "name",
    [
        "ann_knn_graph",
        "ann_hnsw_search",
        "ann_sparse_topk",
        "dedup_ngram_jaccard",
    ],
)
def test_second_call_persists_nothing_new(spark, sf_smoke, name):
    jsc = spark.sparkContext._jsc

    def run():
        QUERIES[name](spark, sf_smoke).write.mode("overwrite").format(
            "noop"
        ).save()

    run()
    since = len(staging.build_log())
    persisted = jsc.getPersistentRDDs().size()
    run()
    assert jsc.getPersistentRDDs().size() == persisted
    assert _log_names(since) == []


def test_partitioned_roundtrip_leaves_no_temp_dir(spark, sf_smoke):
    """``partitioned_roundtrip`` writes its layout to one fresh scratch
    path, so repeated runs add no ``part_roundtrip_*`` dir to the temp
    dir (each run used to leave one behind)."""
    import glob
    import os
    import tempfile

    pattern = os.path.join(tempfile.gettempdir(), "part_roundtrip_*")
    before = len(glob.glob(pattern))
    for _ in range(2):
        assert QUERIES["partitioned_roundtrip"](spark, sf_smoke).count() > 0
    assert len(glob.glob(pattern)) == before
