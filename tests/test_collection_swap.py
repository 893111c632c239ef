"""Crash consistency of every ``VectorCollection`` rewrite path.

``upsert``, ``delete_where``, ``set_payload``, ``upsert_ivf`` and
``compact_ivf`` all replace data through the one journaled staged swap
(``_journaled_swap``).  A process crash injected at the fault seam
before the commit must reopen at exactly the pre-state; one after the
commit (right after it, or with the swap half-applied) must reopen at
exactly the post-state, with no protocol litter left inside or beside
the collection."""

from __future__ import annotations

import os
import re

import numpy as np
import pytest
from pyspark.sql.types import IntegralType

import legalchatbot_vectordb_exp_spark.sources.collection as cmod
from legalchatbot_vectordb_exp_spark.sources.collection import (
    VectorCollection,
)
from test_sparse import _arm_fault, _InjectedCrash

DIM = 8
SCHEMA = "id long, vector array<double>, label long"


def _rows(ids, seed=3):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(max(ids) + 1, DIM)
    return [(i, [float(x) for x in vecs[i]], i % 3) for i in ids]


def _flat(spark, wh, name):
    c = VectorCollection(spark, wh, name)
    df = spark.createDataFrame(_rows(range(24)), SCHEMA).repartition(3)
    return c.create(df, dim=DIM)


def _ivf(spark, wh, name):
    c = VectorCollection(spark, wh, name)
    df = spark.createDataFrame(_rows(range(48)), SCHEMA).repartition(3)
    return c.create_ivf(df.drop("label"), dim=DIM, n_clusters=3)


def _upsert(spark, c):
    # two updates and one insert
    new = [(i, v, 7) for i, v, _ in _rows([0, 5, 40], seed=9)]
    c.upsert(spark.createDataFrame(new, SCHEMA))


def _upsert_ivf(spark, c):
    # one new point per cell plus an existing id re-aimed at the
    # centroid of another cell, so every cell is rewritten and id 0
    # moves between cells
    cents = c.properties["centroids"]
    old = c.read().filter("id = 0").first()["cluster_id"]
    moved_to = next(v for cid, v in cents if cid != old)
    new = [(0, moved_to)] + [(100 + cid, v) for cid, v in cents]
    c.upsert_ivf(
        spark.createDataFrame(new, "id long, vector array<double>")
    )


def _compact_ivf(spark, c):
    assert c.compact_ivf(min_files=2)["cells_compacted"] >= 2


CASES = {
    "upsert": (_flat, _upsert),
    "delete_where": (_flat, lambda s, c: c.delete_where("id % 4 = 0")),
    "set_payload": (
        _flat,
        lambda s, c: c.set_payload({"label": "label + 100"}, "id < 9"),
    ),
    "upsert_ivf": (_ivf, _upsert_ivf),
    "compact_ivf": (_ivf, _compact_ivf),
}


def _state(c, count_files: bool) -> tuple:
    """Row multiset, plus the live data-file count when asked (it is
    all that compaction changes, and other rewrites pack their files
    by listing order, so their counts vary), after checking the
    invariants a reopen must keep."""
    df = c.read()
    if "cluster_id" in df.columns:
        assert isinstance(df.schema["cluster_id"].dataType, IntegralType)
    rows = df.select(sorted(df.columns)).collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids)), "duplicate ids"
    n_files = count_files and sum(
        f.endswith(".parquet") and not f.startswith((".", "_"))
        for _, _, files in os.walk(c.path)
        for f in files
    )
    return sorted(repr(tuple(r)) for r in rows), n_files


def _litter(wh: str) -> list[str]:
    bad = re.compile(r"(\.staging|\.old|\.compact)$|^cluster_id=[^/]*\.")
    return [
        os.path.join(root, n)
        for root, dirs, files in os.walk(wh)
        for n in dirs + files
        if bad.search(n) or n == cmod._MERGE_JOURNAL
    ]


@pytest.mark.parametrize("path", sorted(CASES))
@pytest.mark.parametrize(
    "stage,expect",
    [
        ("staged", "pre"),  # crash BEFORE the journal commit
        ("committed", "post"),  # crash right AFTER the commit point
        ("swap-step", "post"),  # crash with the swap half-applied
    ],
)
def test_rewrite_crash_reopens_at_pre_or_post(
    spark, tmp_path, monkeypatch, path, stage, expect
):
    build, op = CASES[path]
    count_files = path == "compact_ivf"
    wh = str(tmp_path)
    twin = build(spark, wh, "twin")
    op(spark, twin)
    post = _state(twin, count_files)
    c = build(spark, wh, "coll")
    pre = _state(c, count_files)
    assert pre != post  # the rewrite must be observable

    _arm_fault(monkeypatch, stage)
    with pytest.raises(_InjectedCrash):
        op(spark, c)
    monkeypatch.setattr(cmod, "_MERGE_FAULT", cmod._no_fault)

    # reopen cold, as a post-crash process would
    reopened = VectorCollection(spark, wh, "coll")
    want = pre if expect == "pre" else post
    assert _state(reopened, count_files) == want
    assert _litter(wh) == []
    if expect == "pre":
        # the collection stays writable: the rewrite re-runs to the
        # post-state and sweeps the dead swap's staging dir
        op(spark, reopened)
        assert _state(reopened, count_files) == post
    for suffix in (cmod._MERGE_STAGING_SUFFIX, cmod._MERGE_TRASH_SUFFIX):
        assert not os.path.exists(reopened.path + suffix)
    assert VectorCollection.list_collections(wh) == ["coll", "twin"]
