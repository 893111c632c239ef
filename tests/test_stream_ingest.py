"""Continuous index ingestion: readStream → embed → foreachBatch
upsert into a VectorCollection (streaming/ingest.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from legalchatbot_vectordb_exp_spark.sources.collection import (
    VectorCollection,
)
from legalchatbot_vectordb_exp_spark.streaming.ingest import (
    read_document_stream,
    stream_index_into_collection,
)


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(path)


def test_stream_index_builds_and_merges(spark, tmp_path):
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, src, [(1, "alpha beta"), (2, "gamma delta")])
    _write_docs(spark, src, [(3, "epsilon zeta")])

    coll = VectorCollection(spark, str(tmp_path / "wh"), "stream_idx")
    seed = spark.createDataFrame(
        [("2", [1.0] + [0.0] * 63)], "id string, vector array<double>"
    )
    coll.create(seed, dim=64)

    q = stream_index_into_collection(
        read_document_stream(spark, src), coll, ckpt, dim=64
    )
    q.awaitTermination(120)

    rows = {r["id"]: r for r in coll.read().collect()}
    # 3 streamed ids; id "2" was overwritten (last-writer-wins), so the
    # seed vector is gone and every vector is a unit embedding
    assert set(rows) == {"1", "2", "3"}
    for r in rows.values():
        norm = sum(x * x for x in r["vector"]) ** 0.5
        assert abs(norm - 1.0) < 1e-9
    assert list(rows["2"]["vector"])[:2] != [1.0, 0.0]

    # late-arriving update: only new offsets process on restart, and the
    # keyed merge is idempotent on the updated id
    _write_docs(spark, src, [(3, "replacement text"), (4, "eta theta")])
    v3_before = list(rows["3"]["vector"])
    q2 = stream_index_into_collection(
        read_document_stream(spark, src), coll, ckpt, dim=64
    )
    q2.awaitTermination(120)

    after = {r["id"]: list(r["vector"]) for r in coll.read().collect()}
    assert set(after) == {"1", "2", "3", "4"}
    assert after["3"] != v3_before  # id 3 re-embedded from new text


def test_changes_feed_streams_one_commit_per_batch_and_resumes(
    spark, tmp_path
):
    """CDF-as-stream (E6 ⨝ E11): each micro-batch carries exactly one
    commit's changes in commit order, and a checkpointed restart after
    new commits processes ONLY the unseen spans (stage_changes_feed is
    idempotent per version)."""
    from legalchatbot_vectordb_exp_spark.sources.versioned import (
        VersionedCollection,
    )
    from legalchatbot_vectordb_exp_spark.streaming.ingest import (
        read_changes_stream,
        stage_changes_feed,
    )

    def _mkv(rows):
        return spark.createDataFrame(
            [(i, [float(i), 1.0, 0.0], lbl) for i, lbl in rows],
            "id long, vector array<double>, label long",
        )

    coll = VersionedCollection(spark, str(tmp_path / "wh"), "cdf")
    coll.create(
        _mkv([(i, 10 * i) for i in range(8)]),
        dim=3,
        metric="dot",
        normalize=False,
    )
    coll.merge(_mkv([(1, 111), (8, 88)]))   # v1: update + insert
    coll.delete_where("id = 2")             # v2: delete

    staging = str(tmp_path / "cdf_log")
    ckpt = str(tmp_path / "cdf_ckpt")
    stage_changes_feed(coll, 0, staging_dir=staging)

    batches: list[tuple[int, set, list]] = []

    def sink(batch, epoch_id):
        rows = batch.select(
            "_commit_version", "id", "_change_type"
        ).collect()
        if rows:
            batches.append(
                (
                    epoch_id,
                    {r["_commit_version"] for r in rows},
                    sorted((r["id"], r["_change_type"]) for r in rows),
                )
            )

    q = (
        read_changes_stream(spark, staging)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # one commit per micro-batch, in commit order
    assert [sorted(vs) for _, vs, _ in batches] == [[1], [2]]
    assert batches[0][2] == [
        (1, "update_postimage"),
        (1, "update_preimage"),
        (8, "insert"),
    ]
    assert batches[1][2] == [(2, "delete")]

    # new commit after the stream stopped: restage (only v3 is added)
    coll.merge(_mkv([(9, 99)]))
    import os

    before = set(os.listdir(staging))
    stage_changes_feed(coll, 0, staging_dir=staging)
    added = set(os.listdir(staging)) - before
    assert added == {"v00000003.parquet"}

    batches.clear()
    q2 = (
        read_changes_stream(spark, staging)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # checkpointed offsets: ONLY the unseen commit is processed
    assert [sorted(vs) for _, vs, _ in batches] == [[3]]
    assert batches[0][2] == [(9, "insert")]


def test_changes_feed_span_is_stamped_before_it_becomes_visible(
    spark, tmp_path, monkeypatch
):
    """A staged span must never be observable with its raw write mtime:
    the temp part already carries ``base_t + tv`` when ``os.replace``
    publishes it, where ``base_t`` is the call's start time minus an
    hour."""
    import os
    import time

    from legalchatbot_vectordb_exp_spark.sources.versioned import (
        VersionedCollection,
    )
    from legalchatbot_vectordb_exp_spark.streaming.ingest import (
        stage_changes_feed,
    )

    coll = VersionedCollection(spark, str(tmp_path / "wh"), "cdf_mtime")
    coll.create(
        spark.createDataFrame(
            [(i, [float(i), 1.0], i) for i in range(6)],
            "id long, vector array<double>, label long",
        ),
        dim=2,
        metric="dot",
        normalize=False,
    )
    coll.delete_where("id = 1")
    coll.delete_where("id = 2")

    seen: dict[str, float] = {}
    real_replace = os.replace

    def replace(src, dst):
        seen[os.path.basename(dst)] = os.stat(src).st_mtime
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    t0 = time.time()
    staging = stage_changes_feed(
        coll, 0, staging_dir=str(tmp_path / "log")
    )
    t1 = time.time()
    assert sorted(seen) == ["v00000001.parquet", "v00000002.parquet"]
    for name, mtime in seen.items():
        tv = int(name[1:9])
        assert t0 - 3600 + tv - 1 <= mtime <= t1 - 3600 + tv + 1, name
        assert os.stat(os.path.join(staging, name)).st_mtime == mtime
