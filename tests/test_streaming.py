"""Structured Streaming operators: file-source stream → memory sink,
checked against the batch twins on the same data."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from legalchatbot_vectordb_exp_spark.io_tables import load_table
from legalchatbot_vectordb_exp_spark.streaming.events import (
    read_event_stream,
    streaming_dedup,
    streaming_sessions,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def event_dir(spark, sf_smoke, tmp_path_factory):
    """events.parquet rewritten (ts normalized to TIMESTAMP_NTZ →
    TIMESTAMP for the stream reader) into a multi-file directory so the
    file source has several triggers' worth of input."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_smoke, "events")
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    ev.repartition(4).write.mode("overwrite").parquet(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def run_to_completion(stream_df, output_mode: str, name: str, spark):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_counts_matches_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir, max_files_per_trigger=2)
    got = run_to_completion(
        tumbling_counts(stream), "append", "t_tumbling", spark
    )
    batch = (
        spark.read.parquet(event_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got_rows = {
        (r.window_start, r.event_type): r.n for r in got.collect()
    }
    # append mode only emits windows the final watermark has passed:
    # window_end <= max(ts) - 2h; later windows are still "open" state
    import datetime

    max_ts = spark.read.parquet(event_dir).agg(F.max("ts")).head()[0]
    horizon = max_ts - datetime.timedelta(hours=2)
    exp_rows = {
        (r.w.start, r.event_type): r.n
        for r in batch.collect()
        if r.w.end <= horizon
    }
    assert exp_rows and got_rows == exp_rows


def test_streaming_dedup_one_row_per_key(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    # watermark wider than the stream's 30-day span → exact dedup
    # (with a narrow watermark, duplicates separated by more than the
    # horizon legitimately re-emit — that is the operator's contract)
    got = run_to_completion(
        streaming_dedup(stream, watermark="31 days"), "append", "t_dedup", spark
    )
    out = got.groupBy("user_id", "event_type").count().collect()
    assert all(r["count"] == 1 for r in out)
    n_keys = (
        spark.read.parquet(event_dir)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got.count() == n_keys


def test_streaming_sessions_produce_rows(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    got = run_to_completion(
        streaming_sessions(stream), "append", "t_sessions", spark
    )
    rows = got.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1


def test_stream_interval_join_matches_batch(spark, event_dir):
    """Stream-stream interval join over a single availableNow batch
    emits exactly the batch interval_join row set."""
    from legalchatbot_vectordb_exp_spark.operators.interval import (
        interval_join,
    )
    from legalchatbot_vectordb_exp_spark.streaming.events import (
        stream_interval_join,
    )

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=64)
    clicks_s = stream.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch_s = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    got = run_to_completion(
        stream_interval_join(
            clicks_s, purch_s, on="user_id", upper="5 minutes",
            watermark="48 hours",
        ),
        "append",
        "t_ssj",
        spark,
    )
    batch = spark.read.parquet(event_dir)
    clicks = batch.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = batch.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    expect = interval_join(
        clicks, purch, on="user_id", lower_s=0, upper_s=300, bounds="(]"
    )
    got_pairs = sorted(
        (r.l_event_id, r.r_event_id) for r in got.collect()
    )
    exp_pairs = sorted(
        (r.event_id, r.r_event_id) for r in expect.collect()
    )
    assert got_pairs == exp_pairs and len(got_pairs) > 0


def test_streaming_replay_leaves_no_checkpoint_dir(spark, sf_smoke):
    """A streaming replay query removes its temp checkpoint dir once the
    stream has stopped (each run used to leave one stream_ckpt_* dir,
    on tmpfs where the host has one)."""
    import glob
    import os
    import tempfile

    from legalchatbot_vectordb_exp_spark.queries import QUERIES

    root = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    pattern = os.path.join(root, "stream_ckpt_*")
    before = set(glob.glob(pattern))
    assert QUERIES["events_streaming_live"](spark, sf_smoke).count() > 0
    assert set(glob.glob(pattern)) - before == set()
