"""Event/time-series query family (extension E6 — SURVEY.md §2.9),
batch-mode equivalents of the Structured Streaming operators in
``streaming/`` so the driver's DuckDB oracle can check the windowing
semantics (the streaming versions share the same expressions).

``events.ts`` arrives as TIMESTAMP_NTZ via io_tables.load_table, so
every bucket below is timezone-independent on both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from legalchatbot_vectordb_exp_spark.io_tables import load_table
from legalchatbot_vectordb_exp_spark.registry import register
from legalchatbot_vectordb_exp_spark.staging import fresh, scratch, stage


@register(
    "events_tumbling",
    sql="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(round(sum(value::DECIMAL(18,4)), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation — the batch twin of the
    streaming ``tumbling_counts`` operator (same window expression)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")), 2
            ).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "events_sliding",
    sql="""
    WITH starts AS (
      SELECT e.*, unnest([
               time_bucket(INTERVAL 30 MINUTE, ts),
               time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE
             ]) AS window_start
      FROM events e
    )
    SELECT window_start, count(*) AS n,
           CAST(round(sum(value::DECIMAL(18,4)), 2) AS DOUBLE) AS total_value
    FROM starts
    GROUP BY window_start
    """,
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min step): each event lands in
    two windows; Spark's window() generates them natively."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")), 2
            ).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@register(
    "events_sessionize",
    sql="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id, session_id::BIGINT AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: lag → new-session
    flag → running count = session id → per-session aggregates.  The
    streaming twin is ``session_window`` in streaming/events.py."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    # microsecond-precision gap: a SECOND-granularity diff would truncate
    # sub-second gaps and disagree with the oracle's interval comparison
    prev = F.lag("ts").over(w)
    gap_us = F.expr("timestampdiff(MICROSECOND, _prev, ts)")
    ordered = ev.withColumn("_prev", prev).select(
        "user_id",
        "ts",
        F.when(prev.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = ordered.withColumn("session_id", F.sum("is_new").over(run))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


_STREAM_RUN = {"n": 0}


def _stage_ordered_log(
    spark: SparkSession, sf_dir: str, variant: str, frame: DataFrame
) -> str:
    """Write ``frame`` as a time-range-partitioned parquet directory
    whose part files carry STRICTLY INCREASING mtimes in range order.

    Spark's FileStreamSource orders pending files by modification
    time (cf. ``latestFirst``), NOT by path, and concurrent write
    tasks finish in arbitrary order — so path-ordered staging alone
    does not guarantee an in-order replay (round-3 review, medium).
    Stamping mtimes explicitly (1 s apart, far above the ms
    granularity of the file listing) pins the replay order to the
    event-time order under Spark's documented contract.

    The staged files are a pure deterministic projection of the source
    table, so the log is staged once per process under the sf scratch
    directory (re-staging per invocation would only re-measure test
    scaffolding, not the streaming engine)."""
    import glob
    import os
    import time as _time

    def build():
        staging = fresh(scratch(sf_dir, f"events_{variant}"))
        frame.write.parquet(staging)
        parts = sorted(glob.glob(os.path.join(staging, "part-*")))
        base = _time.time() - 3600  # recent enough for maxFileAge
        for i, path in enumerate(parts):
            os.utime(path, (base + i, base + i))
        return staging

    return stage(spark, sf_dir, f"events_{variant}", build)


def replay_to_memory(frame: DataFrame, name: str) -> None:
    """Run a streaming ``frame`` once (availableNow) into the append-mode
    memory sink ``name`` and wait for it.  The checkpoint dir is on
    tmpfs when the host has one: the offset/commit WAL is many tiny
    fsync'd files, which dominates a short replay's wall clock on disk
    (measured 1.7 s → 1.3 s at sf0.1).  A production deployment points
    it at durable shared storage instead — the replays are one-shot and
    never resumed, so the dir is removed once the query has stopped."""
    import os
    import shutil
    import tempfile

    root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = tempfile.mkdtemp(dir=root, prefix="stream_ckpt_")
    try:
        q = (
            frame.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # a timed-out replay would read a PARTIAL memory sink
            # (nondeterministic result) and leave the query running
            # against staging a later run may clear — stop it and fail
            # loudly instead
            q.stop()
            raise TimeoutError(
                f"streaming replay {name} did not finish in 300s"
            )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "events_streaming_live",
    sql="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             event_type, count(*) AS n,
             CAST(round(sum(value::DECIMAL(18,4)), 2) AS DOUBLE)
               AS total_value
      FROM events GROUP BY 1, 2
    ),
    wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT a.window_start, a.event_type, a.n, a.total_value
    FROM agg a, wm
    WHERE a.window_start + INTERVAL 1 HOUR <= wm.w
    """,
)
def q_events_streaming_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension E6 live: the actual Structured Streaming tumbling
    aggregation (streaming/events.py) executed with an availableNow
    trigger over the events table staged as a multi-file stream source.

    Deterministic-replay oracle (round-2 review item): the staged
    files are TIME-RANGE partitioned (``repartitionByRange(ts)``) and
    ``_stage_ordered_log`` stamps strictly increasing mtimes in range
    order, so the 2-files-per-trigger replay consumes the log in
    event-time order under FileStreamSource's documented
    mtime-ordering contract (round-3 review: path order alone is NOT
    that contract) — no row is ever late, exactly like replaying a
    day of Kafka offsets — and append mode's final availableNow flush
    emits precisely the windows whose end the terminal watermark
    (``max(ts) - 2 h``) has passed.  That set, and the decimal-exact
    window sums (order-independent across micro-batches), are
    relationally expressible, so the last formerly rows-only query now
    hash-checks against DuckDB."""
    from legalchatbot_vectordb_exp_spark.streaming.events import (
        read_event_stream,
        tumbling_counts,
    )

    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    # stage only the columns the aggregation consumes — the live-stream
    # demo shouldn't pay to copy props/user_id/event_id through disk
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    staging = _stage_ordered_log(
        spark, sf_dir, "stream", ev.repartitionByRange(4, "ts")
    )
    narrow = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )

    _STREAM_RUN["n"] += 1
    name = f"events_streaming_live_{_STREAM_RUN['n']}"
    stream = read_event_stream(
        spark, staging, max_files_per_trigger=2, schema=narrow
    )
    # one state store per shuffle partition is created AT QUERY START
    # and each pays fixed setup cost; size to this stream's key
    # cardinality (hour × event_type windows), not the batch session
    # default.  At production throughput the knob scales UP.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(min(int(prev_parts), 4))
        )
        replay_to_memory(tumbling_counts(stream), name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name).select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
        F.round(F.col("total_value"), 2).cast("double").alias("total_value"),
    )


@register(
    "events_dedup",
    sql="""
    SELECT user_id, event_type, count(*) AS n_dupes,
           min(event_id) AS first_event_id
    FROM events
    GROUP BY user_id, event_type
    """,
)
def q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level dedup accounting (batch twin of streaming
    ``dropDuplicatesWithinWatermark`` on (user_id, event_type))."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_dupes"),
        F.min("event_id").alias("first_event_id"),
    )


@register(
    "events_stream_join_live",
    sql="""
    SELECT l.event_id AS click_id,
           count(*) AS n_purchases,
           CAST(round(sum(CAST(r.value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS purchase_value
    FROM events l
    JOIN events r
      ON l.user_id = r.user_id
     AND r.ts > l.ts
     AND r.ts <= l.ts + INTERVAL 5 MINUTE
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    GROUP BY l.event_id
    """,
)
def q_events_stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stream-stream interval join (E6): clicks and purchases run
    as two watermarked file-source streams through
    ``stream_interval_join``; the joined pairs land in a memory sink
    and the final per-click rollup happens in batch on that result.

    Unlike the windowed live query this one IS oracle-checked: the
    whole input is staged as one availableNow trigger (single
    microbatch — the watermark never advances mid-run, so no pair can
    be dropped as late) and a stream-stream inner join emits exactly
    the batch join's row set.  Same oracle SQL as
    ``interval_join_events``."""
    from legalchatbot_vectordb_exp_spark.streaming.events import (
        EVENT_SCHEMA,
        read_event_stream,
        stream_interval_join,
    )

    # stage only the columns the two join sides consume (no props).
    # Single-batch replay (maxFilesPerTrigger >= file count), so no
    # file-order dependency; the shared staging cache still applies.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    staging = _stage_ordered_log(spark, sf_dir, "ssj", ev.repartition(4))

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    narrow = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = read_event_stream(
        spark, staging, max_files_per_trigger=64, schema=narrow
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = stream_interval_join(
        clicks, purchases, on="user_id", lower="0 seconds",
        upper="5 minutes", watermark="48 hours",
    )

    _STREAM_RUN["n"] += 1
    name = f"events_stream_join_live_{_STREAM_RUN['n']}"
    # stream-stream join state stores are created one per shuffle
    # partition AT QUERY START and each pays fixed setup cost; size
    # them to this stream's key cardinality instead of the batch
    # session default (32 → 4 cuts the live run ~3×).  At production
    # throughput this knob scales UP with stream volume.  The batch
    # rollup below runs after the conf is restored.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled"
    )
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(min(int(prev_parts), 4))
        )
        # A stream-stream INNER join emits rows only when matching
        # data arrives — the trailing zero-row micro-batch a default
        # availableNow replay runs after the data batch exists solely
        # to advance the watermark and evict state, and this one-shot
        # replay discards that state anyway.  Skipping it halves the
        # micro-batch count with a bit-identical emitted row set
        # (measured A/B: identical hashes, steady 2.6 → 2.0 s).  The
        # windowed-aggregation replays (events_streaming_live,
        # cdf_stream_fold) are NOT eligible: append mode emits their
        # final windows IN that no-data flush batch.
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "false"
        )
        replay_to_memory(joined, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
    return (
        spark.table(name)
        .groupBy(F.col("l_event_id").alias("click_id"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.col("r_value").cast("decimal(18,4)")), 2
            ).cast("double").alias("purchase_value"),
        )
    )


@register(
    "events_unpivot",
    sql="""
    WITH wide AS (
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click') AS clicks,
             count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
             count(*) FILTER (WHERE event_type = 'error') AS errors
      FROM events GROUP BY user_id
    )
    SELECT user_id, 'clicks' AS metric, clicks AS n FROM wide
    UNION ALL
    SELECT user_id, 'purchases' AS metric, purchases AS n FROM wide
    UNION ALL
    SELECT user_id, 'errors' AS metric, errors AS n FROM wide
    """,
)
def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT (the inverse of ``events_pivot``): one
    grouped pass builds the wide per-user metric row (conditional
    counts combine map-side), then ``DataFrame.unpivot`` melts the
    metric columns without any further shuffle — the melt is a
    projection-level row generator, so at 100 TB it adds zero exchange
    on top of the aggregation that produced the wide frame."""
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "purchases"
        ),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("errors"),
    )
    return wide.unpivot(
        ["user_id"], ["clicks", "purchases", "errors"], "metric", "n"
    )


@register(
    "time_gapfill",
    sql="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 1 HOUR, min(ts)) AS lo,
             time_bucket(INTERVAL 1 HOUR, max(ts)) AS hi
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(
               (SELECT lo FROM b), (SELECT hi FROM b),
               INTERVAL 1 HOUR)) AS bucket
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             event_type,
             count(*) AS n_raw,
             round(CAST(sum(value::DECIMAL(18,4)) AS DOUBLE)
                   / count(*), 6) AS avg_v
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type,
           h.bucket,
           coalesce(y.n_raw, 0) AS n,
           last_value(y.avg_v IGNORE NULLS) OVER (
             PARTITION BY t.event_type ORDER BY h.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS avg_value_locf
    FROM hours h
    CROSS JOIN types t
    LEFT JOIN hourly y
      ON y.bucket = h.bucket AND y.event_type = t.event_type
    """,
)
def q_time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill: a dense (hour x event_type) grid with
    zero-filled counts and last-observation-carried-forward averages —
    the `time_bucket_gapfill` / `locf` operator of time-series stores,
    composed from built-ins.

    Scale shape: the grid is metadata-sized (time-range/granularity x
    type cardinality); bounds and the type dimension derive from the
    hourly aggregate, never from raw facts, so every branch is shrunk
    by the same map-side-combining groupBy (the single-expression form
    re-scans the pruned fact columns per branch; a production pipeline
    materializes the grid-sized ``hourly`` frame once and the grid
    branches become free).  The hourly aggregate broadcasts into the
    grid join (the preserved grid side never shuffles); LOCF is one
    window over the *grid-sized* frame.
    The avg is DECIMAL-sum / count, rounded before LOCF, so the
    carried value is bit-identical on both engines."""
    ev = load_table(spark, sf_dir, "events")
    # window() (not date_trunc) for the bucket: date_trunc returns
    # session-tz TIMESTAMP even for NTZ input, which would shift every
    # bucket in a non-UTC driver session; window() preserves NTZ.
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_v"),
    ).select(F.col("w.start").alias("bucket"), "event_type", "n_raw", "avg_v")
    # Bounds AND the type dimension both derive from the hourly
    # aggregate (identical subplan → Spark reuses the one shuffle
    # exchange, so the fact table is scanned once, not three times);
    # bucket is already NTZ and hour-aligned, and sequence() over NTZ
    # bounds stays NTZ.
    bounds = hourly.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    hours = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias(
            "bucket"
        )
    )
    types = hourly.select("event_type").distinct()
    grid = hours.crossJoin(types)
    filled = grid.join(F.broadcast(hourly), ["bucket", "event_type"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "bucket",
        F.coalesce("n_raw", F.lit(0)).alias("n"),
        F.last("avg_v", ignorenulls=True).over(w).alias("avg_value_locf"),
    )


EWMA_SPAN = 8  # trailing rows in the half-decay window

@register(
    "events_ewma",
    sql=f"""
    WITH arrs AS (
      SELECT event_id, user_id,
             list(round(value * 1000)::BIGINT) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {EWMA_SPAN - 1} PRECEDING AND CURRENT ROW
             ) AS vs
      FROM events
    )
    SELECT event_id, user_id,
           list_reduce(list_prepend(0::BIGINT,
             list_transform(
               list_zip(vs, generate_series(len(vs) - 1, 0, -1)),
               x -> x[1] * (1::BIGINT << ({EWMA_SPAN - 1} - x[2])::INT))),
             (acc, x) -> acc + x) AS ewma_fp
    FROM arrs
    """,
)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted *decayed sum* per actor — decay ½ per
    step over the trailing {EWMA_SPAN} rows — in **exact fixed
    point**.  Note this is the unnormalized EWMA numerator, not the
    average: the output column ``ewma_fp`` is
    ``sum(value_age × 1000 × 2^({EWMA_SPAN - 1} − age))`` over ages
    0..len(vs)−1 (age 0 = current row, halving each step back), i.e.
    the decayed-weight numerator × 1000 as BIGINT; a caller wanting
    the normalized EWMA divides by the weight sum
    (2^{EWMA_SPAN} − 2^({EWMA_SPAN} − len(vs))) downstream.  Keeping
    the numerator keeps every half-decay weight an integer.

    Why fixed point: a float EWMA here is a dyadic sum whose decimal
    expansion terminates with a '5' at the 7th digit for a large
    fraction of rows, and Spark's BigDecimal-exact ``round(x, 6)``
    disagrees with DuckDB's double-scaled ``round`` on exactly those
    halfway values (measured: 3 per 1000 rows).  Quantizing inputs to
    milli-int (exact — source values carry 2 decimals) and weighting
    by 2^(span−1−p) keeps the whole aggregate in order-free integer
    arithmetic: bit-identical everywhere, no fold-order or rounding
    escape hatch needed (the kmeans_refine trick applied to a window
    aggregate).

    Scale shape: ONE hash partition by actor + in-partition sort —
    the canonical time-series window plan; the trailing frame is
    rows-bounded so state per row is O(span), never the history."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_SPAN - 1), 0)
    )
    vmilli = F.round(F.col("value") * 1000).cast("bigint")
    vs = F.collect_list(vmilli).over(w)
    arrs = ev.select("event_id", "user_id", vs.alias("vs"))
    ps = F.sequence(F.size("vs") - 1, F.lit(0), F.lit(-1))
    # 2^(span-1-p) multiplier lookup (indexed by p; exact integers)
    mlut = F.lit([1 << (EWMA_SPAN - 1 - p) for p in range(EWMA_SPAN)])
    weighted = F.zip_with(
        F.col("vs"),
        ps,
        lambda v, p: v * F.element_at(mlut, p.cast("int") + 1),
    )
    ewma_fp = F.aggregate(
        weighted, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return arrs.select("event_id", "user_id", ewma_fp.alias("ewma_fp"))
