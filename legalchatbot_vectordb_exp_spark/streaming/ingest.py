"""Continuous index ingestion: the reference's batch ingest pipeline
(PDF/text → embed → normalize → upsert, ``Qdrant/main.py:91-111``)
re-expressed as Structured Streaming — new document files are embedded
and merged into a ``VectorCollection`` as they arrive, instead of the
reference's truncate-and-reload (``Qdrant/VectorDB/Database.py:10-14``).

Shape: file-source ``readStream`` → iterator ``pandas_udf`` embedding
(model loads once per executor, Arrow batches) → ``foreachBatch``
upsert.  ``foreachBatch`` is the idiomatic sink when the write is a
*merge* rather than an append: each micro-batch is a normal DataFrame,
so the collection's keyed last-writer-wins upsert (or the
partition-scoped ``upsert_ivf``) applies unchanged.  Exactly-once
comes from the checkpointed source offsets + idempotent keyed upsert
(re-processing a batch overwrites the same ids with the same values).

At 100 TB-scale ingest the same topology runs against a Kafka source
and a Delta ``MERGE`` sink; nothing in the plan changes but the
format strings.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from legalchatbot_vectordb_exp_spark.ml.embed import embed_text_udf
from legalchatbot_vectordb_exp_spark.sources.collection import (
    VectorCollection,
)

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def read_document_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    schema: StructType | None = None,
) -> DataFrame:
    """File-source stream over a directory of document parquet files
    (drop-in for Kafka here; downstream operators are source-agnostic)."""
    return (
        spark.readStream.schema(schema or DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_index_into_collection(
    docs: DataFrame,
    collection: VectorCollection,
    checkpoint_dir: str,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Start the continuous index build: embed each micro-batch and
    merge it into the collection keyed on ``id_col``.

    The embedding UDF runs *inside* the streaming plan (executors,
    Arrow batches); only the final keyed merge goes through
    ``foreachBatch``.  Idempotent by construction — the same ids
    re-upsert to the same rows — so retried batches are safe.
    """
    props = collection.properties
    vector_col = props["vector_col"]
    cid = props["id_col"]

    embedded = docs.select(
        F.col(id_col).cast("string").alias(cid),
        embed_text_udf(dim)(F.col(text_col)).alias(vector_col),
    )

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        if not batch.isEmpty():
            collection.upsert(batch)

    writer = (
        embedded.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_merge_into_versioned(
    docs: DataFrame,
    collection,
    checkpoint_dir: str,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    mode: str = "cow",
) -> StreamingQuery:
    """Continuous index build into a ``VersionedCollection``
    (``sources/versioned.py``): embed each micro-batch and merge it —
    ``mode='cow'`` (default) as a copy-on-write MERGE, ``mode='mor'``
    as a merge-on-read upsert (``merge_mor``: matched rows die via a
    deletion-vector sidecar, the batch appends as one new file).

    vs ``stream_index_into_collection``: every micro-batch becomes one
    committed VERSION — the ingest history is queryable (``history()``
    shows one ``merge:update``/``merge:mor`` per non-empty batch) and
    any past index state is time-travel readable while ingest keeps
    running (readers resolve immutable snapshots; the stream never
    overwrites what a concurrent query has open).  Restart semantics:
    checkpointed source offsets make re-processing rare, and a
    re-merged batch is value-idempotent in BOTH modes (same keys →
    same rows; the MOR replay DVs the first attempt's appended rows
    and appends equal ones) — it just burns an extra version, which
    ``vacuum`` retires.  Duplicate ids *within* one batch are rejected
    by merge's write-time validation: dedup upstream (e.g.
    ``dropDuplicatesWithinWatermark``) for sources that can repeat a
    key inside a trigger.

    Mode choice at scale: an update-heavy CDC stream re-touching the
    same hot keys makes COW rewrite the containing files EVERY
    micro-batch (per-epoch commit bytes ∝ matched-file size); MOR's
    per-epoch commit bytes stay ∝ batch size, with the rewrite
    deferred to one compact/materialize_dvs — see SCALE.md for the
    measured per-epoch comparison.  ``dv_file_budget`` bounds the
    read-side DV accumulation either way."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown ingest mode={mode!r}")
    props = collection.properties
    vector_col = props["vector_col"]
    cid = props["id_col"]

    embedded = docs.select(
        F.col(id_col).alias(cid),
        embed_text_udf(dim)(F.col(text_col)).alias(vector_col),
    )

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        if not batch.isEmpty():
            if mode == "mor":
                collection.merge_mor(batch)
            else:
                collection.merge(batch)

    writer = embedded.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stage_changes_feed(
    collection,
    from_version: int,
    to_version: int | None = None,
    *,
    staging_dir: str,
    preimages: bool = True,
) -> str:
    """Materialize a ``VersionedCollection`` change feed as a
    commit-ordered streaming log: one parquet file per commit span
    ``changes(v, v+1)``, stamped with ``_commit_version`` and a
    deterministic ``_commit_ts`` event time, with strictly increasing
    file mtimes so FileStreamSource's documented mtime ordering
    replays commits in order (same contract as the events replay
    staging).

    Idempotent per version — a span already staged is skipped — so
    after new commits land, calling this again appends ONLY the new
    spans and a checkpointed stream resumes exactly at the first
    unseen commit (the Delta CDF-as-stream pattern: the table's
    commit log IS the stream, each commit one micro-batch).  At
    production scale the staging step is the CDC egress job that
    tails the log; everything downstream is source-agnostic."""
    import glob as _glob
    import os
    import shutil
    import time as _time

    import pyspark.sql.functions as _F

    if to_version is None:
        to_version = collection.latest_version()
    os.makedirs(staging_dir, exist_ok=True)
    base_t = _time.time() - 3600  # recent enough for maxFileAge

    def _stage_span(v: int) -> None:
        """One commit span -> one staged file.  Independent of every
        other span, so spans run as CONCURRENT Spark jobs (guide
        §2.6): each span's manifest-diff job is mostly scheduler/IO
        wait at small change volumes, and the driver otherwise runs
        them strictly back-to-back.  Each file is stamped with its
        commit-order mtime (base_t + tv, 1 s apart — ms-granularity
        listing) while it is still the temp part, BEFORE the rename
        makes it visible: rename keeps the inode's mtime, so a file
        is never observable under ``staging_dir`` with its raw write
        mtime, and base_t is fixed up front, so the stamps are
        thread-safe.  A lister
        racing the pool can still see span v+2 before v+1 exists —
        with concurrent staging, start/resume streams only after this
        function returns (the replay queries all do)."""
        tv = v + 1
        dest = os.path.join(staging_dir, f"v{tv:08d}.parquet")
        if os.path.exists(dest):
            return
        feed = (
            collection.changes(v, tv, preimages=preimages)
            .withColumn("_commit_version", _F.lit(tv).cast("long"))
            .withColumn(
                "_commit_ts", _F.timestamp_seconds(_F.lit(tv * 3600))
            )
        )
        tmp = dest + ".tmpdir"
        feed.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = sorted(_glob.glob(os.path.join(tmp, "part-*")))[0]
        os.utime(part, (base_t + tv, base_t + tv))
        os.replace(part, dest)
        shutil.rmtree(tmp, ignore_errors=True)

    spans = list(range(from_version, to_version))
    if len(spans) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, len(spans))) as pool:
            list(pool.map(_stage_span, spans))
    else:
        for v in spans:
            _stage_span(v)
    return staging_dir


def read_changes_stream(
    spark: SparkSession,
    staging_dir: str,
    versions_per_trigger: int = 1,
) -> DataFrame:
    """Streaming DataFrame over a staged change feed
    (``stage_changes_feed``): with the default one file per trigger,
    each micro-batch is exactly one commit's row-level changes —
    commit atomicity is preserved across the stream, and the
    checkpointed file-source offsets give exactly-once per commit
    across restarts."""
    schema = spark.read.parquet(staging_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", versions_per_trigger)
        .parquet(staging_dir)
    )
