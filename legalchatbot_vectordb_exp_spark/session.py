"""SparkSession factory.

The reference runs either against a Qdrant server or an embedded
in-process store (``Qdrant/main.py`` vs ``Qdrant/main2.py``,
SURVEY.md §1.4); here the analogous switch is the Spark master
(local[...] vs a cluster URL).  All scale-relevant defaults are set
once here so tests, bench and the driver agree:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing)
* Arrow on (every Pandas-UDF site pays one columnar batch hop)
* shuffle partitions sized to the local core count (on a real cluster
  this is overridden to ~2-3x total executor cores)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "legalchatbot-vectordb-exp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    # Python workers unpickle UDFs that import this package; put its
    # parent dir on their PYTHONPATH so a driver started from any
    # working directory (with only a driver-side sys.path entry) works
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.pathsep.join(
        p for p in (pkg_parent, os.environ.get("PYTHONPATH")) if p
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # events.parquet stores TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert (io_tables.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # v2 file-output commit: task files rename straight to the
        # final dir at task commit (parallel) instead of the v1 double
        # rename funneled through the driver's commitJob — measured
        # 6.96 s -> 2.49 s on a 247-file dynamic-partition write at 32
        # write tasks (and never slower at small task counts).  The
        # standard choice wherever rename is atomic (HDFS/local); the
        # same knob is what production clusters set for the same
        # reason.  Trade-off (applies to every write path, not just
        # the measured one): job-level commit is no longer all-or-
        # nothing — tasks that committed before a job abort leave
        # their files visible in the destination.  Acceptable here
        # because framework writes are mode(overwrite): every
        # VectorCollection rewrite stages into a sibling directory
        # that a journaled swap promotes, but the truncate-and-create
        # paths (create, create_ivf, create_sparse, create_multi) and
        # attach_sparse's new sidecar write in place, so a failed one
        # leaves partial files that the next create overwrites.
        # Pipelines appending into live directories should leave this
        # at v1 or use a manifest-committing table format.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
