"""Python workers import the package whatever the driver's working
directory: ``get_spark`` puts the package's parent dir on the
workers' ``PYTHONPATH``, so a driver that found the package through a
``sys.path`` entry alone can still run an Arrow UDF."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_udf_runs_from_foreign_cwd_without_pythonpath(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from legalchatbot_vectordb_exp_spark.ml.embed import embed_text_udf
        from legalchatbot_vectordb_exp_spark.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        df = spark.createDataFrame([("a b",), ("c",)], "text string")
        rows = df.select(embed_text_udf()("text").alias("v")).collect()
        print("ROWS", len(rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 2" in proc.stdout
