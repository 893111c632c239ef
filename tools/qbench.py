"""Isolated per-query micro-bench: fresh process, warmed JVM (same
warm-up as bench.py), then min-of-N noop-sink timings per named query.

Usage: python tools/qbench.py q1 q2 ...          # steady min-of-3
       QB_REPEATS=5 python tools/qbench.py q1    # more repeats

Prints per-query: first-run seconds (fixture-inclusive) and steady min.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _calibrate, warm_up  # noqa: E402
from legalchatbot_vectordb_exp_spark.queries import QUERIES  # noqa: E402
from legalchatbot_vectordb_exp_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    repeats = int(os.environ.get("QB_REPEATS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="qbench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # same warm-up as bench.py, then the calibration kernel to steady
    # state to push the JIT toward steady
    warm_up(spark, sf_dir)
    _calibrate(spark)

    out = {}
    for name in names:
        fn = QUERIES[name]
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(round(time.perf_counter() - t0, 3))
        out[name] = {"first": runs[0], "steady": min(runs[1:] or runs), "runs": runs}
        print(f"{name}: first={runs[0]} steady={min(runs[1:] or runs)} runs={runs}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
