"""Dump .explain("formatted") for the named queries to plans/<round>/.

Usage: python tools/dump_plans.py --round r22 <suffix> q1 q2 ...
Writes plans/<round>/<query>_<suffix>.txt for each query.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from legalchatbot_vectordb_exp_spark.queries import QUERIES  # noqa: E402
from legalchatbot_vectordb_exp_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--round", required=True, help="plans/ subdir, e.g. r22")
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.names:
        fn = QUERIES[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange)")
    spark.stop()


if __name__ == "__main__":
    main()
