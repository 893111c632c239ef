"""Oracle-check named queries at the sf in $SPARK_GRAFT_SF_DIR with the
test suite's oracle comparison (columns, types, row count, values).

Usage: SPARK_GRAFT_SF_DIR=<sf0.01 dir> python tools/oracle_check.py q1 q2 ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
    ),
)

from oracle_harness import compare, duckdb_conn  # noqa: E402

from legalchatbot_vectordb_exp_spark.queries import QUERIES  # noqa: E402
from legalchatbot_vectordb_exp_spark.registry import ORACLES as ORACLE_SQL  # noqa: E402
from legalchatbot_vectordb_exp_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(
        app_name="oracle-check",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_conn(sf_dir)
    failed = []
    for name in names:
        try:
            compare(QUERIES[name](spark, sf_dir), con, ORACLE_SQL[name], name)
            print(f"{name}: PASS", flush=True)
        except AssertionError as exc:
            failed.append(name)
            print(f"{name}: FAIL {exc}", flush=True)
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
