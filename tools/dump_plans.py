"""Dump .explain("formatted") for named queries to plans/r13/<q>_<tag>.txt.

Usage: python tools/dump_plans.py <tag> <query> [query ...]
  tag is e.g. "before" or "after".

The plan is the pre-execution formatted physical plan (AdaptiveSparkPlan
initial plan when AQE applies). Building a query's DataFrame may pay
one-time fixture/model memoization (same as the bench warmup).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from deepicedrain_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(ROOT, "plans", "r13")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names:
        fn = qs[name]
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
