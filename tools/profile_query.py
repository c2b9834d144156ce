"""Run named queries k times each through the noop sink, print timings.

Usage: python tools/profile_query.py [-k N] <query> [query ...]
Mirrors bench.py's run_one (build DataFrame + noop write per repetition,
clearCache between queries like the bench loop).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from deepicedrain_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    k = 3
    if args and args[0] == "-k":
        k = int(args[1])
        args = args[2:]
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in args:
        fn = qs[name]
        times = []
        for i in range(k):
            spark.sparkContext.setJobDescription(f"{name}#{i}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
        print(f"{name}: {times}  min={min(times)}", flush=True)


if __name__ == "__main__":
    main()
