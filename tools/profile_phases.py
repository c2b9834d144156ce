"""Per-query phase profile: split wall into BUILD (python/py4j
DataFrame construction), PLAN (analysis+optimization+physical planning
via the internal queryExecution, no jobs), and EXEC (noop write minus
the already-paid planning).

Usage: python tools/profile_phases.py [-k N] [query ...]
With no query names: profile EVERY registered query once (build/plan/
exec), print a sorted table. Mirrors bench.py clearCache hygiene.
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
    k = 1
    if args and args[0] == "-k":
        k = int(args[1])
        args = args[2:]
    spark = get_spark("profile-phases")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    names = args or list(qs)
    # JVM warmup
    try:
        d = qs["height_range_per_point"](spark, SF_DIR)
        d.write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    rows = []
    for name in names:
        fn = qs[name]
        best = None
        for i in range(k):
            spark.sparkContext.setJobDescription(f"{name}#phases{i}")
            t0 = time.time()
            try:
                df = fn(spark, SF_DIR)
            except Exception as e:  # noqa: BLE001
                print(f"BUILD-ERROR {name}: {e}", file=sys.stderr)
                break
            t1 = time.time()
            # force full planning without running jobs
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            cur = (t1 - t0, t2 - t1, t3 - t2, t3 - t0)
            best = cur if best is None or cur[3] < best[3] else best
            spark.catalog.clearCache()
        if best:
            rows.append((name, *best))
    rows.sort(key=lambda r: -r[4])
    print(f"{'query':40s} {'build':>7s} {'plan':>7s} {'exec':>7s} {'total':>7s}")
    tb = tp = te = tt = 0.0
    for name, b, p, e, t in rows:
        print(f"{name:40s} {b:7.3f} {p:7.3f} {e:7.3f} {t:7.3f}")
        tb += b; tp += p; te += e; tt += t
    print(f"{'TOTAL':40s} {tb:7.2f} {tp:7.2f} {te:7.2f} {tt:7.2f}")


if __name__ == "__main__":
    main()
