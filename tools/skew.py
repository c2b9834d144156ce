"""Shuffle-skew instrumentation: run suite queries and flag exchanges
whose max-task shuffle write dwarfs the median task — the symptom that
becomes a straggler at 1000 executors long before it shows at local
scale.

For each query the tool executes the plan through a noop sink, then
reads Spark's SQLAppStatusStore (the engine's own per-node SQL metrics
— no listener plumbing needed) and extracts, per Exchange node, the
min/med/max per-task "shuffle bytes written". max/med above THRESHOLD
(default 8×, with a floor so KB-scale noise never flags) is reported
as SKEW; the exit code is the number of skewed queries, so bench/CI
can gate on it.

Usage: python tools/skew.py [sf_dir] [query ...]   (default: the
PRIORITY queries against /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

THRESHOLD = 8.0
MIN_MAX_BYTES = 8 * 1024 * 1024  # ignore skew below 8 MiB max-task

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TRIPLE = re.compile(
    r"\(([\d.]+)\s+(B|KiB|MiB|GiB|TiB),\s+([\d.]+)\s+(B|KiB|MiB|GiB|TiB),"
    r"\s+([\d.]+)\s+(B|KiB|MiB|GiB|TiB)"
)


_SINGLE = re.compile(r"([\d.]+)\s+(B|KiB|MiB|GiB|TiB)")


def _parse_min_med_max(text: str) -> tuple[float, float, float] | None:
    m = _TRIPLE.search(text)
    if m:
        v = [float(m.group(i)) * _UNITS[m.group(i + 1)] for i in (1, 3, 5)]
        return v[0], v[1], v[2]
    m = _SINGLE.search(text)  # single-task stage: plain total, no skew
    if m:
        v = float(m.group(1)) * _UNITS[m.group(2)]
        return v, v, v
    return None


def exchange_skew(spark, execution_id: int) -> list[dict]:
    """[{node, metric, min, med, max, ratio}] for every Exchange node
    of the given SQL execution."""
    store = spark._jsparkSession.sharedState().statusStore()
    metrics = store.executionMetrics(execution_id)
    out = []
    nodes = store.planGraph(execution_id).allNodes()
    it = nodes.iterator()
    while it.hasNext():
        n = it.next()
        if "Exchange" not in n.name():
            continue
        mit = n.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            if m.name() not in ("shuffle bytes written", "data size"):
                continue
            raw = metrics.get(m.accumulatorId())
            if not raw.isDefined():
                continue
            parsed = _parse_min_med_max(str(raw.get()))
            if parsed is None:
                continue
            lo, med, hi = parsed
            out.append(
                {
                    "node": n.name(),
                    "metric": m.name(),
                    "min": lo,
                    "med": med,
                    "max": hi,
                    "ratio": (hi / med) if med > 0 else float("inf") if hi > 0 else 1.0,
                }
            )
    return out


def latest_execution_id(spark) -> int | None:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    if execs.size() == 0:
        return None  # listener bus hasn't delivered the first execution yet
    return execs.apply(execs.size() - 1).executionId()


def main() -> int:
    from deepicedrain_spark.session import get_spark
    import __spark_entry__ as entry_mod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = sys.argv[2:]
    spark = get_spark("skew")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    if only:
        names = only
    else:
        from deepicedrain_spark.suite import PRIORITY

        names = [n for n in PRIORITY if n in qs and not n.startswith("streaming_")]

    import time

    n_skewed = 0
    n_err = 0
    for name in names:
        try:
            # execution ids seen BEFORE this query, so the poll below can
            # tell this query's execution apart from a stale predecessor
            # (the status store is fed asynchronously off the listener
            # bus: reading "the latest" right after write() can still
            # point at the PREVIOUS query)
            prev_eid = latest_execution_id(spark)
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            rows = []
            for _ in range(50):
                try:
                    eid = latest_execution_id(spark)
                    if eid is None or (prev_eid is not None and eid <= prev_eid):
                        time.sleep(0.1)  # this query's execution not landed
                        continue
                    rows = exchange_skew(spark, eid)
                except Exception:  # metrics mid-flight: retry, don't abort
                    time.sleep(0.1)
                    continue
                # require the metric we actually gate on — a broadcast
                # 'data size' row can land before the shuffle rows do
                if any(r["metric"] == "shuffle bytes written" for r in rows):
                    break
                time.sleep(0.1)
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {e}")
            n_err += 1
            continue
        finally:
            spark.catalog.clearCache()
        flagged = [
            r
            for r in rows
            if r["metric"] == "shuffle bytes written"
            and r["ratio"] >= THRESHOLD
            and r["max"] >= MIN_MAX_BYTES
        ]
        worst = max((r["ratio"] for r in rows if r["metric"] == "shuffle bytes written"), default=1.0)
        if flagged:
            n_skewed += 1
            det = "; ".join(
                f"{r['node']}: max/med {r['ratio']:.1f}x ({r['max']/1e6:.1f} MB task)"
                for r in flagged
            )
            print(f"SKEW {name}: {det}")
        else:
            print(f"ok   {name}: {len(rows)} exchange metrics, worst max/med {worst:.1f}x")
    print(
        f"\n{n_skewed} skewed quer{'y' if n_skewed == 1 else 'ies'}"
        + (f", {n_err} errored" if n_err else "")
    )
    # errored measurements gate too: a run where queries failed to
    # measure must not pass CI as "zero skew"
    return n_skewed + n_err


if __name__ == "__main__":
    raise SystemExit(main())
