"""Benchmark driver process: one SparkSession, one workload.

Started by ``run.py`` (never by hand). Prints ``READY`` on stdout once
the suite modules are imported and the SparkSession is up -- the end of
set-up -- then runs, closed-loop and single-client:

1. one untimed pass on its own seeded input that checks every query
   against its DuckDB oracle and absorbs the cold start (codegen, class
   loading, Python worker start);
2. ``WARM_PASSES`` untimed passes on their own inputs: the JIT keeps
   compiling after the cold pass, and the pass right after it is the
   steepest step of that tail;
3. timed passes, each on a fresh input staged from its own seed, until
   ``--seconds`` have been measured and at least ``MIN_PASSES`` have run.
   At the benchmark's 5 s a pass takes longer than ``--seconds /
   MIN_PASSES``, so every run times the same number of passes and stops
   at the same point of the JIT's tail.

With ``--trace 1`` timed passes alternate untraced and traced (at least
untraced, traced, untraced), so the record carries the tracing overhead
beside the per-layer census.
With ``--probe`` it idles after ``READY`` until ``run.py`` ends it (a
set-up sample).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import time

T_PROC = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from workloads import ALL_QUERIES, SCALE, WORKLOADS  # noqa: E402

PROBE_IDLE_S = 180  # a probe waits here until run.py kills it
INPUTS_LIST = "inputs.txt"  # every staged input dir, one a line, for run.py's cleanup
WARM_PASSES = 1  # untimed passes between the check pass and the timed ones
MIN_PASSES = 2  # timed passes at least
# a traced run times untraced, traced, untraced: passes still speed up
# down the JIT's tail, so the traced pass sits between two untraced ones
TRACED_MIN_PASSES = 3


def pass_seed(seed: int, i: int) -> int:
    import numpy as np

    return int(np.random.SeedSequence([seed, i]).generate_state(1)[0])


def load_compare_query():
    """``compare_query`` from tools/check.py, without letting that
    script's import-time argv parsing or sys.path edit leak."""
    argv, path = sys.argv[:], sys.path[:]
    try:
        sys.argv = [argv[0]]
        spec = importlib.util.spec_from_file_location(
            "_perfbench_check", os.path.join(ROOT, "tools", "check.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.argv, sys.path[:] = argv, path
    return mod.compare_query


def duck_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_pass(spark, queries, qs, oracles, sf_dir: str) -> dict:
    compare_query = load_compare_query()
    con = duck_views(sf_dir)
    out = {}
    for name in queries:
        t0 = time.perf_counter()
        try:
            ok, msg, n = compare_query(spark, con, qs[name], oracles[name], sf_dir)
        except Exception as e:  # noqa: BLE001 -- a raising query is a failed operation
            ok, msg, n = False, f"error: {type(e).__name__}: {str(e)[:300]}", -1
        spark.catalog.clearCache()
        out[name] = {"ok": ok, "msg": msg, "rows": n, "s": time.perf_counter() - t0}
    con.close()
    return out


def timed_pass(spark, queries, qs, sf_dir: str, tracer=None) -> dict:
    """Run every query of the workload through a no-op sink."""
    import procstat

    times, failed = {}, []
    steal0, cpu0 = procstat.steal_s(), procstat.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    for name in queries:
        q0 = time.perf_counter()
        try:
            if tracer is None:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            else:
                with tracer.span(f"query.{name}"):
                    with tracer.span("query.build"):
                        df = qs[name](spark, sf_dir)
                    with tracer.span("query.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("query.exec"):
                        df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 -- counted as a failed operation
            failed.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        spark.catalog.clearCache()
        times[name] = time.perf_counter() - q0
    wall = time.perf_counter() - t0
    return {
        "wall_s": wall,
        "cpu_s": procstat.tree_cpu_s(os.getpid()) - cpu0,
        "steal_s": procstat.steal_s() - steal0,
        "load1": procstat.load1(),
        "queries": times,
        "failed": failed,
        "traced": tracer is not None,
    }


def per_layer(tracer, census: dict, streaming: dict) -> dict[str, float]:
    tot = tracer.layer_totals()

    def s(key: str) -> float:
        return tot.get(key, (0, 0.0))[1]

    def n(key: str) -> float:
        return tot.get(key, (0, 0.0))[0]

    m = {
        "query.build_s": s("query.build"),
        "query.plan_s": s("query.plan"),
        "query.exec_s": s("query.exec"),
        "io.load_table.calls": n("io.load_table"),
        "io.spread_scan.calls": n("io.spread_scan"),
        "io.spread_scan_s": s("io.spread_scan"),
        "io.spread_scan.repartitioned": tracer.counts.get("io.spread_scan.repartitioned", 0.0),
        "sources.calls": n("sources"),
        "sources.read_s": s("sources"),
        "fence.count": n("fence"),
        "fence.rows": tracer.counts.get("fence.rows", 0.0),
        "fence.s": s("fence"),
    }
    for q in ALL_QUERIES:
        m[f"query.{q}_s"] = s(f"query.{q}")
    for layer in ("ingest", "dhdt", "xover", "lakes"):
        m[f"plans.{layer}_s"] = s(f"plans.{layer}")
    for layer in ("regression", "clustering", "dissolve", "dedup", "similarity", "graph", "retrieval"):
        m[f"operators.{layer}_s"] = s(f"operators.{layer}")
    for k in ("streaming.batches", "streaming.batch_s", "streaming.state_rows", "streaming.sink_rows"):
        m[k] = streaming.get(k, 0.0)
    for k in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.empty_task_share",
        "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
        "spark.shuffle_write_mb", "spark.failed_tasks", "pyudf.mb_to_python",
    ):
        m[k] = census.get(k, 0.0)
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--probe", action="store_true")
    a = ap.parse_args()

    import __spark_entry__ as entry  # registers every suite module
    from deepicedrain_spark.session import get_spark

    t_imported = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_ready = time.perf_counter()
    print("READY", flush=True)
    os.dup2(2, 1)  # later prints go to the log; nobody reads the pipe
    if a.probe:  # a set-up sample only; run.py ends it
        time.sleep(PROBE_IDLE_S)
        return 1

    import procstat
    import stage

    queries = WORKLOADS[a.workload]
    qs, oracles = entry.queries(), entry.oracle_sql()
    rec = {
        "workload": a.workload,
        "seed": a.seed,
        "queries": list(queries),
        "scale_of_sf0.1": SCALE,
        "session": {
            "import_s": t_imported - T_PROC,
            "start_s": t_ready - t_imported,
            "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
        },
        "versions": {
            "python": platform.python_version(),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        },
        "host": {"nproc": os.cpu_count(), "load1_start": procstat.load1()},
    }

    def staged(i: int) -> str:
        d = os.path.join(a.workdir, f"in{i}")
        with open(os.path.join(a.workdir, INPUTS_LIST), "a") as f:
            f.write(d + "\n")
        layout = stage.stage(d, pass_seed(a.seed, i), SCALE)
        rec.setdefault("input_layout", layout)
        return d

    d = staged(0)
    t0 = time.perf_counter()
    rec["check"] = check_pass(spark, queries, qs, oracles, d)
    rec["warmup_s"] = time.perf_counter() - t0
    shutil.rmtree(d)

    if a.trace:
        import tracing

        tracer = tracing.Tracer(os.path.basename(a.workdir))
        df_cls = type(spark.range(1))

    rec["warm_passes"] = []
    for i in range(1, 1 + WARM_PASSES):
        d = staged(i)
        rec["warm_passes"].append(timed_pass(spark, queries, qs, d))
        shutil.rmtree(d)

    rss = procstat.RssPeak(os.getpid())
    passes, layers = [], []
    min_passes = TRACED_MIN_PASSES if a.trace else MIN_PASSES
    t_begin = time.perf_counter()
    i = 1 + WARM_PASSES
    while True:
        d = staged(i)
        traced = bool(a.trace) and len(passes) % 2 == 1
        if traced:
            tracer.reset()
            jobs0, execs0 = tracing.last_ids(spark)
            listener = tracing.streaming_listener(spark)
            tracer.install(df_cls)
        with rss:
            p = timed_pass(spark, queries, qs, d, tracer if traced else None)
        if traced:
            tracer.uninstall()
            census = tracing.spark_census(spark, jobs0, execs0)
            spark.streams.removeListener(listener)
            layer = per_layer(tracer, census, listener.totals())
            layer["host.steal_s"], layer["host.load1"] = p["steal_s"], p["load1"]
            layers.append(layer)
            tracer.dump(os.path.join(a.workdir, f"spans{i}.jsonl"), t_begin)
        passes.append(p)
        shutil.rmtree(d)
        i += 1
        if time.perf_counter() - t_begin >= a.seconds and len(passes) >= min_passes:
            break

    rec["passes"] = passes
    rec["peak_rss_mb"] = rss.peak_mb
    rec["peak_rss_mb_by_process"] = rss.peak_by_name
    rec["host"]["load1_end"] = procstat.load1()
    if layers:
        med = {k: statistics.median(x[k] for x in layers) for k in layers[0]}
        plain = [p["wall_s"] for p in passes if not p["traced"]]
        traced_w = [p["wall_s"] for p in passes if p["traced"]]
        med["trace.overhead_s"] = statistics.median(traced_w) - statistics.median(plain)
        med["session.import_s"] = rec["session"]["import_s"]
        med["session.start_s"] = rec["session"]["start_s"]
        med["jvm.warmup_s"] = rec["warmup_s"]
        med["mem.peak_rss_mb"] = rec["peak_rss_mb"]
        rec["per_layer"] = med
    with open(a.out, "w") as f:
        json.dump(rec, f)
    return 0  # run.py ends the JVM


if __name__ == "__main__":
    sys.exit(main())
