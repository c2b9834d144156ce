"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload icesat_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. Steps:

1. A probe process sets up and is ended: the first set-up sample.
2. The worker (``worker.py``) sets up (the second sample), stages seeded
   inputs, checks every query against its DuckDB oracle on an untimed
   cold pass, runs an untimed warm pass, then runs timed passes for
   ``--seconds`` (two at least).
3. A second probe sets up once the worker has ended: the third sample.
   Each sample is timed from process launch until the suite modules are
   imported and the SparkSession is ready; ``setup_s`` is their median.
   Spreading the samples over the run keeps a change in the host's speed
   during the run from moving more than one of them.
4. The worker's processes are killed and waited for; its work directory
   (staged inputs, Spark/JVM/Python scratch) and the new /tmp entries the
   program derived from those inputs are removed; the full record is
   written under ``perfbench/results/``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from procstat import session_pids  # noqa: E402
from worker import INPUTS_LIST  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEMORY = "6g"  # the engine default (32g) exceeds small hosts' RAM
DEADLINE_S = 170  # the worker is killed past this, so the run ends < 180 s
PROBE_RESERVE_S = 25  # kept from the worker's deadline for the last probe
PROGRAM_FILES = ("__spark_entry__.py", "deepicedrain_spark/__init__.py", "tools/check.py")


def stop_session(proc: subprocess.Popen) -> None:
    """Kill the worker's session -- the worker, its JVM and the JVM's
    Python workers -- wait until every member is gone, and drop the JVM
    perf-data files the kill left behind. The kill is safe: the worker
    has written its record, and Spark's and Python's scratch files live
    in the run's work directory."""
    pids = set()
    while True:
        alive = session_pids(proc.pid)
        if not alive:
            break
        pids.update(alive)
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.poll()
        time.sleep(0.02)
    proc.wait()
    for pid in pids:
        for path in glob.glob(f"/tmp/hsperfdata_*/{pid}"):
            os.remove(path)


def run_keys(workdir: str) -> set[str]:
    """The md5 prefixes the program puts in the /tmp paths it derives
    from an input directory (``scratch_path``, stream and sink dirs),
    for every input directory the worker staged."""
    try:
        with open(os.path.join(workdir, INPUTS_LIST)) as f:
            dirs = f.read().split()
    except FileNotFoundError:  # the worker ended before staging
        return set()
    keys = set()
    for d in dirs:
        for s in (d, *(f"{d}/{t}" for t in ("events", "documents", "embeddings"))):
            keys.add(hashlib.md5(s.encode()).hexdigest()[:8])
    return keys


def remove_tmp_residue(workdir: str, before: set[str]) -> tuple[list[str], list[str]]:
    """Delete the new /tmp entries whose names carry one of this run's
    input keys; return them, and the new entries left alone because
    nothing ties them to this run."""
    keys = run_keys(workdir)
    removed, foreign = [], []
    for name in sorted(set(os.listdir("/tmp")) - before):
        if not any(k in name for k in keys):
            foreign.append(name)
            continue
        path = os.path.join("/tmp", name)
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path)
        else:
            os.remove(path)
        removed.append(name)
    return removed, foreign


def launch(args: list[str], env: dict, cwd: str, log, deadline: float) -> tuple[subprocess.Popen, float]:
    """Start a worker; return it and its set-up time (launch to READY)."""
    t0 = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        stdout=subprocess.PIPE, stderr=log, env=env, cwd=cwd,
        start_new_session=True, text=True,
    )
    ready, _, _ = select.select([proc.stdout], [], [], max(0.0, deadline - time.monotonic()))
    line = proc.stdout.readline() if ready else ""
    if line.strip() != "READY":
        stop_session(proc)
        raise RuntimeError("worker did not become ready in time")
    return proc, time.monotonic() - t0


def probe(args: list[str], env: dict, cwd: str, log, deadline: float) -> float:
    """One set-up sample from a process that only sets up."""
    proc, s = launch([*args, "--probe"], env, cwd, log, deadline)
    stop_session(proc)
    return s


def result_line(rec: dict, trace: int) -> dict:
    n_q = len(rec["queries"])
    check_failed = [q for q, c in rec["check"].items() if not c["ok"]]
    run_passes = rec["warm_passes"] + rec["passes"]
    pass_failed = sum(len(p["failed"]) for p in run_passes)
    if trace:
        values = rec["per_layer"]
    else:
        plain = [p for p in rec["passes"] if not p["traced"]]
        values = {
            "setup_s": statistics.median(rec["setup_samples_s"]),
            "wall_s": statistics.median(p["wall_s"] for p in plain),
            "cpu_s": statistics.median(p["cpu_s"] for p in plain),
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    return {
        "correct": not check_failed,
        "attempted": n_q * (1 + len(run_passes)),
        "failed": len(check_failed) + pass_failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    workdir = os.path.join(HERE, "work", run_id)
    results = os.path.join(HERE, "results")
    tmp_before = set(os.listdir("/tmp"))
    os.makedirs(os.path.join(workdir, "tmp"))
    os.makedirs(results, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(workdir, "tmp"),
        TMPDIR=os.path.join(workdir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
    )
    out_path = os.path.join(workdir, "record.json")
    worker_args = [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--workdir", workdir, "--out", out_path,
    ]
    log_path = os.path.join(workdir, "worker.log")
    rec, err = None, None
    with open(log_path, "w") as log:
        proc = None
        try:
            samples = [probe(worker_args, env, workdir, log, deadline)]
            proc, s = launch(worker_args, env, workdir, log, deadline)
            samples.append(s)
            proc.wait(timeout=max(1.0, deadline - PROBE_RESERVE_S - time.monotonic()))
            stop_session(proc)
            if proc.returncode != 0:
                raise RuntimeError(f"worker exited with {proc.returncode}")
            samples.append(probe(worker_args, env, workdir, log, deadline))
            with open(out_path) as f:
                rec = json.load(f)
            rec["setup_samples_s"] = samples
        except (RuntimeError, subprocess.TimeoutExpired, OSError, ValueError) as e:
            err = e
            if proc is not None:
                stop_session(proc)
    if err is not None:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(f"perfbench: {err}\n{tail}", file=sys.stderr)
    residue, foreign = remove_tmp_residue(workdir, tmp_before)
    if rec is not None:
        for name in os.listdir(workdir):
            if name.startswith("spans"):
                shutil.copy(os.path.join(workdir, name), os.path.join(results, f"{run_id}.{name}"))
    shutil.rmtree(workdir)
    if os.path.isdir(os.path.join(HERE, "work")) and not os.listdir(os.path.join(HERE, "work")):
        os.rmdir(os.path.join(HERE, "work"))
    if rec is None:
        return 1
    rec["tmp_removed"], rec["tmp_foreign"] = residue, foreign
    rec["run_s"] = time.monotonic() - t_start
    line = result_line(rec, a.trace)
    rec["result"] = line
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
