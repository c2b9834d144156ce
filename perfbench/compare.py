"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds run records (``*.json``) as ``run.py`` writes them
under ``perfbench/results/``. For each workload and end-to-end metric
it prints each side's median and quartiles, the spread (quartile
distance over median) and the pair-win share: runs are paired by seed,
a pair is won by the side with the better value, ties count for
neither. The verdict follows the choosing-metrics rule for a small
sandbox:

- ``better``: the change wins at least 9/10 of pairs and the medians
  differ by more than the base's own quartile distance;
- ``worse``: the change's median is worse than the base's by more
  than the metric's bound from BENCHMARK.json;
- ``unresolved``: either side's spread exceeds the bound, unless every
  change run beats every base run;
- ``same`` otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(dirname: str) -> dict[str, dict[int, dict[str, float]]]:
    """workload -> seed -> metric -> value, untraced runs only."""
    out: dict[str, dict[int, dict[str, float]]] = {}
    for path in sorted(glob.glob(os.path.join(dirname, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        line = rec.get("result")
        if not line or any(p.get("traced") for p in rec.get("passes", ())):
            continue
        vals = {k: v["value"] for k, v in line["metrics"].items()}
        out.setdefault(rec["workload"], {})[rec["seed"]] = vals
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base: list[float], change: list[float], pairs: list[tuple[float, float]],
            bound: float, lower_better: bool) -> tuple[str, float | None]:
    sign = 1 if lower_better else -1
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    wins = sum(1 for b, c in pairs if sign * (b - c) > 0)
    share = wins / len(pairs) if pairs else None
    every_better = (max(change) < min(base)) if lower_better else (min(change) > max(base))
    spread = max((b3 - b1) / bm if bm else 0.0, (c3 - c1) / cm if cm else 0.0)
    if spread > bound and not every_better:
        return "unresolved", share
    if share is not None and share >= 0.9 and sign * (bm - cm) > (b3 - b1):
        return "better", share
    if sign * (cm - bm) > bound * bm:
        return "worse", share
    return "same", share


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    base, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':18s} {'metric':12s} {'base q1/med/q3':>26s} {'change q1/med/q3':>26s}"
          f" {'n':>5s} {'wins':>5s}  verdict")
    for wl in sorted(set(base) | set(change)):
        b_runs, c_runs = base.get(wl, {}), change.get(wl, {})
        for name, m in spec.items():
            b = [r[name] for r in b_runs.values() if name in r]
            c = [r[name] for r in c_runs.values() if name in r]
            if not b or not c:
                print(f"{wl:18s} {name:12s} missing on one side")
                continue
            pairs = [(b_runs[s][name], c_runs[s][name]) for s in sorted(set(b_runs) & set(c_runs))]
            v, share = verdict(b, c, pairs, m["bound"], m["better"] == "lower")
            bq, cq = quartiles(b), quartiles(c)
            print(f"{wl:18s} {name:12s} {'/'.join(f'{x:.3f}' for x in bq):>26s}"
                  f" {'/'.join(f'{x:.3f}' for x in cq):>26s} {len(b):>2d}/{len(c):<2d}"
                  f" {'-' if share is None else f'{share:.2f}':>5s}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
