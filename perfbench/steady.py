#!/usr/bin/env python3
"""Steadiness check of the benchmark on one commit.

    python3 perfbench/steady.py [--workloads crawl,dedup_catalog]
                                [--seeds 1-10] [--sets 2] [--trace]

Runs ``BENCHMARK.json``'s command once per seed and workload with
``--trace 0`` and checks, per end-to-end metric and workload:

- every run is correct and has no failed operation;
- the spread of all runs (third minus first quartile, as a share of the
  median) is within the metric's bound, ``setup_s`` excepted;
- the seeds split into ``--sets`` consecutive sets, and no later set's
  median is worse than the first set's by more than the bound.

With ``--trace`` it also makes one traced run per workload and checks
that the per-layer metrics are exactly BENCHMARK.json's list and, for the
crawl, that the replayed layer spans plus the crawl's per-round driver gap
account for the replayed round's wall time (``crawl.accounted_ratio``
between 0.75 and 2: the replay runs the layers one after another where the
round overlaps them, so it may read high, never far low).

Prints one JSON summary and exits 1 if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ACCOUNTED = (0.75, 2.0)


def seeds_arg(s: str) -> list[int]:
    out = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict | None, float]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return None, wall
    return json.loads(lines[-1]), wall


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def worse_by(first: float, later: float, better: str) -> float:
    """How much ``later`` is worse than ``first``, as a share of ``first``."""
    d = (later - first) if better == "lower" else (first - later)
    return d / first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = (
        args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    )
    seeds = seeds_arg(args.seeds)
    failures: list[str] = []
    summary: dict = {}
    for w in workloads:
        runs, walls = [], []
        for s in seeds:
            r, wall = run_once(bench, w, s, 0)
            walls.append(wall)
            print(f"{w} seed {s}: {wall:.1f}s", json.dumps(r and r["metrics"]), file=sys.stderr)
            if r is None or not r["correct"] or r["failed"]:
                failures.append(f"{w} seed {s}: run failed or incorrect")
                continue
            runs.append(r)
        per = summary.setdefault(w, {"run_wall_s": walls})
        if len(runs) < 4:
            failures.append(f"{w}: fewer than 4 good runs")
            continue
        size = len(runs) // args.sets
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            sets = [vals[i * size:(i + 1) * size] for i in range(args.sets)]
            meds = [statistics.median(x) for x in sets]
            worst = max((worse_by(meds[0], x, m["better"]) for x in meds[1:]), default=0.0)
            sp = spread(vals)
            per[m["name"]] = {
                "median": statistics.median(vals),
                "spread": sp,
                "bound": m["bound"],
                "set_medians": meds,
                "later_set_worse_by": worst,
            }
            if m["name"] != "setup_s" and sp > m["bound"]:
                failures.append(f"{w} {m['name']}: spread {sp:.3f} > bound {m['bound']}")
            if worst > m["bound"]:
                failures.append(f"{w} {m['name']}: later set worse by {worst:.3f} > bound {m['bound']}")
        if args.trace:
            r, wall = run_once(bench, w, seeds[0], 1)
            per["trace_run_wall_s"] = wall
            if r is None or not r["correct"]:
                failures.append(f"{w}: traced run failed or incorrect")
                continue
            want = [m["name"] for m in bench["per_layer"]]
            if sorted(r["metrics"]) != sorted(want):
                failures.append(f"{w}: traced metrics differ from BENCHMARK.json per_layer")
            per["tracing_overhead_ratio"] = r["metrics"]["tracing_overhead_ratio"]["value"]
            if w == "crawl":
                acc = r["metrics"]["crawl.accounted_ratio"]["value"]
                per["crawl.accounted_ratio"] = acc
                if not ACCOUNTED[0] <= acc <= ACCOUNTED[1]:
                    failures.append(f"crawl.accounted_ratio {acc:.3f} outside {ACCOUNTED}")
            per["task_share"] = {
                k: v["value"] for k, v in r["metrics"].items() if k.endswith(".task_share") and v["value"]
            }
    print(json.dumps({"ok": not failures, "failures": failures, "workloads": summary}, indent=1))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
