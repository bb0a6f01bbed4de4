#!/usr/bin/env python3
"""The repository benchmark: one command, named workloads, checked outputs.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout on ``local[<cores>]`` in one driver
process. Inputs are generated from ``--seed``; the program only ever sees
the generated tables. Set-up (``setup_s``) is the session start plus the
median of three input generations. The timed window then runs whole
workload iterations for ``--seconds`` seconds: at least one, and another
only while the median iteration still fits. The first iteration starts on
a cold JVM, as every ``run_crawl.py`` invocation does. Output checks run
after the window.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
window, one more untraced (warm) iteration, then restarts the Spark
context with the event log on, runs one traced iteration as spans,
replays one crawl round layer by layer (or counts LSH candidates for the
catalog) and prints the per-layer metrics, including
``tracing_overhead_ratio`` (traced / untraced warm iteration wall).

Every line but the last is a human-readable report; the last line of
standard output is the JSON result
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes goes under ``.perfbench_work/`` in the checkout and is removed at
exit. Exits non-zero without a result when the program is missing or
every iteration fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# end-to-end metric name -> (unit, name in the report per workload)
END_TO_END = {
    "items_per_s": ("1/s", {"crawl": "urls_per_s", "dedup_catalog": "docs_per_s"}),
    "cpu_ms_per_item": ("ms", {"crawl": "cpu_ms_per_url", "dedup_catalog": "cpu_ms_per_doc"}),
    "step_s_p50": ("s", {"crawl": "round_s_p50", "dedup_catalog": "leaf_s_p50"}),
    "step_s_max": ("s", {"crawl": "round_s_max", "dedup_catalog": "leaf_s_max"}),
    "peak_rss_mb": ("MB", {}),
    "setup_s": ("s", {}),
}
CRAWL_LAYERS = ["seen", "seen_bloom", "politeness", "ranking", "fetch", "parse", "frontier", "tables"]
CATALOG_LAYERS = ["dedup", "ckpt", "cleaning", "sampling"]
SPAN_FIELDS = [
    ("wall_s", "s"),
    ("task_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("max_over_median_task", "ratio"),
    ("rows_in", "count"),
    ("rows_out", "count"),
    ("task_share", "ratio"),
]
LAYER_EXTRAS = [
    ("seen.compact_s", "s"),
    ("seen_bloom.positive_ratio", "ratio"),
    ("seen_bloom.positive_base", "count"),
    ("seen_bloom.fpr_measured", "ratio"),
    ("seen_bloom.fpr_base", "count"),
    ("politeness.fetched_ratio", "ratio"),
    ("ranking.jobs", "count"),
    ("fetch.miss_ratio", "ratio"),
    ("parse.html_mb_per_task_s", "MB/s"),
    ("frontier.new_ratio", "ratio"),
    ("tables.bytes_written", "bytes"),
    ("crawl.driver_gap_s", "s"),
    ("crawl.low_parallel_s", "s"),
    ("crawl.jobs", "count"),
    ("crawl.spill_bytes", "bytes"),
    ("crawl.accounted_ratio", "ratio"),
    ("dedup.lsh_candidates", "count"),
    ("dedup.verify_yield", "ratio"),
    ("ckpt.cc_jobs", "count"),
    ("tracing_overhead_ratio", "ratio"),
]


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in output order."""
    out = []
    for layer in CRAWL_LAYERS + ["crawl"] + CATALOG_LAYERS:
        for field, unit in SPAN_FIELDS:
            if layer == "crawl" and field == "task_share":
                continue  # the whole run: its share is 1 by definition
            out.append((f"{layer}.{field}", unit))
    return out + LAYER_EXTRAS


# --- process accounting (/proc) ---------------------------------------------


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process, the JVM and the Python workers, live
    and reaped (utime + stime + cutime + cstime over the process tree)."""
    clk = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                p = f.read().rsplit(")", 1)[1].split()
            total += int(p[11]) + int(p[12]) + int(p[13]) + int(p[14])
        except (OSError, IndexError, ValueError):
            continue
    return total / clk


def tree_peak_rss_mb() -> float:
    total_kb = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except (OSError, ValueError):
            continue
    return total_kb / 1024.0


# --- session -----------------------------------------------------------------


def start_spark(work: str, event_log: str | None = None):
    from colymer_acquirers_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_context() -> None:
    """Stop the Spark context; the JVM stays up for the next one."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()


def shutdown_spark() -> None:
    """Stop the context, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    stop_context()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    pids = [p for p in _tree(os.getpid()) if p != os.getpid()]
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# --- measurement ---------------------------------------------------------------


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn, *a, **kw):
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def checks(self, results) -> None:
        for name, ok, detail in results:
            self.attempted += 1
            self.failed += 0 if ok else 1
            print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}", file=sys.stderr)


def window(wl, seconds: float, tally: Tally) -> list[dict]:
    """Whole iterations for ``seconds``: at least one, and another only
    while the median iteration so far still fits in the window."""
    samples = []
    t_start = time.monotonic()
    while not samples or time.monotonic() - t_start + statistics.median(
        s["wall"] for s in samples
    ) <= seconds:
        c0 = tree_cpu_s()
        s = tally.run(wl.iteration)
        if s is None:
            if tally.failed >= 2:
                break
            continue
        s["cpu"] = tree_cpu_s() - c0
        samples.append(s)
    return samples


def quartiles(v: list[float]) -> dict:
    if len(v) == 1:
        return {"median": v[0], "q1": v[0], "q3": v[0], "n": 1}
    q = statistics.quantiles(v, n=4, method="inclusive")
    return {"median": statistics.median(v), "q1": q[0], "q3": q[2], "n": len(v)}


def end_to_end(samples: list[dict], setup_s: float, rss: float) -> dict:
    per = {
        "items_per_s": [s["items"] / s["wall"] for s in samples],
        "cpu_ms_per_item": [1000.0 * s["cpu"] / s["items"] for s in samples],
        "step_s_p50": [x for s in samples for x in s["steps"]],
        "step_s_max": [max(s["steps"]) for s in samples],
        "peak_rss_mb": [rss],
        "setup_s": [setup_s],
    }
    return {k: quartiles(v) for k, v in per.items()}


def setup(wl_cls, work: str, seed: int, repeats: int):
    """Session start + input generation (median of ``repeats``)."""
    t = time.monotonic()
    spark = start_spark(work)
    t_session = time.monotonic() - t
    wl = wl_cls(spark, work, seed)
    gens = []
    for _ in range(repeats):
        t = time.monotonic()
        wl.generate()
        gens.append(time.monotonic() - t)
    return wl, {"session_s": t_session, "generate_s": statistics.median(gens)}


def layer_metrics(records: list[dict], extra: dict, rows: dict, n_rounds: int, round_wall: float) -> dict:
    """Fold span records into the per-layer metric set (zeros for layers
    the workload does not run)."""
    layers: dict[str, dict] = {}
    for r in records:
        if not r.get("layer"):
            continue
        a = layers.setdefault(
            r["layer"], {"wall_s": 0.0, "task_s": 0.0, "shuffle_bytes": 0, "jobs": 0}
        )
        a["wall_s"] += r["wall_s"]
        a["task_s"] += r["task_s"]
        a["shuffle_bytes"] += r["shuffle_bytes"]
        a["jobs"] += r["jobs"]
        a["max_over_median_task"] = max(a.get("max_over_median_task", 0.0), r["max_over_median_task"])
    shared = [n for n in layers if n != "crawl"]
    total_task = sum(layers[n]["task_s"] for n in shared) or 1.0
    out = {}
    for name, unit in per_layer_names():
        layer, _, field = name.partition(".")
        if name in extra:
            out[name] = extra[name]
        elif field == "task_share":
            out[name] = (layers[layer]["task_s"] / total_task if layer in layers else 0.0, unit)
        elif field in ("rows_in", "rows_out"):
            r_in, r_out = rows.get(layer, (0, 0))
            out[name] = (r_in if field == "rows_in" else r_out, unit)
        elif field and layer in layers and field in layers[layer]:
            out[name] = (layers[layer][field], unit)
        else:
            out[name] = (0, unit)
    crawl = next((r for r in records if r["name"] == "crawl"), None)
    if crawl is not None:
        out["crawl.driver_gap_s"] = (crawl["driver_gap_s"], "s")
        out["crawl.low_parallel_s"] = (crawl["low_parallel_s"], "s")
        out["crawl.jobs"] = (crawl["jobs"], "count")
        out["crawl.spill_bytes"] = (crawl["spill_bytes"], "bytes")
        replay = sum(r["wall_s"] for r in records if r["layer"] in CRAWL_LAYERS and r["name"] != "seen.compact")
        out["crawl.accounted_ratio"] = ((replay + crawl["driver_gap_s"] / n_rounds) / round_wall, "ratio")
    for r in records:
        if r["name"] == "seen.compact":
            out["seen.compact_s"] = (r["wall_s"], "s")
        elif r["name"] == "ranking":
            out["ranking.jobs"] = (r["jobs"], "count")
        elif r["name"] == "near_dup_clusters":
            out["ckpt.cc_jobs"] = (r["jobs"], "count")
        elif r["name"] == "parse" and r["task_s"] > 0:
            out["parse.html_mb_per_task_s"] = (extra["_html_bytes"][0] / 1e6 / r["task_s"], "MB/s")
    return out


def run_traced(wl, work: str, tally: Tally) -> dict:
    """After the untraced window: one more untraced (warm) iteration, then
    a context with the event log on runs one traced iteration as spans,
    plus the crawl replay or the LSH candidate count."""
    import tracing as tr

    untraced = tally.run(wl.iteration)
    stop_context()
    log_dir = os.path.join(work, "eventlog")
    spark = start_spark(work, event_log=log_dir)
    wl.spark = spark
    wl.generate()
    spans = tr.Spans(spark)
    traced = tally.run(wl.iteration, spans)
    if untraced is None or traced is None:
        raise RuntimeError("traced or untraced iteration failed")
    rows: dict = {}
    extra: dict = {}
    n_rounds, round_wall = 1, 1.0
    if wl.name == "crawl":
        n_rounds = len(traced["steps"])
        round_wall = traced["steps"][-1]
        rows, extra, checks = tr.replay_crawl_round(spark, wl, spans, os.path.join(work, "replay"))
        tally.checks(checks)
        rows["crawl"] = (len(wl.seeds_pd), wl.summary["rank_total"])
    else:
        from colymer_acquirers_spark.operators.dedup import minhash_lsh_pairs
        from workloads import DEDUP_LEAVES, LEAF_LAYER, N_DOCS

        with spans.span("lsh_candidates", None):
            docs = spark.read.parquet(os.path.join(wl.sf, "documents.parquet"))
            n_cand = minhash_lsh_pairs(docs, "doc_id", "text", 16, 4).count()
        out_rows = {n: spark.read.parquet(os.path.join(wl.out, n)).count() for n in DEDUP_LEAVES}
        for n in DEDUP_LEAVES:
            r_in, r_out = rows.get(LEAF_LAYER[n], (0, 0))
            rows[LEAF_LAYER[n]] = (r_in + N_DOCS, r_out + out_rows[n])
        n_ver = out_rows["minhash_near_dups_verified"]
        extra["dedup.lsh_candidates"] = (n_cand, "count")
        extra["dedup.verify_yield"] = (n_ver / n_cand if n_cand else 0.0, "ratio")
    tally.checks(tally.run(wl.checks) or [])
    stop_context()
    tr.fold_event_log(log_dir, spans.records, len(os.sched_getaffinity(0)))
    metrics = layer_metrics(spans.records, extra, rows, n_rounds, round_wall)
    metrics["tracing_overhead_ratio"] = (traced["wall"] / untraced["wall"], "ratio")
    print("traced spans: " + json.dumps(
        [{k: (round(v, 4) if isinstance(v, float) else v) for k, v in r.items()} for r in spans.records]
    ))
    return metrics


def run(args, work: str) -> dict:
    from workloads import WORKLOADS

    tally = Tally()
    # setup_s is an end-to-end metric only: a traced run generates once
    wl, parts = setup(WORKLOADS[args.workload], work, args.seed, 1 if args.trace else 3)
    samples = window(wl, args.seconds, tally)
    if not samples:
        raise RuntimeError("no iteration completed")
    rss = tree_peak_rss_mb()
    e2e = end_to_end(samples, sum(parts.values()), rss)
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "sizes": wl.sizes(),
        "item": wl.item,
        "step": wl.step,
        "setup_parts_s": parts,
        "iterations": len(samples),
    }
    for name, (unit, alias) in END_TO_END.items():
        report[alias.get(wl.name, name)] = dict(e2e[name], unit=unit)
    t = time.monotonic()
    if args.trace:
        metrics = run_traced(wl, work, tally)
    else:
        tally.checks(tally.run(wl.checks) or [])
        metrics = {k: (e2e[k]["median"], unit) for k, (unit, _) in END_TO_END.items()}
    report["checks_s"] = time.monotonic() - t
    report["error_rate"] = tally.failed / tally.attempted
    print("report: " + json.dumps(report))
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    from workloads import WORKLOADS

    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "colymer_acquirers_spark", "session.py")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # a run sees only its own settings: drop the program's tuning knobs
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_ORACLE_SF_DIR=os.path.join(work, "sf"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # Python workers import the program's UDF modules
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # every JVM (launcher and driver) keeps its temp files in the work
        # dir and writes no hsperfdata file to the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    sys.path.insert(0, ROOT)
    os.chdir(work)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    print(f"perfbench: run took {time.monotonic() - t_start:.1f}s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
