"""Tracing for the benchmark's traced run: spans recorded around calls into
the program's layers, an event-log fold that turns each span into task-level
figures, and the crawl replay that re-runs one committed round layer by
layer.

A span is (name, layer, job group, start, end). Jobs submitted on the
calling thread carry the span's job group; jobs the program submits from
its own pool threads carry no group and are attributed to the span whose
time window contains them (spans never overlap).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Spans:
    """Span records of one traced run, in the order they closed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.records: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str | None):
        group = f"perfbench:{name}"
        self.sc.setJobGroup(group, name)
        rec = {"name": name, "layer": layer, "group": group, "t0": time.time()}
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.records.append(rec)


def _intervals_stats(ivs: list[tuple[float, float]], t0: float, t1: float, cores: int):
    """(time with no task running, time with 0 < running tasks < cores)
    inside [t0, t1], from task [launch, finish] intervals."""
    events = []
    for a, b in ivs:
        a, b = max(a, t0), min(b, t1)
        if b > a:
            events.append((a, 1))
            events.append((b, -1))
    events.sort()
    idle = low = 0.0
    running = 0
    prev = t0
    for t, d in events:
        if running == 0:
            idle += t - prev
        elif running < cores:
            low += t - prev
        running += d
        prev = t
    idle += t1 - prev if running == 0 else 0.0
    return idle, low


def fold_event_log(log_dir: str, records: list[dict], cores: int) -> None:
    """Add task-level figures to each span record from the Spark event log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_group: dict[tuple, str | None] = {}
    stage_submit: dict[tuple, float] = {}
    tasks: dict[tuple, list] = {}
    jobs: list[tuple[float, str | None]] = []
    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs.append((e["Submission Time"] / 1000.0, props.get("spark.jobGroup.id")))
            elif ev == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                key = (si["Stage ID"], si["Stage Attempt ID"])
                stage_group[key] = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if si.get("Submission Time"):
                    stage_submit[key] = si["Submission Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                key = (e["Stage ID"], e["Stage Attempt ID"])
                ti = e["Task Info"]
                tm = e.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.setdefault(key, []).append(
                    (
                        ti["Launch Time"] / 1000.0,
                        ti["Finish Time"] / 1000.0,
                        tm.get("Executor Run Time", 0) / 1000.0,
                        sw.get("Shuffle Bytes Written", 0),
                        tm.get("Disk Bytes Spilled", 0),
                    )
                )
    by_group = {r["group"]: r for r in records}

    def owner(group: str | None, t: float) -> dict | None:
        if group in by_group:
            return by_group[group]
        for r in records:
            if r["t0"] <= t <= r["t1"]:
                return r
        return None

    for r in records:
        r.update(task_s=0.0, shuffle_bytes=0, spill_bytes=0, jobs=0, _stages=[], _ivs=[])
    for t, group in jobs:
        r = owner(group, t)
        if r is not None:
            r["jobs"] += 1
    for key, ts in tasks.items():
        t = stage_submit.get(key, min(x[0] for x in ts))
        r = owner(stage_group.get(key), t)
        if r is None:
            continue
        r["task_s"] += sum(x[2] for x in ts)
        r["shuffle_bytes"] += sum(x[3] for x in ts)
        r["spill_bytes"] += sum(x[4] for x in ts)
        r["_stages"].append([x[1] - x[0] for x in ts])
        r["_ivs"].extend((x[0], x[1]) for x in ts)
    for r in records:
        r["wall_s"] = r["t1"] - r["t0"]
        # skew of the span's heaviest stage
        heavy = max(r["_stages"], key=sum, default=[])
        med = statistics.median(heavy) if heavy else 0.0
        r["max_over_median_task"] = max(heavy) / med if med > 0 else 0.0
        r["driver_gap_s"], r["low_parallel_s"] = _intervals_stats(
            r.pop("_ivs"), r["t0"], r["t1"], cores
        )
        del r["_stages"]


def _force(df, name: str, *aggs) -> dict:
    """Execute ``df`` with a noop write; return its row count ``n`` and any
    extra aggregates observed on the same pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs).write.format("noop").mode(
        "overwrite"
    ).save()
    return dict(obs.get)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def replay_crawl_round(spark, wl, spans: Spans, out_dir: str):
    """Re-run the last committed round of ``wl.last_workdir`` one layer at
    a time from that round's persisted inputs (frontier_next and bloom of
    the round before, seen via read_seen). Each layer is one span forced by
    noop writes. Returns (rows per span, extra layer metrics, checks)."""
    from pyspark.sql import functions as F

    from colymer_acquirers_spark import schemas
    from colymer_acquirers_spark.functions.canonical import canonicalize_url, host_of
    from colymer_acquirers_spark.functions.envelope_expr import envelope_expr
    from colymer_acquirers_spark.functions.parse_expr import parse_page_expr
    from colymer_acquirers_spark.operators.politeness import (
        compile_robots,
        politeness_split,
        robots_filter,
    )
    from colymer_acquirers_spark.operators.ranking import global_rank
    from colymer_acquirers_spark.operators.seen import (
        compact_seen,
        dedup_against_seen,
        merge_frontier,
    )
    from colymer_acquirers_spark.operators.seen_bloom import BloomSeen
    from colymer_acquirers_spark.plans.crawl import (
        committed_rounds,
        read_manifest,
        read_seen,
    )
    from colymer_acquirers_spark.plans.round import SORT_KEYS, keyed_pages
    from colymer_acquirers_spark.sources.tables import write_table

    wd = wl.last_workdir
    k = committed_rounds(wd)[-1]
    prev = os.path.join(wd, "rounds", str(k - 1))
    cur = os.path.join(wd, "rounds", str(k))
    m_prev, m = read_manifest(wd, k - 1), read_manifest(wd, k)
    frontier = spark.read.schema(schemas.FRONTIER).parquet(os.path.join(prev, "frontier_next"))
    seen = read_seen(spark, wd, k - 1)
    bloom = spark.read.schema(BloomSeen.SCHEMA).parquet(os.path.join(prev, "bloom"))
    bf = BloomSeen.from_table(bloom)
    pages_k = keyed_pages(wl.pages).persist()
    pages_k.count()
    robots = compile_robots(wl.robots)
    rows: dict[str, tuple[int, int]] = {}
    persisted = [pages_k]

    def keep(df):
        persisted.append(df.persist())
        return persisted[-1]

    n_front = m_prev["metrics"]["frontier_next_count"]
    with spans.span("seen", "seen"):
        cands = keep(dedup_against_seen(frontier, seen))
        n_cands = _force(cands, "seen")["n"]
    rows["seen"] = (n_front, n_cands)

    with spans.span("seen_bloom", "seen_bloom"):
        probed = keep(bf.probe(frontier, bloom))
        r = _force(
            probed, "probe", F.sum(F.col("maybe_seen").cast("long")).alias("pos")
        )
    n_pos = int(r["pos"] or 0)
    rows["seen_bloom"] = (r["n"], n_pos)
    # measured FPR: bloom positives the exact anti-join then passes, over
    # all truly unseen rows (untimed, outside the span)
    false_pos = probed.filter("maybe_seen").join(
        seen.select("canonical_url"), "canonical_url", "left_anti"
    ).count()
    false_neg = probed.filter("NOT maybe_seen").join(
        seen.select("canonical_url"), "canonical_url", "left_semi"
    ).count()

    with spans.span("politeness", "politeness"):
        allowed, _blocked = robots_filter(cands, robots)
        fetched, carry = politeness_split(allowed, wl.politeness, persisted=persisted)
        fetched = keep(fetched)
        carry = keep(carry)
        n_fetched = _force(fetched, "fetched")["n"]
        n_carry = _force(carry, "carry")["n"]
    rows["politeness"] = (n_cands, n_fetched)

    with spans.span("ranking", "ranking"):
        ranked, info = global_rank(
            fetched.withColumn("__round", F.lit(k)),
            SORT_KEYS,
            "rank",
            start=m_prev["rank_offset_next"],
            return_info=True,
        )
        persisted.append(info.persisted)
        crawl_order = keep(
            ranked.select("rank", F.col("canonical_url").alias("url"), F.col("__round").alias("round"))
        )
        n_ranked = _force(crawl_order, "ranked")["n"]
        info.resolve()
    rows["ranking"] = (n_fetched, n_ranked)
    committed_order = spark.read.schema(schemas.CRAWL_ORDER).parquet(os.path.join(cur, "crawl_order"))
    order_diff = crawl_order.exceptAll(committed_order.select("rank", "url", "round")).count()

    with spans.span("fetch", "fetch"):
        joined = keep(
            fetched.select("canonical_url", "url", "priority", "depth")
            .hint("shuffle_hash")
            .join(pages_k.select("canonical_url", "html", "lang", "warc_ts"), "canonical_url", "left")
        )
        r = _force(
            joined,
            "fetch",
            F.sum(F.col("html").isNotNull().cast("long")).alias("hits"),
            F.sum(F.length("html")).alias("html_bytes"),
        )
    n_hits = int(r["hits"] or 0)
    html_bytes = int(r["html_bytes"] or 0)
    rows["fetch"] = (r["n"], n_hits)

    with spans.span("parse", "parse"):
        parsed = keep(
            joined.filter(F.col("html").isNotNull()).select(
                "canonical_url",
                "url",
                "priority",
                "depth",
                parse_page_expr("html", "canonical_url").alias("p"),
                envelope_expr("html", "canonical_url").alias("env"),
            )
        )
        n_parsed = _force(parsed, "parse")["n"]
    rows["parse"] = (n_hits, n_parsed)

    with spans.span("frontier", "frontier"):
        links = keep(
            parsed.select(
                F.col("canonical_url").alias("src_url"),
                "priority",
                "depth",
                F.explode("p.links").alias("raw_url"),
            )
            .withColumn("dst_url", canonicalize_url("raw_url"))
            .filter(F.col("dst_url").isNotNull())
        )
        n_links = _force(links, "links")["n"]
        seen_now = seen.select("canonical_url").union(fetched.select("canonical_url"))
        cols = ["canonical_url", "url", "priority", "depth", "discovered_round"]
        new_cands = keep(
            links.select(
                F.col("dst_url").alias("canonical_url"),
                F.col("raw_url").alias("url"),
                "priority",
                (F.col("depth") + 1).cast("int").alias("depth"),
                F.lit(k + 1).cast("int").alias("discovered_round"),
            ).join(seen_now, "canonical_url", "left_anti")
        )
        n_new = _force(new_cands, "new")["n"]
        frontier_next = keep(
            merge_frontier(carry.select(*cols).unionByName(new_cands)).withColumn(
                "host", host_of("canonical_url")
            )
        )
        n_next = _force(frontier_next, "frontier_next")["n"]
    rows["frontier"] = (n_links + n_carry, n_next)

    tables = {
        "crawl_order": crawl_order,
        "articles": parsed.select(
            "url", "canonical_url", F.col("p.title").alias("title"),
            F.col("p.content").alias("content"), "env",
        ),
        "lineage": links.select(F.lit(k).alias("round"), "src_url", "dst_url").dropDuplicates(
            ["src_url", "dst_url"]
        ),
        "frontier_next": frontier_next,
    }
    tdir = os.path.join(out_dir, "tables")
    with spans.span("tables", "tables"):
        for name, df in tables.items():
            write_table(df, os.path.join(tdir, name), mode="overwrite")
    n_written = sum(spark.read.parquet(os.path.join(tdir, n)).count() for n in tables)
    n_lineage = spark.read.parquet(os.path.join(tdir, "lineage")).count()
    rows["tables"] = (n_ranked + n_parsed + n_lineage + n_next, n_written)

    with spans.span("seen_bloom.build", "seen_bloom"):
        acc = bf.merge(bloom.unionByName(bf.build_delta(fetched.select("canonical_url"))))
        n_shards = _force(acc, "bloom_acc")["n"]
    with spans.span("seen.compact", "seen"):
        write_table(
            compact_seen(read_seen(spark, wd, k)),
            os.path.join(out_dir, "seen_compact"),
            mode="overwrite",
        )
    for df in persisted:
        df.unpersist()

    committed = {
        name: spark.read.parquet(os.path.join(cur, name)).count()
        for name in ("crawl_order", "lineage", "frontier_next", "bloom")
    }
    checks = [
        ("replay.politeness rows", n_fetched == m["metrics"]["fetched"], f"{n_fetched} vs {m['metrics']['fetched']}"),
        ("replay.ranking rows", n_ranked == committed["crawl_order"], f"{n_ranked} vs {committed['crawl_order']}"),
        ("replay.ranking ranks", order_diff == 0, f"{order_diff} rows differ"),
        ("replay.fetch rows", n_hits == m["metrics"]["parsed"], f"{n_hits} vs {m['metrics']['parsed']}"),
        ("replay.parse rows", n_parsed == m["metrics"]["parsed"], f"{n_parsed} vs {m['metrics']['parsed']}"),
        ("replay.frontier rows", n_next == committed["frontier_next"], f"{n_next} vs {committed['frontier_next']}"),
        ("replay.tables lineage rows", n_lineage == committed["lineage"], f"{n_lineage} vs {committed['lineage']}"),
        ("replay.seen_bloom shards", n_shards == committed["bloom"], f"{n_shards} vs {committed['bloom']}"),
        ("replay.seen_bloom no false negative", false_neg == 0, f"{false_neg} rows"),
        ("replay.seen rows", n_cands == n_front - (n_pos - false_pos), f"{n_cands} vs {n_front - n_pos + false_pos}"),
    ]
    extra = {
        "seen_bloom.positive_ratio": (n_pos / n_front if n_front else 0.0, "ratio"),
        "seen_bloom.positive_base": (n_front, "count"),
        "seen_bloom.fpr_measured": (false_pos / n_cands if n_cands else 0.0, "ratio"),
        "seen_bloom.fpr_base": (n_cands, "count"),
        "politeness.fetched_ratio": (
            n_fetched / (n_fetched + n_carry) if n_fetched + n_carry else 0.0,
            "ratio",
        ),
        "fetch.miss_ratio": ((n_fetched - n_hits) / n_fetched if n_fetched else 0.0, "ratio"),
        "frontier.new_ratio": (n_new / n_links if n_links else 0.0, "ratio"),
        "tables.bytes_written": (_dir_bytes(tdir), "bytes"),
        "_html_bytes": (html_bytes, "bytes"),
        "_round": (k, "count"),
    }
    return rows, extra, checks
