"""pyref — Oracle A: pure-Python reference-semantics crawl (SURVEY.md §5.2).

Single-process reimplementation of the FROZEN ROUND SPEC below, mirroring the
reference's frontier state machine (``colymer/acquirers/acquirer.py:8-78``:
adopt/splice/advance over chain blocks; dedup boundary ``:21-22,46``;
checkpoint-after-every-page ``:71-74``) generalized to a URL frontier. The
engine's Spark plans must produce identical ``crawl_order`` / ``seen`` /
``articles`` under any parallelism. Text extraction calls the frozen
pandas-series functions, the oracle versions of the engine's JVM expressions
(byte-equality pinned by tests/test_parse_expr.py and test_parse_fuzz.py),
so the real test is Spark's distributed execution vs this serial loop.

FROZEN ROUND SPEC (round K over frontier F_K, seen set S, rank counter R):

 1. DEDUP      candidates = rows of F_K whose canonical_url ∉ S
               (reference: min_id boundary, weibo.py:311-313 'continue' form)
 2. ROBOTS     drop candidates matching any deny rule (host, path_prefix)
               — dropped permanently (reference: login/availability gate)
 3. POLITENESS per host: order candidates by sort_key =
               (priority ASC, depth ASC, canonical_url ASC); the first
               budget(host) rows are FETCHED this round, the rest CARRY OVER
               unchanged (reference: request_interval throttle serialized
               per site, site.py:30-41)
 4. ORDER      fetched rows, ordered globally by sort_key, get ranks
               R, R+1, ... (crawl_order rows; url = canonical_url)
 5. SEEN       S ← S ∪ fetched canonical_urls
 6. FETCH      join pages on canonical_url; misses (dangling links) consume
               budget + enter seen but produce nothing
 7. PARSE      hits emit article(url=canonical_url, content=extract_text(html))
               and links = extract_links(html, canonical_url) → canonicalize
               → non-null; lineage = distinct (src,dst)
 8. EXPAND     per distinct dst ∉ S: candidate with tuple-min over parents of
               (priority, depth+1, raw_url); discovered_round = K+1
 9. MERGE      F_{K+1} = carryover ∪ new candidates; per canonical_url keep
               the tuple-min (priority, depth, url, discovered_round); drop
               anything in S
10. STOP       when F is empty or max_rounds reached
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import pandas as pd

from colymer_acquirers_spark.functions.canonical import (
    canonicalize_url_series,
    host_of_series,
)
from colymer_acquirers_spark.functions.envelope import (
    extract_attachments_one,
    extract_author_id_series,
    extract_author_series,
    extract_original_data_series,
    extract_published_series,
    extract_version_series,
    page_content_type_one,
)
from colymer_acquirers_spark.functions.parse import (
    extract_links_one,
    extract_text_series,
    extract_title_series,
)


def _canon(url: str) -> str | None:
    return canonicalize_url_series(pd.Series([url]))[0]


def _host(canonical: str) -> str:
    return host_of_series(pd.Series([canonical]))[0]


def _path_of(canonical: str) -> str:
    rest = canonical.split("://", 1)[1]
    slash = rest.find("/")
    return rest[slash:] if slash >= 0 else "/"


@dataclass
class PyrefResult:
    crawl_order: pd.DataFrame  # rank, url, round
    seen: set[str]
    articles: pd.DataFrame  # full envelope (see crawl())
    lineage: pd.DataFrame  # round, src_url, dst_url
    attachments_new: pd.DataFrame  # round, id, original_url, content_type, filename
    metrics: list[dict] = field(default_factory=list)


def crawl(
    pages: pd.DataFrame,
    seeds: pd.DataFrame,
    politeness: pd.DataFrame,
    robots: pd.DataFrame,
    max_rounds: int = 10,
    default_budget: int = 1_000_000,
    boundary_mode: str = "continue",
    initial_seen: set[str] | None = None,
) -> PyrefResult:
    """Run the frozen spec serially. pages: url/warc_ts/html/text/lang.

    boundary_mode (SURVEY.md §2.2 P9 — the reference's two dedup variants):
    - 'continue': seen rows are dropped, scan continues (Twitter form,
      twitter.py:145-147).
    - 'break': per host, frontier rows are walked in sort_key order; the
      first seen row STOPS that host's round — the seen row drops, unseen
      rows ranked after it defer to the next round (Weibo/Instagram form,
      weibo.py:311-313, instagram.py:65-67).
    """
    page_by_canon: dict[str, dict] = {}
    for rec in pages.to_dict("records"):
        c = _canon(rec["url"])
        if c is not None:
            page_by_canon[c] = rec

    budget = {
        r["host"]: int(r["max_fetch_per_round"]) for r in politeness.to_dict("records")
    }
    # robots rules with longest-prefix / allow-wins-ties precedence
    rules: dict[str, list[tuple[int, bool, str]]] = {}
    for r in robots.to_dict("records"):
        rules.setdefault(r["host"], []).append(
            (len(r["path_prefix"]), bool(r["allow"]), r["path_prefix"])
        )

    def robots_allowed(host: str, path: str) -> bool:
        applicable = [
            t for t in rules.get(host, ()) if path.startswith(t[2])
        ]
        return (not applicable) or max(applicable)[1]

    # frontier: canonical -> (priority, depth, url, discovered_round)
    frontier: dict[str, tuple[int, int, str, int]] = {}
    for rec in seeds.to_dict("records"):
        c = _canon(rec["url"])
        if c is None:
            continue
        cand = (int(rec["priority"]), 0, rec["url"], 0)
        if c not in frontier or cand < frontier[c]:
            frontier[c] = cand

    # reference analog of pre-existing chain blocks (acquirer.py:21-22):
    # state carried in from a previous scan
    seen: set[str] = set(initial_seen or ())
    order_rows: list[tuple[int, str, int]] = []
    article_rows: list[dict] = []
    lineage_rows: list[tuple[int, str, str]] = []
    # P7 pinned-entry-once state (reference: pin_ids map, twitter.py:13)
    pinned_ids: set[str] = set()
    att_rows: list[dict] = []
    metrics: list[dict] = []
    rank = 0

    for rnd in range(max_rounds):
        if not frontier:
            break
        n_frontier = len(frontier)
        # 1. dedup ('continue' form) or boundary-break ('break' form)
        boundary_deferred: dict[str, tuple[int, int, str, int]] = {}
        if boundary_mode == "break":
            by_host: dict[str, list[tuple[tuple[int, int, str], str]]] = {}
            for c, (pri, dep, url, disc) in frontier.items():
                by_host.setdefault(_host(c), []).append(((pri, dep, c), c))
            candidates = {}
            for h, rows in by_host.items():
                rows.sort()
                stopped = False
                for _, c in rows:
                    if stopped:
                        if c not in seen:
                            boundary_deferred[c] = frontier[c]
                        continue
                    if c in seen:
                        stopped = True
                        continue
                    candidates[c] = frontier[c]
        else:
            candidates = {c: v for c, v in frontier.items() if c not in seen}
        deduped = n_frontier - len(candidates) - len(boundary_deferred)
        # 2. robots
        allowed: dict[str, tuple[int, int, str, int]] = {}
        blocked = 0
        for c, v in candidates.items():
            if robots_allowed(_host(c), _path_of(c)):
                allowed[c] = v
            else:
                blocked += 1
        # 3. politeness
        per_host: dict[str, list[tuple[tuple[int, int, str], str]]] = {}
        for c, (pri, dep, url, disc) in allowed.items():
            per_host.setdefault(_host(c), []).append(((pri, dep, c), c))
        fetched: list[tuple[tuple[int, int, str], str]] = []
        carryover: dict[str, tuple[int, int, str, int]] = {}
        for h, rows in per_host.items():
            rows.sort()
            b = budget.get(h, default_budget)
            for key, c in rows[:b]:
                fetched.append((key, c))
            for _, c in rows[b:]:
                carryover[c] = allowed[c]
        # 4. order
        fetched.sort()
        for _, c in fetched:
            order_rows.append((rank, c, rnd))
            rank += 1
        # 5. seen
        for _, c in fetched:
            seen.add(c)
        # 6-8. fetch + parse + expand
        new_cand: dict[str, tuple[int, int, str, int]] = {}
        miss = parsed = 0
        lineage_set: set[tuple[str, str]] = set()
        for (pri, dep, _), c in fetched:
            page = page_by_canon.get(c)
            if page is None:
                miss += 1
                continue
            parsed += 1
            hs = pd.Series([page["html"]])
            content = extract_text_series(hs)[0]
            title = extract_title_series(hs)[0]
            published = extract_published_series(hs)[0]
            time = (
                published.replace(tzinfo=None)
                if published is not None
                else page["warc_ts"]
            )
            article_rows.append(
                {
                    "url": allowed[c][2],
                    "canonical_url": c,
                    "title": title,
                    "content": content,
                    "content_type": page_content_type_one(c),
                    "author_id": extract_author_id_series(hs)[0],
                    "author_name": extract_author_series(hs)[0],
                    "time": time,
                    "lang": page["lang"],
                    "round": rnd,
                    "priority": pri,
                    "depth": dep,
                    "version": extract_version_series(hs)[0],
                    "original_data": extract_original_data_series(hs)[0],
                    "attachments": extract_attachments_one(page["html"], c),
                    "text_sha256": hashlib.sha256(content.encode()).hexdigest(),
                }
            )
            for att in article_rows[-1]["attachments"]:
                if att["id"] in pinned_ids:
                    continue
                pinned_ids.add(att["id"])
                att_rows.append(
                    {
                        "round": rnd,
                        "id": att["id"],
                        "original_url": att["original_url"],
                        "content_type": att["content_type"],
                        "filename": att["filename"],
                    }
                )
            raw_links = extract_links_one(page["html"], c)
            if raw_links:
                canons = canonicalize_url_series(pd.Series(raw_links))
                for raw, dst in zip(raw_links, canons):
                    if dst is None:
                        continue
                    lineage_set.add((c, dst))
                    if dst in seen:
                        continue
                    cand = (pri, dep + 1, raw, rnd + 1)
                    if dst not in new_cand or cand < new_cand[dst]:
                        new_cand[dst] = cand
        for src, dst in sorted(lineage_set):
            lineage_rows.append((rnd, src, dst))
        # 9. merge
        nxt = dict(carryover)
        for c, cand in boundary_deferred.items():
            if c not in nxt or cand < nxt[c]:
                nxt[c] = cand
        for c, cand in new_cand.items():
            if c in seen:
                continue
            if c not in nxt or cand < nxt[c]:
                nxt[c] = cand
        frontier = nxt
        metrics.append(
            {
                "round": rnd,
                "candidates": len(candidates),
                "deduped": deduped,
                "blocked_robots": blocked,
                "fetched": len(fetched),
                "throttled": len(carryover) + len(boundary_deferred),
                "fetch_miss": miss,
                "parsed": parsed,
                "new_urls": len(new_cand),
                "new_attachments": sum(
                    1 for a in att_rows if a["round"] == rnd
                ),
            }
        )

    return PyrefResult(
        crawl_order=pd.DataFrame(order_rows, columns=["rank", "url", "round"]),
        seen=seen,
        articles=pd.DataFrame(
            article_rows,
            columns=[
                "url",
                "canonical_url",
                "title",
                "content",
                "content_type",
                "author_id",
                "author_name",
                "time",
                "lang",
                "round",
                "priority",
                "depth",
                "version",
                "original_data",
                "attachments",
                "text_sha256",
            ],
        ),
        lineage=pd.DataFrame(lineage_rows, columns=["round", "src_url", "dst_url"]),
        attachments_new=pd.DataFrame(
            att_rows,
            columns=["round", "id", "original_url", "content_type", "filename"],
        ),
        metrics=metrics,
    )
