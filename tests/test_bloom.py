"""Bloom seen-shard soundness (SURVEY.md §5.4 test 4).

The bloom may false-positive (over-route to the exact backstop) but must
never false-negative: every inserted URL probes maybe_seen=True."""

from __future__ import annotations

import contextlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from colymer_acquirers_spark.operators.seen_bloom import BloomSeen, _with_hashes

# Python exec nodes: any of them in a plan means rows cross to a Python worker
PY_EXEC_NODES = (
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
)


def _urls(spark, start, n, salt=""):
    return spark.range(start, start + n).select(
        F.concat(F.lit(f"https://h{salt}"), (F.col("id") % 13).cast("string"),
                 F.lit(".com/p/"), F.col("id").cast("string")).alias("canonical_url")
    )


# -- numpy reference (the test oracle for the JVM-expression filter) ----------
def _ref_positions(h1: np.ndarray, h2: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing, uint64 wraparound arithmetic."""
    h1u = h1.astype(np.uint64)
    h2u = h2.astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1u[:, None] + i * h2u[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _ref_hashes(bs, urls):
    """url → (shard, h1, h2) from the same Spark hash functions."""
    rows = _with_hashes(urls, bs.n_shards).select(
        "canonical_url", "__shard", "__h1", "__h2").collect()
    return {r[0]: (r[1], r[2], r[3]) for r in rows}


def _ref_build(bs, hashes) -> dict:
    """shard → (bloom bytes, n_items): byte p>>3, bit p&7 per position."""
    out = {}
    for shard in sorted({s for s, _, _ in hashes.values()}):
        h = np.array([(h1, h2) for s, h1, h2 in hashes.values() if s == shard], dtype=np.int64)
        arr = np.zeros(bs.m_bits // 8, dtype=np.uint8)
        pos = _ref_positions(h[:, 0], h[:, 1], bs.k, bs.m_bits)
        np.bitwise_or.at(arr, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        out[shard] = (arr.tobytes(), len(h))
    return out


def _ref_or(*shard_maps) -> dict:
    out = {}
    for m in shard_maps:
        for shard, (b, n) in m.items():
            if shard in out:
                ob, on = out[shard]
                b = (np.frombuffer(ob, np.uint8) | np.frombuffer(b, np.uint8)).tobytes()
                n += on
            out[shard] = (b, n)
    return out


def _ref_maybe_seen(bs, hashes, shards) -> dict:
    out = {}
    for url, (s, h1, h2) in hashes.items():
        if s not in shards:
            out[url] = False
            continue
        arr = np.frombuffer(shards[s][0], np.uint8)
        pos = _ref_positions(np.array([h1]), np.array([h2]), bs.k, bs.m_bits)[0]
        out[url] = bool(((arr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).all())
    return out


def _table(df) -> dict:
    return {r["shard"]: (bytes(r["bloom"]), r["n_items"], r["n_shards"], r["m_bits"], r["k"])
            for r in df.collect()}


@contextlib.contextmanager
def _ansi(spark, on: bool):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(on).lower())
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.mark.parametrize("ansi", [False, True])
@pytest.mark.parametrize(
    "m_bits", [1 << 16, 1 << 20, 40008, 256, BloomSeen.sized(4000, 0.02).m_bits]
)
def test_build_merge_probe_match_numpy_reference(spark, m_bits, ansi):
    """Byte-identical shards and identical probe answers to the numpy
    reference for every geometry (whole and partial 4096-byte buckets, one
    bucket, many), hashes of both signs, ANSI arithmetic on and off."""
    bs = BloomSeen(n_shards=4, m_bits=m_bits, k=5)
    a, b = _urls(spark, 0, 400), _urls(spark, 10_000, 200, salt="b")
    frontier = _urls(spark, 300, 300).unionByName(_urls(spark, 10_150, 100, salt="b"))
    ha, hb, hf = _ref_hashes(bs, a), _ref_hashes(bs, b), _ref_hashes(bs, frontier)
    for i in (1, 2):
        hs = [h[i] for h in ha.values()]
        assert min(hs) < 0 < max(hs)
    ref_a, ref_b = _ref_build(bs, ha), _ref_build(bs, hb)
    ref_ab = _ref_or(ref_a, ref_b)
    geo = (4, m_bits, 5)

    with _ansi(spark, ansi):
        da, db = bs.build_delta(a), bs.build_delta(b)
        assert _table(da) == {s: (*v, *geo) for s, v in ref_a.items()}
        assert _table(bs.merge(da.unionByName(db))) == {s: (*v, *geo) for s, v in ref_ab.items()}
        # unmerged multi-row shards OR together at probe time
        got = {r["canonical_url"]: r["maybe_seen"]
               for r in bs.probe(frontier, da.unionByName(db)).collect()}
    assert len(got) == len(hf)
    assert got == _ref_maybe_seen(bs, hf, ref_ab)


def test_plans_have_no_python_exec_node(spark):
    """build_delta, merge and probe run as JVM expressions: no row of the
    seen tier crosses to a Python worker."""
    bs = BloomSeen(n_shards=4, m_bits=1 << 16, k=3)
    delta = bs.build_delta(_urls(spark, 0, 50))
    for df in (delta, bs.merge(delta.unionByName(delta)), bs.probe(_urls(spark, 0, 50), delta)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not [n for n in PY_EXEC_NODES if n in plan], plan


@pytest.mark.parametrize(
    "use_bloom,boundary_mode",
    [(True, "continue"), (False, "continue"), (False, "break")],
    ids=["bloom", "exact", "break"],
)
def test_bloom_crawl_runs_no_python_exec_node(spark, tmp_path, use_bloom, boundary_mode):
    """Every SQL execution of a crawl (read back from the session's SQL
    status store) is free of Python exec nodes, with the bloom tier, with
    the exact tier alone and in break mode: a crawl starts no Python
    worker."""
    from colymer_acquirers_spark.plans.crawl import run_crawl
    from colymer_acquirers_spark.sources.synth import (
        synth_pages,
        synth_politeness,
        synth_robots,
        synth_seeds,
    )

    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        ex = store.executionsList()
        return [(ex.apply(i).executionId(), ex.apply(i).physicalPlanDescription())
                for i in range(ex.size())]

    before = max((i for i, _ in executions()), default=-1)
    run_crawl(spark, synth_pages(spark, 150), synth_seeds(spark, 6),
              synth_politeness(spark), synth_robots(spark), str(tmp_path / "wd"),
              max_rounds=2, use_bloom=use_bloom, boundary_mode=boundary_mode)
    crawl = [(i, plan) for i, plan in executions() if i > before]
    assert crawl
    bad = [(i, n) for i, plan in crawl for n in PY_EXEC_NODES if n in plan]
    assert not bad, bad


def test_merge_rejects_mismatched_geometry(spark):
    """OR-merging shards built under different (m_bits, k) would scramble
    bit positions; merge must fail instead of writing a corrupt filter."""
    a = BloomSeen(n_shards=2, m_bits=1 << 12, k=3).build_delta(_urls(spark, 0, 50))
    for other in (BloomSeen(n_shards=2, m_bits=1 << 13, k=3), BloomSeen(n_shards=2, m_bits=1 << 12, k=4)):
        b = other.build_delta(_urls(spark, 50, 50))
        with pytest.raises(Exception, match="mismatched filter params"):
            other.merge(a.unionByName(b)).collect()


def test_no_false_negatives(spark):
    bs = BloomSeen(n_shards=8, m_bits=1 << 16, k=5)
    seen = _urls(spark, 0, 5000)
    bloom = bs.build_delta(seen)
    probed = bs.probe(seen.withColumn("priority", F.lit(0)), bloom)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    assert probed.count() == 5000


def test_unseen_mostly_negative_and_never_dropped_wrongly(spark):
    bs = BloomSeen(n_shards=8, m_bits=1 << 18, k=5)
    seen = _urls(spark, 0, 3000)
    unseen = _urls(spark, 100000, 3000)
    bloom = bs.build_delta(seen).persist()
    probed = bs.probe(unseen, bloom).persist()
    n_maybe = probed.filter(F.col("maybe_seen")).count()
    # fpr should be far below 5% at this sizing
    assert n_maybe < 150, n_maybe
    # bloom-negative rows are definitely unseen: anti-join confirms none of
    # them is actually in the seen set
    negatives = probed.filter(~F.col("maybe_seen"))
    wrongly_negative = negatives.join(seen, "canonical_url", "left_semi").count()
    assert wrongly_negative == 0


def test_merge_is_union(spark):
    bs = BloomSeen(n_shards=4, m_bits=1 << 16, k=4)
    a = bs.build_delta(_urls(spark, 0, 1000))
    b = bs.build_delta(_urls(spark, 1000, 1000))
    merged = bs.merge(a.unionByName(b))
    assert merged.count() <= 4
    both = _urls(spark, 0, 2000)
    probed = bs.probe(both, merged)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_empty_bloom_all_negative(spark):
    bs = BloomSeen(n_shards=4)
    empty = bs.build_delta(_urls(spark, 0, 0))
    probed = bs.probe(_urls(spark, 0, 500), empty)
    assert probed.filter(F.col("maybe_seen")).count() == 0
    assert probed.count() == 500


def test_sized_matches_bloom_arithmetic():
    """VERDICT r2 #5: (n_shards, m_bits, k) from n_items + target FPR.
    Classic figures: 1% → ~9.59 bits/item, k=7; SURVEY §4.3's 10^10-URL
    row lands near 180 shards of ≤64 MiB."""
    bs = BloomSeen.sized(1_000_000, target_fpr=0.01)
    assert bs.n_shards == 1  # ~1.2 MB total, fits one 64 MiB shard
    assert 9.5 <= bs.m_bits / 1_000_000 <= 9.7
    assert bs.k == 7
    assert bs.estimated_fpr(1_000_000) < 0.011

    big = BloomSeen.sized(10_000_000_000, target_fpr=0.01)
    assert 170 <= big.n_shards <= 190, big.n_shards
    assert big.m_bits <= (1 << 26) * 8
    assert big.k == 7
    # saturation is visible through the estimate (the autosize trigger)
    assert big.estimated_fpr(10_000_000_000) < 0.011
    assert big.estimated_fpr(40_000_000_000) > 0.1


def test_sized_measured_fpr_on_fixture(spark):
    """Measured FPR of a .sized() filter tracks the target on real probes
    (3σ slack on a 5k-probe sample at p=0.02 ⇒ < ~0.03)."""
    bs = BloomSeen.sized(4000, target_fpr=0.02)
    seen = _urls(spark, 0, 4000)
    unseen = _urls(spark, 1_000_000, 5000)
    bloom = bs.build_delta(seen)
    n_maybe = bs.probe(unseen, bloom).filter(F.col("maybe_seen")).count()
    assert n_maybe / 5000 < 0.032, n_maybe
    # and still zero false drops
    probed_seen = bs.probe(seen, bloom)
    assert probed_seen.filter(~F.col("maybe_seen")).count() == 0


def test_table_is_self_describing(spark):
    bs = BloomSeen(n_shards=4, m_bits=1 << 14, k=3)
    t = bs.build_delta(_urls(spark, 0, 100))
    back = BloomSeen.from_table(t)
    assert back.params() == {"n_shards": 4, "m_bits": 1 << 14, "k": 3}


def test_crawl_autosize_resizes_and_stays_exact(spark, tmp_path):
    """A deliberately tiny bloom must get rebuilt at compaction (estimated
    FPR over threshold) with results identical to the exact-only run, and
    a resume after the resize must probe with the persisted geometry."""
    import os

    from pyspark.sql import functions as F  # noqa: F811

    from colymer_acquirers_spark.operators.seen_bloom import BLOOM_SCHEMA
    from colymer_acquirers_spark.plans.crawl import read_output, run_crawl
    from colymer_acquirers_spark.sources.synth import (
        synth_pages,
        synth_politeness,
        synth_seeds,
    )

    pages = synth_pages(spark, 400).persist()
    seeds = synth_seeds(spark, 6)
    pol = synth_politeness(spark)
    tiny = BloomSeen(n_shards=2, m_bits=256, k=3)  # saturates in one round

    wd_a = str(tmp_path / "auto")
    run_crawl(spark, pages, seeds, pol, None, wd_a, max_rounds=4,
              use_bloom=True, bloom_filter=tiny, compact_every=2)
    wd_b = str(tmp_path / "exact")
    run_crawl(spark, pages, seeds, pol, None, wd_b, max_rounds=4)

    a = read_output(spark, wd_a, "crawl_order").orderBy("rank").collect()
    b = read_output(spark, wd_b, "crawl_order").orderBy("rank").collect()
    assert [r["url"] for r in a] == [r["url"] for r in b]

    # the last committed bloom must carry a rebuilt (larger) geometry
    last = max(
        int(k) for k in os.listdir(os.path.join(wd_a, "rounds")) if k.isdigit()
    )
    persisted = BloomSeen.from_table(
        spark.read.schema(BLOOM_SCHEMA).parquet(
            os.path.join(wd_a, "rounds", str(last), "bloom")
        )
    )
    assert persisted.m_bits > tiny.m_bits, persisted.params()

    # resume with NO bloom_filter arg: geometry must come from the table
    more = run_crawl(spark, pages, seeds, pol, None, wd_a, max_rounds=6,
                     use_bloom=True, compact_every=2)
    assert more["rounds"] == list(range(len(more["rounds"])))
    a6 = read_output(spark, wd_a, "crawl_order").orderBy("rank").collect()
    run_crawl(spark, pages, seeds, pol, None, wd_b, max_rounds=6)
    b6 = read_output(spark, wd_b, "crawl_order").orderBy("rank").collect()
    assert [r["url"] for r in a6] == [r["url"] for r in b6]
    pages.unpersist()


def test_crawl_autosize_swap_survives_crash(spark, tmp_path, monkeypatch):
    """A crash inside the re-size commit (the rename that moves the rebuilt
    bloom into place fails) must resume with the re-sized filter: no
    leftover sibling dirs, and the same committed blooms and crawl order as
    an uninterrupted run."""
    from colymer_acquirers_spark.operators.seen_bloom import BLOOM_SCHEMA
    from colymer_acquirers_spark.plans.crawl import read_output, run_crawl
    from colymer_acquirers_spark.sources.synth import (
        synth_pages,
        synth_politeness,
        synth_seeds,
    )

    pages = synth_pages(spark, 300).persist()
    web = (pages, synth_seeds(spark, 6), synth_politeness(spark), None)
    kw = dict(max_rounds=3, use_bloom=True, compact_every=2)
    tiny = BloomSeen(n_shards=1, m_bits=64, k=3)  # re-sized at round 1
    wd_ref, wd = str(tmp_path / "ref"), str(tmp_path / "crash")
    run_crawl(spark, *web, wd_ref, bloom_filter=tiny, **kw)

    real_rename = os.rename

    def failing_rename(src, dst):
        # the first rename that moves a new dir onto a round's bloom fails
        if os.path.basename(dst) == "bloom":
            monkeypatch.setattr(os, "rename", real_rename)
            raise OSError("injected crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected crash"):
        run_crawl(spark, *web, wd, bloom_filter=tiny, **kw)
    assert os.rename is real_rename
    run_crawl(spark, *web, wd, **kw)  # resume: geometry from the persisted table

    def rounds(w):
        return sorted(int(d) for d in os.listdir(os.path.join(w, "rounds")) if d.isdigit())

    def bloom(w, r):
        path = os.path.join(w, "rounds", str(r), "bloom")
        return _table(spark.read.schema(BLOOM_SCHEMA).parquet(path))

    assert rounds(wd) == rounds(wd_ref) == [0, 1, 2]
    for r in rounds(wd):
        # no .__resized / .__evict / .__old sibling left behind
        listing = [sorted(os.listdir(os.path.join(w, "rounds", str(r)))) for w in (wd, wd_ref)]
        assert listing[0] == listing[1], listing
        assert bloom(wd, r) == bloom(wd_ref, r), r
    assert BloomSeen.from_table(
        spark.read.schema(BLOOM_SCHEMA).parquet(os.path.join(wd, "rounds", "1", "bloom"))
    ).m_bits > tiny.m_bits

    def order(w):
        return [r["url"] for r in read_output(spark, w, "crawl_order").orderBy("rank").collect()]

    assert order(wd) == order(wd_ref)
    pages.unpersist()
