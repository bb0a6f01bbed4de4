"""The benchmark's workloads: seeded input generation, one timed iteration,
and the output checks that run outside the timed window.

Two workloads (see README.md for why these two, their sizes and the
layer shares they produce):

- ``crawl``: ``plans.crawl.run_crawl`` over the synthetic web, two rounds
  with bloom prefilter, seen compaction and throttled politeness budgets.
  One timed iteration is one whole crawl in a fresh workdir.
- ``dedup_catalog``: five dedup/cleaning leaves of the
  ``__spark_entry__.queries()`` catalog over a seeded ``documents`` table.
  One timed iteration runs every leaf once and writes its result.

Only public entry points of the program are called.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import time

import numpy as np

# --- crawl workload --------------------------------------------------------
# Politeness budgets are tight against the frontier so every host fetches
# exactly its budget every round: the work per crawl (sum of budgets x
# rounds) is then the same for every seed, while the seed still decides
# which URLs are crawled. budget_from_delay maps the per-host delays
# {2, 1, 2/3} s to budgets {R/2, R, 1.5R} per round of R seconds.
CRAWL_PAGES = 2000
CRAWL_WORDS_MULT = 6
CRAWL_SEEDS = 400
CRAWL_ROUNDS = 2
CRAWL_ROUND_SECONDS = 3.0
CRAWL_COMPACT_EVERY = 2

# --- dedup_catalog workload ------------------------------------------------
N_DOCS = 500
# the sf0.1 documents vocabulary: a small shared vocabulary makes real
# near-duplicates (and LSH bucket collisions) appear at every size
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DEDUP_LEAVES = [
    "minhash_near_dups_verified",
    "near_dup_clusters",
    "ngram_jaccard_variants",
    "line_dedup_clean",
    "decontamination_flags",
]
# layer (operators module) doing each leaf's work
LEAF_LAYER = {
    "minhash_near_dups_verified": "dedup",
    "ngram_jaccard_variants": "dedup",
    "near_dup_clusters": "ckpt",
    "line_dedup_clean": "cleaning",
    "decontamination_flags": "sampling",
}


def built_pages(spark) -> str:
    """The seed-independent pages table, built once per checkout.

    ``synth_pages`` is deterministic, so its output is kept under
    ``.perfbench_build/`` keyed by the generator's source and the sizes;
    a run then pays only the seed-dependent part of input generation."""
    import inspect

    from colymer_acquirers_spark.sources import synth

    key = hashlib.sha256(
        f"{CRAWL_PAGES}/{CRAWL_WORDS_MULT}/".encode() + inspect.getsource(synth).encode()
    ).hexdigest()[:16]
    build = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_build")
    out = os.path.join(build, f"pages-{key}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        synth.synth_pages(spark, CRAWL_PAGES, words_mult=CRAWL_WORDS_MULT).write.mode(
            "overwrite"
        ).parquet(tmp)
        os.replace(tmp, out)
    return out


class Crawl:
    """Seeded crawl inputs plus one-crawl iterations."""

    name = "crawl"
    item = "fetched URL"
    step = "crawl round"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_iter = 0
        self.last_workdir: str | None = None

    def generate(self) -> None:
        """Materialize pages/seeds/politeness/robots under the work dir."""
        from pyspark.sql import functions as F

        from colymer_acquirers_spark.operators.politeness import budget_from_delay
        from colymer_acquirers_spark.sources.synth import synth_politeness, synth_robots

        spark = self.spark
        self.pages_dir = built_pages(spark)
        self.pages = spark.read.parquet(self.pages_dir)
        h = F.xxhash64("url", F.lit(self.seed))
        self.seeds_pd = (
            self.pages.select("url", h.alias("h"))
            .orderBy("h", "url")
            .limit(CRAWL_SEEDS)
            .select("url", F.pmod("h", F.lit(3)).cast("int").alias("priority"))
            .toPandas()
        )
        self.seeds = spark.createDataFrame(self.seeds_pd)
        mult = F.element_at(
            F.array(F.lit(2.0), F.lit(1.0), F.lit(2.0 / 3.0)),
            F.pmod(F.xxhash64("host"), F.lit(3)).cast("int") + 1,
        )
        self.politeness_pd = budget_from_delay(
            synth_politeness(spark).withColumn("crawl_delay_s", mult),
            round_seconds=CRAWL_ROUND_SECONDS,
        ).toPandas()
        self.politeness = spark.createDataFrame(self.politeness_pd)
        self.robots_pd = synth_robots(spark).toPandas()
        self.robots = spark.createDataFrame(self.robots_pd)

    def sizes(self) -> dict:
        return {
            "pages": CRAWL_PAGES,
            "words_mult": CRAWL_WORDS_MULT,
            "seeds": CRAWL_SEEDS,
            "rounds": CRAWL_ROUNDS,
            "round_seconds": CRAWL_ROUND_SECONDS,
            "compact_every": CRAWL_COMPACT_EVERY,
            "use_bloom": True,
        }

    def iteration(self, spans=None) -> dict:
        """One whole crawl in a fresh workdir; the previous one is removed.
        With ``spans`` the crawl is recorded as one span."""
        from colymer_acquirers_spark.plans.crawl import read_manifest, run_crawl

        if self.last_workdir:
            shutil.rmtree(self.last_workdir, ignore_errors=True)
        wd = os.path.join(self.work, f"crawl{self.n_iter}")
        self.n_iter += 1
        t0 = time.time()
        with spans.span("crawl", "crawl") if spans else contextlib.nullcontext():
            summary = run_crawl(
                self.spark,
                self.pages,
                self.seeds,
                self.politeness,
                self.robots,
                wd,
                max_rounds=CRAWL_ROUNDS,
                metrics_full=False,
                use_bloom=True,
                compact_every=CRAWL_COMPACT_EVERY,
            )
        t1 = time.time()
        self.last_workdir = wd
        self.summary = summary
        # round k ends when its manifest commits: successive manifest
        # mtimes give per-round wall time (round 0 starts at the call)
        ends = [
            os.path.getmtime(os.path.join(wd, "rounds", str(k), "manifest.json"))
            for k in summary["rounds"]
        ]
        steps = [b - a for a, b in zip([t0] + ends, ends)]
        for k in summary["rounds"]:
            read_manifest(wd, k)  # committed and readable
        return {
            "wall": t1 - t0,
            "t0": t0,
            "t1": t1,
            "items": summary["rank_total"],
            "steps": steps,
        }

    def checks(self) -> list[tuple[str, bool, str]]:
        """crawl_order and the seen set equal pyref.crawl on the same inputs.

        pyref only ever looks up the pages it fetches, so it is given the
        pages the engine fetched: while both agree, that is every page
        pyref looks up; at the first round where they disagree the two
        crawl orders already differ. Outputs are read with pyarrow, so the
        check adds no Spark job."""
        import glob

        import pyarrow.parquet as pq

        from colymer_acquirers_spark import pyref

        order = pq.ParquetDataset(
            glob.glob(
                os.path.join(self.last_workdir, "rounds", "*", "crawl_order", "*.parquet")
            )
        ).read().to_pandas()
        eng = order.sort_values("rank").reset_index(drop=True)
        pages = pq.read_table(self.pages_dir).to_pandas()
        ref = pyref.crawl(
            pages[pages["url"].isin(set(eng["url"]))],
            self.seeds_pd,
            self.politeness_pd,
            self.robots_pd,
            max_rounds=CRAWL_ROUNDS,
        )
        want = ref.crawl_order.sort_values("rank").reset_index(drop=True)
        cols = ["rank", "url", "round"]
        typ = {"rank": "int64", "round": "int64"}
        order_ok = len(eng) == len(want) and eng[cols].astype(typ).equals(
            want[cols].astype(typ)
        )
        seen = set(eng["url"])
        return [
            ("crawl_order==pyref", bool(order_ok), f"{len(eng)} vs {len(want)} rows"),
            ("seen==pyref", seen == ref.seen, f"{len(seen)} vs {len(ref.seen)} urls"),
            (
                "rank_total==pyref",
                self.summary["rank_total"] == len(want),
                f"{self.summary['rank_total']} vs {len(want)}",
            ),
            ("crawl progressed", len(want) > 0, f"{len(want)} rows"),
        ]


def documents(seed: int, n: int = N_DOCS):
    """Seeded ``documents`` table shaped like the sf0.1 fixture
    (doc_id, text, lang, source, n_chars): 15-95 words from a 30-word
    vocabulary, ~0.2% exact duplicate texts, doc ids seed-permuted."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_words = rng.integers(15, 96, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in n_words]
    dup = rng.choice(n, max(1, n // 500), replace=False)
    for i in dup:
        texts[i] = texts[(i + 1) % n]
    ids = rng.permutation(n).astype("int64")
    langs = rng.choice(LANGS, n, p=LANG_P)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


class DedupCatalog:
    """Seeded documents plus iterations over five catalog leaves."""

    name = "dedup_catalog"
    item = "input document x leaf"
    step = "catalog leaf"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sf = os.path.join(work, "sf")
        self.out = os.path.join(work, "leaves")

    def generate(self) -> None:
        import pyarrow.parquet as pq

        import __spark_entry__

        os.makedirs(self.sf, exist_ok=True)
        pq.write_table(documents(self.seed), os.path.join(self.sf, "documents.parquet"))
        self.catalog = __spark_entry__.queries()

    def sizes(self) -> dict:
        return {"documents": N_DOCS, "leaves": list(DEDUP_LEAVES)}

    def run_leaf(self, name: str) -> None:
        df = self.catalog[name](self.spark, self.sf)
        df.write.mode("overwrite").parquet(os.path.join(self.out, name))

    def iteration(self, spans=None) -> dict:
        """Every leaf once; with ``spans`` each leaf is one span."""
        t0 = time.time()
        steps = []
        for name in DEDUP_LEAVES:
            s = time.time()
            with spans.span(name, LEAF_LAYER[name]) if spans else contextlib.nullcontext():
                self.run_leaf(name)
            steps.append(time.time() - s)
        t1 = time.time()
        return {
            "wall": t1 - t0,
            "t0": t0,
            "t1": t1,
            "items": N_DOCS * len(DEDUP_LEAVES),
            "steps": steps,
        }

    def checks(self) -> list[tuple[str, bool, str]]:
        """Each leaf's written result matches its oracle_sql() DuckDB result
        by row count and an order-insensitive hash."""
        import warnings

        import duckdb
        import pyarrow.parquet as pq

        with warnings.catch_warnings():
            # the ann oracle wants an embeddings table no leaf here reads
            warnings.simplefilter("ignore")
            from colymer_acquirers_spark.queries import oracle_sql

            sql = oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
            path = os.path.join(self.sf, "documents.parquet")
            con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            out = []
            for name in DEDUP_LEAVES:
                got = pq.read_table(os.path.join(self.out, name))
                want = con.sql(sql[name]).arrow()
                ok = got.num_rows == want.num_rows and table_hash(got) == table_hash(
                    want
                )
                out.append(
                    (f"{name}==oracle", ok, f"{got.num_rows} vs {want.num_rows} rows")
                )
            return out
        finally:
            con.close()


def table_hash(t) -> str:
    """Order-insensitive hash of an Arrow table: columns by name, rows
    sorted, values rendered with repr (floats round-trip exactly)."""
    cols = sorted(t.column_names)
    data = [t.column(c).to_pylist() for c in cols]
    rows = sorted(repr(r) for r in zip(*data))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


WORKLOADS = {Crawl.name: Crawl, DedupCatalog.name: DedupCatalog}
