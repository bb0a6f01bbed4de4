"""Salted-bloom URL-seen shards (north_rule; SURVEY.md §4.3).

Reference analog: the chain-block interval seen-set (``colymer/acquirers/
acquirer.py:10-22``) — an interval-compressed "have I fetched this" structure
— generalized to a sharded bloom filter:

- shard key = Murmur3(``canonical_url``) mod n_shards (Spark ``hash``), i.e.
  salted by the *full* URL, not the host → a hot host (30%% of URLs in the
  fixture) spreads uniformly across shards; no shard hotspot.
- bit positions from the double-hashing scheme idx_i = (h1 + i·h2) mod m
  (uint64 wraparound) with h1 = xxhash64(url), h2 = xxhash64(url, 1).
- build, merge and probe are Spark JVM expressions only — no row crosses to
  a Python worker. ``bitmap_construct_agg`` / ``bitmap_or_agg`` set and OR
  bits in 4096-byte buckets with the filter's own layout (byte p>>3,
  bit p&7), so a shard is its buckets concatenated; the probe joins each
  frontier row to its shard's bloom rows (left join on the salted shard
  key, one row per shard) and tests the k bits with ``substring``. Bloom
  answers "definitely unseen" / "maybe seen"; only maybe-seen rows continue
  to the exact anti-join backstop — the bloom can never FALSE-DROP a URL
  (SURVEY.md §5.4 test 4).

Sizing (10^10-URL frontier): 10 bits/key ≈ 12.5 GB total ⇒ ~200 shards of
64 MB; shards live in the round checkpoint and OR-merge incrementally (the
analog of block compaction, ``acquirer.py:46-58``). ``BloomSeen.sized``
derives (n_shards, m_bits, k) from expected item count + target FPR using
exactly that arithmetic; the crawl loop re-sizes at compaction when the
accumulated occupancy pushes the estimated FPR past its threshold
(rebuilding from the exact seen set, which compaction has in hand anyway).
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# self-describing: every row carries its filter geometry, so a resumed
# process reconstructs the exact (n_shards, m_bits, k) the persisted bytes
# were built with — a params mismatch would turn bloom bit positions into
# garbage and break the never-false-drop invariant silently
BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bloom", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("n_shards", T.IntegerType(), False),
        T.StructField("m_bits", T.IntegerType(), False),
        T.StructField("k", T.IntegerType(), False),
    ]
)

DEFAULT_M_BITS = 1 << 20  # 128 KiB per shard (test scale)
DEFAULT_K = 5
DEFAULT_SHARDS = 32

# bitmap_construct_agg / bitmap_or_agg work on fixed 4096-byte buckets
# (bit p of a bucket = byte p>>3, bit p&7: the filter's own byte layout)
_BUCKET_SHIFT = 15  # 32,768 bits per bucket
_BUCKET_MASK = (1 << _BUCKET_SHIFT) - 1
_BUCKET_BYTES = 1 << (_BUCKET_SHIFT - 3)
_BUCKET_HEX = 2 * _BUCKET_BYTES  # hex digits per bucket
_U64 = Decimal(1 << 64)


def _with_hashes(df: DataFrame, n_shards: int) -> DataFrame:
    c = F.col("canonical_url")
    return df.withColumn("__shard", F.pmod(F.hash(c), F.lit(n_shards)).cast("int")).withColumn(
        "__h1", F.xxhash64(c)
    ).withColumn("__h2", F.xxhash64(c, F.lit(1)))


def _positions(k: int, m_bits: int) -> Column:
    """array<int> of the k bit positions (h1 + i·h2 mod 2^64) mod m_bits over
    ``__h1``/``__h2``. The signed-long hashes are congruent to their uint64
    values mod 2^64, so exact decimal arithmetic reproduces the uint64
    wraparound without long overflow (which ANSI mode raises on)."""
    h1 = F.col("__h1").cast("decimal(20,0)")
    h2 = F.col("__h2").cast("decimal(20,0)")
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(F.pmod(h1 + i * h2, F.lit(_U64)), F.lit(m_bits)).cast("int"),
    )


def _assemble(per_shard: DataFrame) -> DataFrame:
    """Per-shard ``__buckets`` (array of (b, 4096-byte bitmap)) → BLOOM_SCHEMA
    rows. The buckets are joined in order as hex, each left-padded with
    zeros over the gap since the previous one, and the result right-padded
    (or cut) to m_bits/8 bytes. (``concat`` takes no array, and folding a
    binary concat would copy quadratically.)"""
    srt = per_shard.withColumn("__buckets", F.array_sort("__buckets"))
    hexed = F.transform(
        "__buckets",
        lambda x, j: F.lpad(
            F.hex(x["bm"]),
            (x["b"] - F.coalesce(F.get("__buckets", j - 1)["b"], F.lit(-1))) * _BUCKET_HEX,
            "0",
        ),
    )
    cols = {
        "shard": F.col("__shard"),
        "bloom": F.unhex(F.rpad(F.array_join(hexed, ""), F.shiftright("m_bits", 2), "0")),
    }
    # coalescing with a never-taken literal makes every column non-nullable,
    # as BLOOM_SCHEMA declares and the parquet files have always recorded
    return srt.select(
        *(
            F.coalesce(
                cols.get(f.name, F.col(f.name)),
                F.lit(b"" if f.name == "bloom" else 0).cast(f.dataType),
            ).alias(f.name)
            for f in BLOOM_SCHEMA.fields
        )
    )


class BloomSeen:
    SCHEMA = BLOOM_SCHEMA  # shard-table schema (crawl loop reads via this)

    def __init__(
        self,
        n_shards: int = DEFAULT_SHARDS,
        m_bits: int = DEFAULT_M_BITS,
        k: int = DEFAULT_K,
    ):
        self.n_shards = n_shards
        self.m_bits = m_bits
        self.k = k

    # -- sizing ------------------------------------------------------------
    @classmethod
    def sized(
        cls,
        expected_items: int,
        target_fpr: float = 0.01,
        max_shard_bytes: int = 1 << 26,
    ) -> "BloomSeen":
        """Derive (n_shards, m_bits, k) from expected item count and target
        FPR (SURVEY.md §4.3 sizing): total_bits = n·ln(1/p)/ln²2,
        k = (m/n)·ln2, shard count bounded by ``max_shard_bytes`` so a
        single shard always fits one task's memory (64 MiB default — the
        10^10-URL / 1% config lands on ~180 shards of 64 MiB, k=7).

        Shard key splits ITEMS uniformly too (salted full-URL hash), so the
        bits-per-item ratio — and therefore the FPR — is preserved
        per-shard."""
        n = max(1, int(expected_items))
        total_bits = math.ceil(n * math.log(1.0 / target_fpr) / (math.log(2) ** 2))
        k = max(1, round(total_bits / n * math.log(2)))
        n_shards = max(1, math.ceil(total_bits / (max_shard_bytes * 8)))
        # per-shard bits, rounded up to whole bytes
        m_bits = ((math.ceil(total_bits / n_shards) + 7) // 8) * 8
        return cls(n_shards=n_shards, m_bits=m_bits, k=k)

    def params(self) -> dict:
        """Persistable construction parameters (round-checkpoint sidecar)."""
        return {"n_shards": self.n_shards, "m_bits": self.m_bits, "k": self.k}

    def estimated_fpr(self, n_items_total: int) -> float:
        """Expected FPR at ``n_items_total`` inserted across all shards:
        p = (1 − e^{−k·n/m})^k with n the per-shard load."""
        n = max(0, int(n_items_total)) / self.n_shards
        return (1.0 - math.exp(-self.k * n / self.m_bits)) ** self.k

    @classmethod
    def from_table(cls, blooms: DataFrame) -> "BloomSeen | None":
        """Reconstruct the filter a persisted shard table was built with
        (self-describing geometry columns). One tiny driver job; used on
        resume, never per round."""
        row = blooms.select("n_shards", "m_bits", "k").first()
        if row is None:
            return None
        return cls(n_shards=row["n_shards"], m_bits=row["m_bits"], k=row["k"])

    # -- build -------------------------------------------------------------
    def build_delta(self, urls: DataFrame) -> DataFrame:
        """canonical_url DF → bloom shard table (one row per non-empty shard)."""
        pos = _with_hashes(urls.select("canonical_url"), self.n_shards).select(
            "__shard", F.explode(_positions(self.k, self.m_bits)).alias("p")
        )
        buckets = pos.groupBy("__shard", F.shiftright("p", _BUCKET_SHIFT).alias("b")).agg(
            F.bitmap_construct_agg(F.col("p").bitwiseAND(_BUCKET_MASK)).alias("bm"),
            F.count("*").alias("n"),
        )
        per_shard = buckets.groupBy("__shard").agg(
            F.collect_list(F.struct("b", "bm")).alias("__buckets"),
            # every row contributed exactly k positions
            (F.sum("n") / self.k).cast("long").alias("n_items"),
            F.lit(self.n_shards).alias("n_shards"),
            F.lit(self.m_bits).alias("m_bits"),
            F.lit(self.k).alias("k"),
        )
        return _assemble(per_shard)

    def merge(self, blooms: DataFrame) -> DataFrame:
        """OR-merge bloom rows per shard (compaction / round accumulation).

        ``bitmap_or_agg`` ORs one 4096-byte bucket, so each row is cut into
        bucket chunks, all-zero chunks dropped (chunk 0 kept: it carries the
        row's item count), OR-ed per (shard, bucket) and reassembled."""
        chunks = blooms.select(
            "shard", "n_items", F.struct("n_shards", "m_bits", "k").alias("geo"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.shiftright(F.length("bloom") - 1, _BUCKET_SHIFT - 3)),
                    lambda b: F.col("bloom").substr(b * _BUCKET_BYTES + 1, F.lit(_BUCKET_BYTES)),
                )
            ).alias("b", "chunk"),
        ).filter((F.col("b") == 0) | (F.bitmap_count("chunk") > 0))
        buckets = chunks.groupBy("shard", "b").agg(
            F.bitmap_or_agg("chunk").alias("bm"),
            F.sum(F.when(F.col("b") == 0, F.col("n_items"))).alias("n"),
            F.min("geo").alias("lo"),
            F.max("geo").alias("hi"),
        )
        per_shard = buckets.groupBy(F.col("shard").alias("__shard")).agg(
            F.collect_list(F.struct("b", "bm")).alias("__buckets"),
            F.sum("n").alias("n_items"),
            # OR-merging rows built under different geometries is meaningless
            F.when(
                F.min("lo") != F.max("hi"),
                F.raise_error(F.lit("bloom merge across mismatched filter params")),
            ).otherwise(F.min("lo")).alias("geo"),
        ).select("__shard", "__buckets", "n_items", "geo.*")
        return _assemble(per_shard)

    # -- probe -------------------------------------------------------------
    def probe(self, frontier: DataFrame, blooms: DataFrame) -> DataFrame:
        """frontier + boolean ``maybe_seen`` column.

        Each frontier row joins (left, on the salted shard key) the list of
        its shard's bloom rows; a position counts as set when any of them
        has the bit (rows of one shard OR together). Rows with
        maybe_seen = false are *definitely* unseen (skip the exact
        anti-join); true rows must be confirmed exactly.
        """
        fr = _with_hashes(frontier, self.n_shards)
        keep = [c for c in fr.columns if not c.startswith("__")]
        per_shard = blooms.groupBy(F.col("shard").alias("__shard")).agg(
            F.collect_list("bloom").alias("__blooms")
        )

        def bit(bloom: Column, p: Column) -> Column:
            byte = F.conv(F.hex(bloom.substr(F.shiftright(p, 3) + 1, F.lit(1))), 16, 10)
            return F.getbit(byte.cast("int"), p.bitwiseAND(7)) == 1

        maybe = F.forall(
            _positions(self.k, self.m_bits),
            lambda p: F.exists("__blooms", lambda b: bit(b, p)),
        )
        # no bloom row for the shard → null → definitely unseen
        return fr.join(per_shard, "__shard", "left").select(
            *keep, F.coalesce(maybe, F.lit(False)).alias("maybe_seen")
        )
