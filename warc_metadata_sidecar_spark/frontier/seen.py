"""N2: URL-seen membership at 10^10 scale.

Design (SURVEY.md §2b N2): probabilistic filters are a PREFILTER, never the
source of truth — Bloom false positives must not drop URLs. The flow is:

    candidates --filter("definitely new")--> pass through
               --filter("maybe seen")-----> exact left_anti join vs seen

so the anti-join only carries rows the filter could not clear (true dups +
false positives, a small fraction of the frontier at 10^10 scale with an
appropriately sized filter). Exactness is restored by the anti-join;
equality with the plain anti-join is asserted in tests.

The filter is a bloom+cuckoo tier per url-hash shard, stored as a `filters`
table with one binary state row per shard. The states are built, updated
and probed on executors: `update_filter_shards` folds each round's new keys
into their shard's state, and `filter_new` routes candidates to their shard
so the task owning it deserializes that one state and probes its rows.
Neither keys nor states pass through the driver.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_BITS = 1 << 22  # 4 Mi bits ~ 0.5 MiB; sized for sandbox scales
DEFAULT_HASHES = 5
DEFAULT_SHARDS = 32  # url-hash shards of the `filters` table


def _indexes(url: str, num_bits: int, num_hashes: int) -> list[int]:
    """k deterministic bit positions via double hashing over md5 halves."""
    d = hashlib.md5(url.encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [((h1 + i * h2) % (1 << 64)) % num_bits for i in range(num_hashes)]


class Bloom:
    def __init__(self, bits: np.ndarray, num_hashes: int = DEFAULT_HASHES):
        self.bits = bits  # uint8 array, len = num_bits // 8
        self.num_bits = len(bits) * 8
        self.num_hashes = num_hashes

    @classmethod
    def empty(cls, num_bits: int = DEFAULT_BITS, num_hashes: int = DEFAULT_HASHES) -> "Bloom":
        return cls(np.zeros(num_bits // 8, dtype=np.uint8), num_hashes)

    def add(self, url: str) -> None:
        for ix in _indexes(url, self.num_bits, self.num_hashes):
            self.bits[ix >> 3] |= 1 << (ix & 7)

    def might_contain(self, url: str) -> bool:
        return all(
            self.bits[ix >> 3] & (1 << (ix & 7))
            for ix in _indexes(url, self.num_bits, self.num_hashes)
        )


class CuckooFilter:
    """Overflow tier for the URL-seen prefilter (north rule N2).

    When the Bloom bitmap's fill ratio passes ~50% its false-positive rate
    decays sharply; new keys then go into this cuckoo filter instead, which
    stores 16-bit fingerprints in 4-slot buckets with the classic
    two-choice + eviction insert. Deterministic (md5-derived fingerprints
    and bucket choices), fixed memory, supports might_contain like Bloom.
    Lookups consult BOTH tiers; exactness still comes from the anti-join.
    """

    def __init__(self, num_buckets: int = 1 << 16, slots: int = 4, max_kicks: int = 200):
        self.num_buckets = num_buckets
        self.slots = slots
        self.max_kicks = max_kicks
        self.table = np.zeros((num_buckets, slots), dtype=np.uint16)
        self.overflowed: set[int] = set()  # stash for keys evicted past max_kicks

    def _fp_and_buckets(self, url: str) -> tuple[int, int, int]:
        d = hashlib.md5(url.encode()).digest()
        fp = (int.from_bytes(d[:2], "big") % 65535) + 1  # never 0 (0 = empty)
        b1 = int.from_bytes(d[2:10], "big") % self.num_buckets
        b2 = (b1 ^ (fp * 0x5BD1E995)) % self.num_buckets
        return fp, b1, b2

    def add(self, url: str) -> None:
        fp, b1, b2 = self._fp_and_buckets(url)
        for b in (b1, b2):
            row = self.table[b]
            for s in range(self.slots):
                if row[s] == 0 or row[s] == fp:
                    row[s] = fp
                    return
        # evict deterministically: rotate slot 0 of b1
        b, cur = b1, fp
        for kick in range(self.max_kicks):
            row = self.table[b]
            s = kick % self.slots
            cur, row[s] = int(row[s]), cur
            b = (b ^ (cur * 0x5BD1E995)) % self.num_buckets
            row = self.table[b]
            for s2 in range(self.slots):
                if row[s2] == 0:
                    row[s2] = cur
                    return
        self.overflowed.add(cur)

    def might_contain(self, url: str) -> bool:
        fp, b1, b2 = self._fp_and_buckets(url)
        return (
            fp in self.table[b1]
            or fp in self.table[b2]
            or fp in self.overflowed
        )


class TieredSeenFilter:
    """Bloom primary + cuckoo overflow (north rule N2). Adds go to the bloom
    until its fill ratio crosses `spill_at`, then to the cuckoo tier."""

    def __init__(self, num_bits: int = DEFAULT_BITS, spill_at: float = 0.5):
        self.bloom = Bloom.empty(num_bits)
        self.cuckoo = CuckooFilter()
        self.spill_at = spill_at
        self._adds = 0
        # fill ratio estimated from adds (k hashes per add) — cheap and
        # deterministic, no popcount per insert
        self._spill_after = int(num_bits * spill_at / DEFAULT_HASHES)

    def add(self, url: str) -> None:
        if self._adds < self._spill_after:
            self.bloom.add(url)
        else:
            self.cuckoo.add(url)
        self._adds += 1

    def might_contain(self, url: str) -> bool:
        return self.bloom.might_contain(url) or self.cuckoo.might_contain(url)


# ---------------------------------------------------------------------------
# Sharded `filters` table (N2 at scale)
#
# The tiered filter is built and UPDATED entirely on executors: keys are
# shuffled to their url-hash shard, each shard's owning task folds the new
# keys into that shard's (deserialized) filter state, and the states persist
# as one binary row per shard in a `filters` table. Per-round update cost is
# O(|delta| + num_shards * state_size) — independent of |seen|, which is the
# property that makes 10^10 URLs feasible. Lookups probe the states where
# they live (filter_new), so neither keys nor states cross the driver.
# ---------------------------------------------------------------------------

FILTERS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("state", T.BinaryType()),
        T.StructField("adds", T.LongType()),
    ]
)

_MAGIC = b"TSF1"
_MAGIC_Z = b"TSFZ"  # zlib-compressed body (r3): sparse states are ~KB


def serialize_tiered(t: TieredSeenFilter) -> bytes:
    """Compact deterministic state: header + zlib(bloom bitmap + cuckoo
    table + sorted overflow fingerprints). The bitmaps are zero-dominated
    until near capacity, so compression turns the per-round state shuffle /
    checkpoint from num_shards x 0.64 MB into a few KB per shard (it decays
    gracefully to ~raw size as the filter fills)."""
    import zlib

    ov = np.array(sorted(t.cuckoo.overflowed), dtype=np.uint16)
    header = _MAGIC_Z + struct.pack(
        "<QQQQQQQ",
        t.bloom.num_bits,
        t.bloom.num_hashes,
        t._adds,
        t._spill_after,
        t.cuckoo.num_buckets,
        t.cuckoo.slots,
        len(ov),
    )
    body = t.bloom.bits.tobytes() + t.cuckoo.table.tobytes() + ov.tobytes()
    return header + zlib.compress(body, 1)


def deserialize_tiered(data: bytes) -> TieredSeenFilter:
    assert data[:4] in (_MAGIC, _MAGIC_Z), "bad filter state"
    num_bits, num_hashes, adds, spill_after, n_buckets, slots, n_ov = struct.unpack(
        "<QQQQQQQ", data[4:60]
    )
    if data[:4] == _MAGIC_Z:
        import zlib

        data = data[:60] + zlib.decompress(data[60:])
    t = TieredSeenFilter(num_bits=int(num_bits))
    t._adds = int(adds)
    t._spill_after = int(spill_after)
    off = 60
    blen = int(num_bits) // 8
    t.bloom = Bloom(
        np.frombuffer(data[off : off + blen], dtype=np.uint8).copy(), int(num_hashes)
    )
    off += blen
    clen = int(n_buckets) * int(slots) * 2
    t.cuckoo = CuckooFilter(num_buckets=int(n_buckets), slots=int(slots))
    t.cuckoo.table = (
        np.frombuffer(data[off : off + clen], dtype=np.uint16)
        .copy()
        .reshape(int(n_buckets), int(slots))
    )
    off += clen
    t.cuckoo.overflowed = set(
        int(x) for x in np.frombuffer(data[off : off + int(n_ov) * 2], dtype=np.uint16)
    )
    return t


def _shard_of(url: str, num_shards: int) -> int:
    """Python twin of shard_expr — same md5-prefix hash both sides."""
    return int(hashlib.md5(url.encode()).hexdigest()[:15], 16) % num_shards


def shard_expr(key_col, num_shards: int):
    """Shard id from the url key — 60-bit md5 prefix mod num_shards, exactly
    matching _shard_of so lookups route to the shard that holds the key."""
    return F.pmod(
        F.conv(F.substring(F.md5(key_col), 1, 15), 16, 10).cast("long"),
        F.lit(num_shards),
    ).cast("int")


def update_filter_shards(
    spark: SparkSession,
    delta: DataFrame,
    existing: DataFrame | None = None,
    key: str = "canonical_url",
    num_shards: int = DEFAULT_SHARDS,
    num_bits: int = DEFAULT_BITS,
) -> DataFrame:
    """Fold `delta`'s keys into the sharded filter states — executor-side.

    cogroup(delta keys, existing states) by shard: each task deserializes
    its shard's state (or starts fresh), adds the new keys, re-serializes.
    Shards untouched by the delta pass through unchanged. Returns the new
    `filters` DataFrame (shard, state, adds)."""
    keys = (
        delta.select(F.col(key).alias("k"))
        .filter(F.col("k").isNotNull())
        .withColumn("shard", shard_expr(F.col("k"), num_shards))
    )

    def merge(key_tuple: tuple, new_keys: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
        shard = int(key_tuple[0])
        if len(state):
            t = deserialize_tiered(bytes(state["state"].iloc[0]))
        else:
            t = TieredSeenFilter(num_bits=num_bits)
        for u in new_keys["k"]:
            t.add(u)
        return pd.DataFrame(
            [{"shard": shard, "state": serialize_tiered(t), "adds": t._adds}]
        )

    if existing is None:
        # fresh build: plain grouped apply — no cogroup against a
        # synthesized empty frame (one less plan leg; same merge fn).
        # Every parameter is annotated so PySpark's eval-type inference
        # succeeds instead of warning on each call.
        def build(key_tuple: tuple, new_keys: pd.DataFrame) -> pd.DataFrame:
            return merge(key_tuple, new_keys, pd.DataFrame(columns=["state"]))

        return keys.groupBy("shard").applyInPandas(build, FILTERS_SCHEMA)

    return (
        keys.groupBy("shard")
        .cogroup(existing.groupBy("shard"))
        .applyInPandas(merge, FILTERS_SCHEMA)
    )


def load_sharded(filters: DataFrame, num_shards: int = DEFAULT_SHARDS) -> DataFrame:
    """Return `filters` unchanged. Kept because the e2ebench crawl trace
    calls it by name and passes its result positionally to filter_new."""
    return filters


# ---------------------------------------------------------------------------
# Bucketed `seen` table (VERDICT r2 #1 — the 100 TB layout for the exact
# anti-join backstop)
#
# The prefilter already shrinks the LEFT side of the anti-join to the
# maybe-seen rows, but a plain-parquet `seen` re-SHUFFLES the full seen set
# every round: O(rounds x |seen|) shuffle bytes. Stored hash-bucketed by the
# url key (Spark bucketed table here; Iceberg bucket(canonical_url) in
# production), the seen side of the left_anti co-locates with ZERO exchange —
# per-round shuffle bytes are O(|maybe-seen|), independent of |seen|; the
# remaining per-round cost is a sequential key-column scan (the classic
# Mercator batch URL-seen merge). Appends are O(delta): each round adds one
# file set per touched bucket.
# ---------------------------------------------------------------------------

SEEN_BUCKETS = 32


def seen_table_name(path: str) -> str:
    """Deterministic catalog name for the bucketed seen table at `path`."""
    return "seen_bucketed_" + hashlib.md5(path.encode()).hexdigest()[:12]


def create_seen_bucketed(
    spark: SparkSession,
    path: str,
    df: DataFrame | None = None,
    table: str | None = None,
    buckets: int = SEEN_BUCKETS,
) -> str:
    """(Re)create the bucketed seen table (canonical_url, first_round) at
    `path`, seeded from `df` (empty when None). Returns the table name."""
    import shutil

    tbl = table or seen_table_name(path)
    if df is None:
        df = spark.createDataFrame([], "canonical_url string, first_round int")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(path, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, "canonical_url")
        .sortBy("canonical_url")
        .format("parquet")
        .saveAsTable(tbl)
    )
    return tbl


def reuse_or_create_seen_bucketed(
    spark: SparkSession,
    path: str,
    df: DataFrame | None = None,
    table: str | None = None,
    buckets: int = SEEN_BUCKETS,
    expected_rows: int = 0,
) -> str:
    """create_seen_bucketed, minus the O(|seen|) drop-and-rewrite when a
    valid table already exists at `path` (VERDICT r3 #5 — resuming a crawl
    over 10^10 seen rows must not rewrite the whole seen store).

    Reuse requires the existing table to hold exactly `expected_rows` rows
    (the count of the checkpoint-reconstructed seen set): fewer/more means
    the table and the round checkpoints diverged (e.g. a crash between the
    bucketed append and the snapshot write), and the checkpoints are the
    source of truth — rebuild. A table written by a previous PROCESS is not
    in this session's in-memory catalog, so the existing bucketed files are
    re-registered via external-table DDL (CLUSTERED BY, no data rewrite)."""
    tbl = table or seen_table_name(path)
    if expected_rows > 0 and os.path.isdir(path):
        if not spark.catalog.tableExists(tbl):
            spark.sql(
                f"CREATE TABLE {tbl} (canonical_url STRING, first_round INT) "
                f"USING PARQUET CLUSTERED BY (canonical_url) "
                f"SORTED BY (canonical_url) INTO {buckets} BUCKETS "
                f"LOCATION '{path}'"
            )
        if spark.table(tbl).count() == expected_rows:
            return tbl
    return create_seen_bucketed(spark, path, df=df, table=tbl, buckets=buckets)


def append_seen_bucketed(
    delta: DataFrame, table: str, buckets: int = SEEN_BUCKETS
) -> None:
    """O(delta) append of one round's newly scheduled keys."""
    (
        delta.write.mode("append")
        .bucketBy(buckets, "canonical_url")
        .sortBy("canonical_url")
        .format("parquet")
        .saveAsTable(table)
    )


def filter_new(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame | None = None,
    key: str = "canonical_url",
    num_shards: int = DEFAULT_SHARDS,
) -> DataFrame:
    """Rows of `candidates` whose key is NOT in `seen` — exact.

    `filters` is the sharded (shard, state, adds) table from
    update_filter_shards, built with the same `num_shards`. Candidates route
    to their url-hash shard and the task owning each shard deserializes its
    state once to probe them; only maybe-seen rows take the anti-join, rows
    the filter proves new bypass it. Without `filters`, plain left_anti:
    the correctness baseline the filtered path must equal (pinned by tests
    and the url_seen_* oracles).
    """
    if filters is None:
        return candidates.join(seen.select(key), key, "left_anti")

    tagged = candidates.withColumn("_shard", shard_expr(F.col(key), num_shards))
    out_schema = T.StructType(
        list(tagged.schema.fields) + [T.StructField("_maybe", T.BooleanType())]
    )

    def probe(key_tuple: tuple, cand: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
        out = cand.copy()
        if not len(cand):
            out["_maybe"] = pd.Series(dtype="bool")
            return out
        if len(state):
            t = deserialize_tiered(bytes(state["state"].iloc[0]))
            out["_maybe"] = cand[key].map(
                lambda u: bool(u is not None and t.might_contain(u))
            )
        else:
            out["_maybe"] = False
        return out

    flagged = (
        tagged.groupBy("_shard")
        .cogroup(filters.groupBy("shard"))
        .applyInPandas(probe, out_schema)
        .drop("_shard")
    )
    definitely_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    needs_check = flagged.filter(F.col("_maybe")).drop("_maybe")
    confirmed_new = needs_check.join(seen.select(key), key, "left_anti")
    return definitely_new.unionByName(confirmed_new)
