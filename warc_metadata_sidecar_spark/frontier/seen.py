"""N2: URL-seen membership at 10^10 scale.

Design (SURVEY.md §2b N2): probabilistic filters are a PREFILTER, never the
source of truth — Bloom false positives must not drop URLs. The crawl
round's URL-seen step is the exact anti-join alone:

    candidates --left_anti on key--> seen (hash-bucketed table: no
                                          seen-side exchange)

Given the sharded filters, `filter_new` also probes them:

    candidates --route by url-hash shard--> probe that shard's filter state
               --> _maybe flag (one vectorized pass per shard)
               --> left_anti vs seen ON key = seen key AND _maybe

Every candidate still enters the anti-join and is looked up there, so the
probe removes no rows or lookups from it; the join drops a row only on an
exact key match, and its rows equal the plain anti-join's (asserted in
tests). Keeping the definitely-new rows out of the join would take a
second pandas pass (one per union branch) or a materialized probe. The
round does not probe: with the one-pass probe it lost 7 of 10 interleaved
e2ebench crawl pairs on latency (ROADMAP direction 3).

The filter is one layered Bloom filter per url-hash shard (`SeenFilter`),
stored as a `filters` table with one binary state row per shard. The
states are built, updated and probed on executors: `update_filter_shards`
folds each round's new keys into their shard's state, and `filter_new`
routes candidates to their shard so the task owning it deserializes that
one state and probes its rows. Bit positions come from `xxhash64` computed
on the JVM, so the Python side is numpy gathers over whole Arrow batches.
Neither keys nor states pass through the driver.
"""

from __future__ import annotations

import hashlib
import math
import os
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SHARDS = 32  # url-hash shards of the `filters` table
FIRST_HASHES = 7  # layer 0: 7 hashes at ~10 bits per key, ~0.8 % false positives
MIN_LAYER_KEYS = 64  # smallest layer capacity
SLICE = 1 << 20  # hashes per vectorized step
FILTERS_MARKER = "_LBF1"  # marks a filters snapshot of SeenFilter states


def hash_expr(key_col):
    """64-bit key hash the filter's bit positions derive from (JVM side)."""
    return F.xxhash64(key_col)


def _positions(h: np.ndarray, k: int, nbits: int) -> np.ndarray:
    """k bit positions per hash, (k, n): double hashing over the two 32-bit
    halves of the 64-bit hash (Kirsch–Mitzenmacher)."""
    h1, h2 = h & np.uint64(0xFFFFFFFF), h >> np.uint64(32)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1 + i * h2) % np.uint64(nbits)).astype(np.int64)


def _slices(h: np.ndarray):
    """`h` in fixed-size slices, so the (k, n) position arrays stay bounded
    when a whole shard's keys arrive at once (a rebuild from seen)."""
    return (h[i : i + SLICE] for i in range(0, len(h), SLICE))


class SeenFilter:
    """Layered ("scalable") Bloom filter over 64-bit key hashes (north rule
    N2), sized to the keys it holds.

    Keys fill the newest layer up to its capacity; the next layer is sized
    to at least the total capacity so far (capacities double) and uses one
    more hash than the one before, so its false-positive rate halves and
    the filter's total stays under twice layer 0's (~1.6 %) at any size.
    A shard that holds 50 keys carries a ~100-byte state. Lookups test
    every layer; exactness still comes from the anti-join."""

    _MAGIC = b"LBF1"

    def __init__(self) -> None:
        # per layer, oldest first: [capacity, keys added, hashes, bitmap]
        self.layers: list[list] = []

    @property
    def adds(self) -> int:
        return sum(layer[1] for layer in self.layers)

    def add(self, hashes) -> None:
        # sorted, so the state does not depend on the order rows arrive in
        h = np.sort(np.asarray(hashes, dtype=np.int64).view(np.uint64))
        while len(h):
            if not self.layers or self.layers[-1][1] >= self.layers[-1][0]:
                cap = max(MIN_LAYER_KEYS, sum(layer[0] for layer in self.layers), len(h))
                k = FIRST_HASHES + len(self.layers)
                nbytes = -(-math.ceil(cap * k / math.log(2)) // 8)
                self.layers.append([cap, 0, k, np.zeros(nbytes, dtype=np.uint8)])
            layer = self.layers[-1]
            cap, count, k, bits = layer
            take, h = h[: cap - count], h[cap - count :]
            for part in _slices(take):
                pos = _positions(part, k, len(bits) * 8).ravel()
                np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            layer[1] += len(take)

    def might_contain(self, hashes) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
        out = np.zeros(len(h), dtype=bool)
        for _, _, k, bits in self.layers:
            for i, part in enumerate(_slices(h)):
                pos = _positions(part, k, len(bits) * 8)
                out[i * SLICE : i * SLICE + len(part)] |= (
                    (bits[pos >> 3] >> (pos & 7)) & 1
                ).all(axis=0)
        return out

    def to_bytes(self) -> bytes:
        """Deterministic state: magic + per-layer header + zlib(bitmaps)."""
        header = self._MAGIC + struct.pack("<I", len(self.layers)) + b"".join(
            struct.pack("<QQIQ", cap, count, k, len(bits))
            for cap, count, k, bits in self.layers
        )
        return header + zlib.compress(b"".join(layer[3].tobytes() for layer in self.layers), 1)

    @classmethod
    def from_bytes(cls, data: bytes) -> "SeenFilter":
        """The filter serialized by to_bytes. Any other state (the older
        bloom+cuckoo TSF1/TSFZ layout among them) is refused, never read
        as an empty filter: rebuild such filters from seen."""
        if data[:4] != cls._MAGIC:
            raise ValueError(
                f"not a layered Bloom filter state ({data[:4]!r}): rebuild the filters from seen"
            )
        (n,) = struct.unpack("<I", data[4:8])
        heads = [struct.unpack("<QQIQ", data[8 + 28 * i : 36 + 28 * i]) for i in range(n)]
        body = zlib.decompress(data[8 + 28 * n :])
        f, off = cls(), 0
        for cap, count, k, nbytes in heads:
            bits = np.frombuffer(body, dtype=np.uint8, count=nbytes, offset=off).copy()
            f.layers.append([cap, count, k, bits])
            off += nbytes
        return f


# ---------------------------------------------------------------------------
# Sharded `filters` table (N2 at scale)
#
# The filter is built and UPDATED entirely on executors: keys are shuffled
# to their url-hash shard, each shard's owning task folds the new keys into
# that shard's (deserialized) filter state, and the states persist as one
# binary row per shard in a `filters` table. Per-round update cost is
# O(|delta| + state of the touched shards) — independent of |seen| beyond
# the state's own size, which is what makes 10^10 URLs feasible. Lookups
# probe the states where they live (filter_new), so neither keys nor states
# cross the driver.
# ---------------------------------------------------------------------------

FILTERS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("state", T.BinaryType()),
        T.StructField("adds", T.LongType()),
    ]
)


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
) -> DataFrame:
    """Fold `delta`'s keys into the sharded filter states — executor-side.

    cogroup(delta key hashes, existing states) by shard: each task
    deserializes its shard's state (or starts an empty one), adds the new
    keys, re-serializes. Shards untouched by the delta pass through
    unchanged. A legacy TSF1/TSFZ state cannot take new keys and raises:
    rebuild those filters from seen (run_crawl does on resume). Returns the
    new `filters` DataFrame (shard, state, adds)."""
    keys = delta.filter(F.col(key).isNotNull()).select(
        shard_expr(F.col(key), num_shards).alias("shard"), hash_expr(F.col(key)).alias("h")
    )
    if existing is None:
        # fresh build: plain grouped apply — no cogroup against a
        # synthesized empty frame (one less plan leg; same merge fn)
        return keys.groupBy("shard").applyInPandas(_build_state, FILTERS_SCHEMA)
    return (
        keys.groupBy("shard")
        .cogroup(existing.groupBy("shard"))
        .applyInPandas(_merge_state, FILTERS_SCHEMA)
    )


# Module-level: each applyInPandas pickles them by reference, not a new
# closure by value (it still wraps a new Python UDF per call). Every
# parameter is annotated so PySpark's eval-type inference succeeds instead
# of warning on each call.
def _merge_state(key_tuple: tuple, new_keys: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
    """One shard's state with `new_keys`' hashes added (update_filter_shards)."""
    if not len(new_keys):
        return state
    f = SeenFilter.from_bytes(bytes(state["state"].iloc[0])) if len(state) else SeenFilter()
    f.add(new_keys["h"].to_numpy())
    return pd.DataFrame({"shard": [int(key_tuple[0])], "state": [f.to_bytes()], "adds": [f.adds]})


def _build_state(key_tuple: tuple, new_keys: pd.DataFrame) -> pd.DataFrame:
    return _merge_state(key_tuple, new_keys, pd.DataFrame(columns=["state"]))


def write_filters(spark: SparkSession, filters: DataFrame, path: str) -> DataFrame:
    """Snapshot `filters` as parquet at `path` (a local directory) and
    return the snapshot read back, so later rounds fold into the files
    instead of recomputing the plan. A marker file beside `_SUCCESS` (Spark
    readers skip `_` files) records that the states are SeenFilter states."""
    filters.write.mode("overwrite").parquet(path)
    open(os.path.join(path, FILTERS_MARKER), "w").close()
    return read_filters(spark, path)


def read_filters(spark: SparkSession, path: str) -> DataFrame | None:
    """The filters snapshot at `path`, or None when there is none or it was
    written before the marker (older bloom+cuckoo states): the caller then
    rebuilds the filters from seen."""
    if not os.path.exists(os.path.join(path, FILTERS_MARKER)):
        return None
    return spark.read.schema(FILTERS_SCHEMA).parquet(path)


def load_sharded(filters: DataFrame, num_shards: int = DEFAULT_SHARDS) -> DataFrame:
    """Return `filters` unchanged. Kept because the e2ebench crawl trace
    calls it by name and passes its result positionally to filter_new."""
    return filters


# ---------------------------------------------------------------------------
# Bucketed `seen` table (VERDICT r2 #1 — the 100 TB layout for the exact
# anti-join backstop)
#
# A plain-parquet `seen` re-SHUFFLES the full seen set every round of a
# sort-merge anti-join: O(rounds x |seen|) shuffle bytes. Stored
# hash-bucketed by the url key (Spark bucketed table here; Iceberg
# bucket(canonical_url) in production), the seen side of the left_anti
# co-locates with ZERO exchange — per-round shuffle bytes are
# O(|candidates|), independent of |seen|; the
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
    (the count of the checkpoint-reconstructed seen set, checked against
    the table files' parquet footers without a Spark job): fewer/more means
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
        if parquet_rows([path]) == expected_rows:
            return tbl
    return create_seen_bucketed(spark, path, df=df, table=tbl, buckets=buckets)


def parquet_rows(paths: list[str]) -> int:
    """Row count of parquet directories from their footers — no Spark job.
    Like Spark's readers, it skips `_` and `.` files (markers, temporaries)."""
    import pyarrow.dataset as ds

    return sum(ds.dataset(p, format="parquet").count_rows() for p in paths)


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
    to their url-hash shard with their JVM-computed key hash, and the task
    owning each shard deserializes its state once to flag them `_maybe` in
    one vectorized probe. One left_anti then matches seen keys only where
    `_maybe` holds. Every candidate enters that join, so its rows equal the
    plain anti-join's and the probe saves the join no work. A state not
    written by SeenFilter (the older TSF1/TSFZ layout) raises. Without
    `filters`, plain left_anti: what run_crawl's rounds use, and the
    baseline the filtered path must equal (pinned by tests and the
    url_seen_* oracles).
    """
    if filters is None:
        return candidates.join(seen.select(key), key, "left_anti")

    tagged = candidates.withColumns(
        {"_shard": shard_expr(F.col(key), num_shards), "_h": hash_expr(F.col(key))}
    )
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("_maybe", T.BooleanType())]
    )

    def probe(key_tuple: tuple, cand: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
        f = SeenFilter.from_bytes(bytes(state["state"].iloc[0])) if len(state) else SeenFilter()
        maybe = f.might_contain(cand.pop("_h").to_numpy())
        return cand.drop(columns="_shard").assign(_maybe=maybe)

    flagged = (
        tagged.groupBy("_shard")
        .cogroup(filters.groupBy("shard"))
        .applyInPandas(probe, out_schema)
    )
    seen_keys = seen.select(F.col(key).alias("_seen_key"))
    return flagged.join(
        seen_keys, (F.col(key) == F.col("_seen_key")) & F.col("_maybe"), "left_anti"
    ).drop("_maybe")
