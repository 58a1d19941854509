"""Training-shard writer + manifest — the sink step that turns a curated
corpus into the fixed set of files a trainer's data loader consumes.

Shard assignment is the same content-hash discipline as sampling.py:
``shard = md5_bucket(key) % n_shards`` — a pure row function, so the
shard layout is identical across re-runs, partitioning, and resumes, and
any single shard can be rebuilt independently (re-run the job filtered
to that shard: determinism guarantees byte-identical membership).

The manifest carries, per shard: row count, token count, and an
ORDER-INDEPENDENT content checksum (bit_xor of per-doc 32-bit md5
prefixes) — xor commutes, so the checksum is stable under Spark's
nondeterministic row order within a shard, yet any changed/missing doc
flips it. Loaders use the manifest for integrity + progress accounting.

``write_shards`` writes one parquet directory per shard via
``partitionBy`` after repartitioning ON the shard column, so each shard
is produced by its own tasks (no 200-files-per-shard fan-out).

Dual-dialect twin: driver_queries.duck_sql_for("shard_manifest");
tests/test_shards.py pins module == twin, write/reread equality, and
manifest-vs-files consistency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.operators.sampling import hash_bucket


def with_shard(df: DataFrame, n_shards: int, key_col: str = "doc_id") -> DataFrame:
    return df.withColumn(
        "shard", (hash_bucket(F.col(key_col)) % n_shards).cast("int")
    )


def doc_checksum(text_col: str = "text") -> "F.Column":
    """32-bit content hash (first 8 md5 nibbles) — small enough that the
    DuckDB twin rebuilds it with exact integer arithmetic."""
    return F.conv(F.substring(F.md5(F.col(text_col)), 1, 8), 16, 10).cast("long")


def shard_manifest(
    df: DataFrame,
    n_shards: int = 8,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(shard, n_docs, n_tokens, checksum) — one map-side-combined
    aggregation over the corpus; checksum is bit_xor so it is independent
    of row order and partitioning."""
    return (
        with_shard(df, n_shards, key_col)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split(F.col(text_col), " "))).cast("long").alias("n_tokens"),
            F.bit_xor(doc_checksum(text_col)).alias("checksum"),
        )
    )


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Write shard-partitioned parquet and return the manifest of what was
    written. repartition ON shard first: each output directory is written
    by the tasks owning that shard, not by every task.

    The manifest is computed FROM THE WRITTEN FILES (spark.read.parquet of
    the output), not by re-evaluating the input lineage: a nondeterministic
    upstream (sampled source, changed table) re-executed for the manifest
    would silently diverge from the parquet actually on disk, defeating the
    manifest's integrity purpose. Reading back costs one extra scan of the
    OUTPUT (already deduped/curated — typically a small fraction of the
    input) and makes the checksum a statement about the artifact itself."""
    sharded = with_shard(df, n_shards, key_col)
    sharded.repartition(n_shards, "shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(path)
    spark = df.sparkSession
    written = spark.read.parquet(path)
    return (
        written.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split(F.col(text_col), " "))).cast("long").alias("n_tokens"),
            F.bit_xor(doc_checksum(text_col)).alias("checksum"),
        )
    )
