"""Incremental CDC chunk store — continuous-ingestion storage dedup of
new blobs against every chunk already stored (the online form of
operators/cdc.py, the way a perpetually-fed blob corpus actually runs
content-defined dedup: only never-seen chunks cost storage).

State = ONE bucketed parquet table (the shared streaming/ledger.py
discipline):

  chunks (chunk_md5, length)   bucketed by chunk_md5

Per batch (input = raw blob rows (media_ref, bytes)):
  1. chunk the batch with operators/cdc.cdc_chunks (gear boundaries in
     the Arrow worker, JVM md5, bytes drop immediately);
  2. ledger-dup = batch-vs-LEDGER left-semi equi-join on chunk_md5 —
     the ledger side is md5-bucketed, so the join co-locates with no
     ledger shuffle;
  3. in-batch dup = every occurrence after the first (ROW_NUMBER over
     chunk_md5 ordered by (media_ref, idx) — the paradedup first-
     occurrence rule);
  4. ONLY never-seen chunks append (dups never re-store), so the ledger
     grows with the UNIQUE chunk set, not the ingest volume;
  5. returns per-blob accounting: (media_ref, n_chunks, n_new,
     bytes_total, bytes_new) — bytes_new is what this batch actually
     added to storage.

At 100 TB: per-batch cost is the chunk scan (linear in batch bytes,
shuffle-free) + one (md5, length)-row exchange for the first-occurrence
window + the co-located ledger join; content bytes never shuffle and
never re-store. Compaction: the shared per-bucket size-tiered rewrite
(streaming/ledger.compact; Iceberg rewrite_data_files in production)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.operators.cdc import cdc_chunks
from warc_metadata_sidecar_spark.streaming import ledger


def cdcdup_batch(
    spark: SparkSession,
    batch_media: DataFrame,
    ledger_dir: str,
    min_size: int = 32,
    mask_bits: int = 6,
    max_size: int = 512,
) -> DataFrame:
    """Process one ingest batch of blob rows (media_ref, bytes); returns
    the per-blob accounting and appends never-seen chunks to the ledger."""
    chunks_dir = os.path.join(ledger_dir, "chunks")
    chunks = cdc_chunks(
        batch_media, min_size=min_size, mask_bits=mask_bits, max_size=max_size
    ).localCheckpoint(eager=True)

    old = ledger.ensure(spark, chunks_dir, "chunk_md5")
    if old is not None:
        in_ledger = chunks.join(
            old.select("chunk_md5").withColumnRenamed("chunk_md5", "_lm"),
            chunks["chunk_md5"] == F.col("_lm"),
            "left",
        ).withColumn("_ledger_dup", F.col("_lm").isNotNull()).drop("_lm")
    else:
        in_ledger = chunks.withColumn("_ledger_dup", F.lit(False))

    w = Window.partitionBy("chunk_md5").orderBy("media_ref", "idx")
    flagged = in_ledger.withColumn(
        "_is_new",
        (~F.col("_ledger_dup")) & (F.row_number().over(w) == 1),
    ).localCheckpoint(eager=True)

    new_chunks = flagged.filter("_is_new").select("chunk_md5", "length")
    mode = "append" if old is not None else "overwrite"
    ledger.write(new_chunks, chunks_dir, "chunk_md5", mode)

    return flagged.groupBy("media_ref").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.col("_is_new").cast("long")).cast("long").alias("n_new"),
        F.sum("length").cast("long").alias("bytes_total"),
        F.sum(F.when(F.col("_is_new"), F.col("length")).otherwise(F.lit(0)))
        .cast("long")
        .alias("bytes_new"),
    )


def start_cdcdup_stream(
    spark: SparkSession,
    source_dir: str,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    **kwargs,
):
    """File-source streaming form (ledger.run_ledger_stream): each
    micro-batch of blob rows runs cdcdup_batch and appends its accounting to
    `out_dir`."""
    return ledger.run_ledger_stream(
        spark, source_dir, "media_ref string, bytes binary", out_dir, checkpoint_dir,
        ledger_dir, lambda batch: (cdcdup_batch(spark, batch, ledger_dir, **kwargs), None),
    )
