"""Incremental paragraph-level exact dedup — the streaming form of
operators/dedup.paragraph_dedup, the way a perpetually-fed corpus runs the
Dolma paragraph pass: every new document keeps only paragraphs never seen
before, across ALL batches.

State = one bucketed parquet table (streaming/ledger.py):

  paras (ph)   bucketed by ph   — md5 of every accepted paragraph

Per batch:
  1. explode (doc_id, idx, para, ph=md5(para)) — native;
  2. within-batch first occurrence: row_number over ph ordered by
     (doc_id, idx) — the batch operator's rule;
  3. batch-vs-ledger: a first-occurrence paragraph survives iff its ph is
     absent from the ledger (LEFT ANTI equi-join on ph; the ledger side is
     ph-bucketed, so the join co-locates with NO ledger shuffle);
  4. reassemble per doc exactly like the batch operator (ONE groupBy,
     sorted-struct filter/transform);
  5. ONLY the surviving paragraphs' hashes append to the ledger — state
     grows with the UNIQUE paragraph set, never the corpus.

Equivalence: feeding batches in ascending doc_id order produces the same
rows as paragraph_dedup over the union (first-by-arrival == first-by-id;
pinned in tests/test_neardup_stream.py). At 100 TB the ledger is the
shuffle-free side of one equi-join per batch and compaction maps to the
per-bucket rewrite of ledger.compact (Iceberg rewrite_data_files in
production).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.streaming import ledger


def paradedup_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    ledger_dir: str,
    sep: str = "\n",
) -> DataFrame:
    """Process one ingest batch; returns (doc_id, n_paras, n_kept, text)
    for every batch doc and appends the kept paragraphs' hashes to the
    ledger."""
    paras_dir = os.path.join(ledger_dir, "paras")
    paras = batch_docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), sep)).alias("idx", "para"),
    ).withColumn("ph", F.md5(F.col("para")))
    w = Window.partitionBy("ph").orderBy("doc_id", "idx")
    first = paras.withColumn("first_in_batch", F.row_number().over(w) == 1)
    old = ledger.ensure(spark, paras_dir, "ph")
    if old is not None:
        seen = old.select("ph").withColumn("_seen", F.lit(True))
        first = first.join(seen, "ph", "left").withColumn(
            "keep", F.col("first_in_batch") & F.col("_seen").isNull()
        )
    else:
        first = first.withColumn("keep", F.col("first_in_batch"))
    out = (
        first.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(F.collect_list(F.struct("idx", "keep", "para"))),
                        lambda s: s["keep"],
                    ),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("text"),
        )
        .localCheckpoint(eager=True)  # pin BEFORE the ledger append
    )
    kept_ph = (
        first.filter(F.col("keep")).select("ph").distinct()
    )
    mode = "append" if old is not None else "overwrite"
    ledger.write(kept_ph, paras_dir, "ph", mode)
    return out


def start_paradedup_stream(
    spark: SparkSession,
    source_dir: str,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    sep: str = "\n",
):
    """File-source streaming form (ledger.run_ledger_stream): each
    micro-batch runs paradedup_batch and appends its rewritten documents to
    `out_dir`."""
    return ledger.run_ledger_stream(
        spark, source_dir, "doc_id long, text string", out_dir, checkpoint_dir,
        ledger_dir, lambda batch: (paradedup_batch(spark, batch, ledger_dir, sep), None),
    )
