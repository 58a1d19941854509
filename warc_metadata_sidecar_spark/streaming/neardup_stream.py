"""Incremental MinHash near-dup dedup — continuous-ingestion dedup of new
documents against everything already accepted (the online form of
operators/dedup.minhash_dedup, the way a perpetually-fed training corpus
actually runs dedup).

State = two bucketed parquet tables under `ledger_dir` (streaming/ledger.py
— local-path guard, names derived from the directory, bucketed layout so
the hot join never shuffles the ledger side):

  bands  (band, doc_id)   bucketed by band   — the LSH index
  sigs   (doc_id, h0..h7) bucketed by doc_id — for estimator lookups

Per batch:
  1. signatures + band hashes for the new docs (native, from
     operators/dedup.py);
  2. candidates = new-vs-LEDGER (band equi-join against the
     band-bucketed table, skew-capped like lsh_candidate_pairs) UNION
     new-vs-new (lsh_candidate_pairs within the batch);
  3. similarity = the MinHash ESTIMATOR (matching signature slots /
     num_hashes) — no text is ever stored or re-read for old docs; the
     ledger holds 8 hex strings per doc, not documents;
  4. a new doc is a duplicate iff some candidate with est >= threshold
     is already accepted (ledger) or earlier in the batch (lower id —
     the id_a < id_b convention of the batch path); dup_of = the
     smallest such id. Chain semantics are the batch path's: "dup of
     any earlier", not sequential-greedy — documented, and the test
     twin mirrors it exactly;
  5. only ACCEPTED docs' bands+sigs append to the ledger, so dups never
     become dedup anchors and state grows with the UNIQUE corpus.

At 100 TB: per-batch cost is O(batch) signatures + a band join whose
ledger side is bucket-co-located; ledger growth is one append per batch
(compaction: ledger.compact's per-bucket rewrite — or Iceberg
rewrite_data_files in production).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.operators.dedup import (
    band_hashes,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)
from warc_metadata_sidecar_spark.streaming import ledger


def _est_expr(num_hashes: int) -> F.Column:
    """Matching-slot fraction between a-side h{i} and b-side g{i}."""
    acc = None
    for i in range(num_hashes):
        m = F.when(F.col(f"h{i}") == F.col(f"g{i}"), 1).otherwise(0)
        acc = m if acc is None else acc + m
    return acc / F.lit(float(num_hashes))


def neardup_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    ledger_dir: str,
    threshold: float = 0.6,
    num_hashes: int = 8,
    band_size: int = 4,
    k: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Process one ingest batch; returns decisions
    (doc_id, dup_of: long|null, est: double|null) for EVERY batch doc
    (docs too short to shingle are trivially accepted) and appends the
    accepted docs' bands+sigs to the ledger."""
    bands_dir = os.path.join(ledger_dir, "bands")
    sigs_dir = os.path.join(ledger_dir, "sigs")
    ids = batch_docs.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
    sigs_new = minhash_signatures(
        shingles(batch_docs, "doc_id", "text", k), num_hashes
    ).localCheckpoint(eager=True)
    bands_new = band_hashes(sigs_new, num_hashes, band_size)

    hcols = [f"h{i}" for i in range(num_hashes)]
    old_bands = ledger.ensure(spark, bands_dir, "band")
    old_sigs = ledger.ensure(spark, sigs_dir, "doc_id")
    sig_b = lambda sigs: sigs.select(  # noqa: E731
        F.col("doc_id").alias("anchor"),
        *[F.col(h).alias(f"g{i}") for i, h in enumerate(hcols)],
    )

    pairs = None
    if old_bands is not None:
        # skew cap mirrors lsh_candidate_pairs; the groupBy runs on the
        # band-bucketed table — co-located, no ledger shuffle
        busy = (
            old_bands.groupBy("band")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band")
        )
        cand_old = (
            bands_new.join(old_bands.join(busy, "band", "left_anti")
                           .withColumnRenamed("doc_id", "anchor"), "band")
            .select("doc_id", "anchor")
            .distinct()
        )
        est_old = (
            cand_old.join(sigs_new, "doc_id")
            .join(sig_b(old_sigs), "anchor")
            .select("doc_id", "anchor", _est_expr(num_hashes).alias("est"))
        )
        pairs = est_old
    cand_new = lsh_candidate_pairs(sigs_new, num_hashes, band_size, max_bucket)
    est_new = (
        cand_new.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("anchor"))
        .join(sigs_new, "doc_id")
        .join(sig_b(sigs_new), "anchor")
        .select("doc_id", "anchor", _est_expr(num_hashes).alias("est"))
    )
    pairs = est_new if pairs is None else pairs.unionByName(est_new)

    hits = pairs.filter(F.col("est") >= threshold)
    w = Window.partitionBy("doc_id").orderBy(F.asc("anchor"))
    dup = (
        hits.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("doc_id", F.col("anchor").alias("dup_of"), F.col("est"))
    )
    decisions = (
        ids.join(dup, "doc_id", "left")
        .select("doc_id", "dup_of", F.round("est", 4).alias("est"))
        .localCheckpoint(eager=True)  # pin BEFORE the ledger append mutates state
    )

    accepted = decisions.filter(F.col("dup_of").isNull()).select("doc_id")
    add_sigs = sigs_new.join(accepted, "doc_id")
    add_bands = band_hashes(add_sigs, num_hashes, band_size)
    mode = "append" if old_bands is not None else "overwrite"
    ledger.write(add_bands, bands_dir, "band", mode)
    ledger.write(add_sigs, sigs_dir, "doc_id", mode)
    return decisions


def start_neardup_stream(
    spark: SparkSession,
    source_dir: str,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.6,
    **kwargs,
):
    """File-source streaming form (ledger.run_ledger_stream): each
    micro-batch of documents runs neardup_batch and appends its decisions
    to `out_dir`."""
    return ledger.run_ledger_stream(
        spark, source_dir, "doc_id long, text string", out_dir, checkpoint_dir,
        ledger_dir,
        lambda batch: (neardup_batch(spark, batch, ledger_dir, threshold, **kwargs), None),
    )
