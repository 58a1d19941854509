"""Incremental media near-dup dedup — continuous-ingestion dedup of new
images/audio against everything already accepted (the online form of
operators/phash.neardup_pairs, the way a perpetually-fed multimodal
corpus actually runs fingerprint dedup).

State = ONE bucketed parquet table under `ledger_dir/bands`
(streaming/ledger.py):

  bands (band_idx, band_val, media_ref, d0..d3)  bucketed by band_val

The full 4-int hash rides inside each band row (32 bytes), so the verify
step never needs a second lookup table — unlike the MinHash ledger's
separate sigs table, the fingerprint IS small enough to inline.

Per batch (input = a hash table from operators/phash.image_hashes or
operators/afp.audio_fingerprints renamed to d0..d3 — decode happens
upstream, this layer is codec-agnostic):
  1. explode the new hashes into 4 (band_idx, band_val) rows;
  2. candidates = new-vs-LEDGER (band equi-join against the bucketed
     table; busy buckets above max_bucket are anti-joined away, the
     lsh_candidate_pairs skew discipline) UNION new-vs-new
     (neardup_pairs within the batch);
  3. verify = xor-popcount over the inlined d0..d3 (exact recall for
     max_hamming < 4 by pigeonhole, phash.py's argument);
  4. a new item is a duplicate iff some verified anchor is already
     accepted (ledger) or earlier in the batch (smaller ref — the
     ref_a < ref_b convention of the batch path); dup_of = the smallest
     such anchor;
  5. only ACCEPTED items' band rows append, so dups never become dedup
     anchors and state grows with the UNIQUE media corpus.

At 100 TB: per-batch cost is O(batch) hashing upstream + a band join
whose ledger side is bucket-co-located (band_val buckets satisfy the
join's clustered distribution — no ledger shuffle); ledger growth is 4
small rows per accepted item per batch (compaction: the per-bucket
size-tiered rewrite of streaming/ledger.py, Iceberg rewrite_data_files
in production).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.operators.phash import N_BANDS, neardup_pairs
from warc_metadata_sidecar_spark.streaming import ledger

_DCOLS = [f"d{j}" for j in range(N_BANDS)]


def _band_rows(hashes: DataFrame) -> DataFrame:
    return hashes.select(
        "media_ref",
        *_DCOLS,
        F.posexplode(F.array(*_DCOLS)).alias("band_idx", "band_val"),
    )


def mediadup_batch(
    spark: SparkSession,
    batch_hashes: DataFrame,
    ledger_dir: str,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Process one ingest batch of hash rows (media_ref, d0..d3);
    returns decisions (media_ref, dup_of: string|null, hamming:
    long|null) for EVERY batch row (undecodable rows — null d0 — are
    trivially accepted but never ledgered) and appends the accepted
    rows' bands to the ledger."""
    bands_dir = os.path.join(ledger_dir, "bands")
    ids = batch_hashes.select("media_ref").distinct()
    new = (
        batch_hashes.filter(F.col("d0").isNotNull())
        .select("media_ref", *_DCOLS)
        .localCheckpoint(eager=True)
    )
    bands_new = _band_rows(new)

    old = ledger.ensure(spark, bands_dir, "band_val")
    pairs = None
    if old is not None:
        busy = (
            old.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band_idx", "band_val")
        )
        anchors = old.join(busy, ["band_idx", "band_val"], "left_anti").select(
            F.col("media_ref").alias("anchor"),
            *[F.col(d).alias(f"a_{d}") for d in _DCOLS],
            "band_idx",
            "band_val",
        )
        n, a = bands_new.alias("n"), anchors.alias("a")
        ham = sum(
            F.bit_count(F.col(f"n.d{j}").bitwiseXOR(F.col(f"a.a_d{j}")))
            for j in range(N_BANDS)
        ).cast("long")
        pairs = (
            n.join(a, ["band_idx", "band_val"])
            .select(F.col("n.media_ref").alias("media_ref"), "anchor", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
    # new-vs-new: ref_a < ref_b, so the LARGER ref is the dup side
    est_new = neardup_pairs(new, max_hamming=max_hamming, max_bucket=max_bucket).select(
        F.col("ref_b").alias("media_ref"),
        F.col("ref_a").alias("anchor"),
        "hamming",
    )
    pairs = est_new if pairs is None else pairs.unionByName(est_new)

    w = Window.partitionBy("media_ref").orderBy(F.asc("anchor"), F.asc("hamming"))
    dup = (
        pairs.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("media_ref", F.col("anchor").alias("dup_of"), "hamming")
    )
    decisions = (
        ids.join(dup, "media_ref", "left")
        .select("media_ref", "dup_of", "hamming")
        .localCheckpoint(eager=True)  # pin BEFORE the append mutates state
    )

    accepted = decisions.filter(F.col("dup_of").isNull()).select("media_ref")
    add = _band_rows(new.join(accepted, "media_ref"))
    mode = "append" if old is not None else "overwrite"
    ledger.write(add, bands_dir, "band_val", mode)
    return decisions


def start_mediadup_stream(
    spark: SparkSession,
    source_dir: str,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    **kwargs,
):
    """File-source streaming form (ledger.run_ledger_stream): each
    micro-batch of hash rows runs mediadup_batch and appends its decisions
    to `out_dir`."""
    return ledger.run_ledger_stream(
        spark, source_dir, "media_ref string, d0 long, d1 long, d2 long, d3 long",
        out_dir, checkpoint_dir, ledger_dir,
        lambda batch: (mediadup_batch(spark, batch, ledger_dir, **kwargs), None),
    )
