"""Streaming paragraph-dedup at 1x vs 10x (VERDICT r6 task 7): per-batch
wall + shuffle and CUMULATIVE compaction I/O vs the O(n log n) claim.

The claims under test (streaming/paradedup_stream.py docstring +
streaming/ledger.compact):
  * per-batch cost tracks the BATCH, not the accumulated ledger — the
    batch-vs-ledger anti-join is a ph-bucketed equi-join with no ledger
    shuffle, so batch walls stay ~flat as the ledger grows;
  * size-tiered compaction only rewrites a bucket when the rewrite at
    least doubles its consolidated file, so cumulative compaction BYTES
    grow O(U log U) in unique paragraphs U (each byte is rewritten at
    most ~log(U) times).

Method: feed B synthetic batches (each doc = 2 batch-unique paragraphs +
1 corpus-wide boilerplate paragraph) through paradedup_batch + compact
per batch (the foreachBatch body), recording per-batch wall, shuffle
delta (status API), ledger rows/files, and compaction bytes written
(ledger directory file-set diff). Run at 1x and 10x docs-per-batch.

Run: python BENCH/paradedup_scale.py   ->  BENCH/PARADEDUP.md numbers
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.frontier.crawl import shuffle_totals
from warc_metadata_sidecar_spark.session import build_session
from warc_metadata_sidecar_spark.streaming import ledger
from warc_metadata_sidecar_spark.streaming.paradedup_stream import paradedup_batch

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))


def synth_batch(spark, batch_id: int, n_docs: int):
    return spark.range(n_docs).select(
        (F.lit(batch_id) * 10_000_000 + F.col("id")).alias("doc_id"),
        F.concat(
            F.format_string("unique %d %d alpha beta gamma", F.lit(batch_id), F.col("id")),
            F.lit("\n"),
            F.format_string("second %d %d delta epsilon", F.lit(batch_id), F.col("id")),
            F.lit("\nshared boilerplate footer paragraph"),
        ).alias("text"),
    )


def _ledger_files(d: str) -> dict[str, int]:
    if not os.path.isdir(d):
        return {}
    return {
        f: os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


def run(spark, n_docs: int, batches: int = 8) -> dict:
    ledger_dir = tempfile.mkdtemp(prefix="pded_scale_")
    d = os.path.join(ledger_dir, "paras")
    rows = []
    cum_compact_bytes = 0
    try:
        for b in range(batches):
            batch = synth_batch(spark, b, n_docs).localCheckpoint(eager=True)
            sh0 = shuffle_totals(spark)
            t0 = time.time()
            out = paradedup_batch(spark, batch, ledger_dir)
            n_out = out.count()
            wall = time.time() - t0
            sh1 = shuffle_totals(spark)
            before = _ledger_files(d)
            t1 = time.time()
            ledger.compact(spark, d, "ph")
            cwall = time.time() - t1
            after = _ledger_files(d)
            new_bytes = sum(sz for f, sz in after.items() if f not in before)
            cum_compact_bytes += new_bytes
            rows.append(
                {
                    "batch": b,
                    "docs": n_docs,
                    "out_rows": n_out,
                    "wall_s": round(wall, 2),
                    "shuffle_mb": round((sh1[0] - sh0[0]) / 1e6, 1),
                    "compact_wall_s": round(cwall, 2),
                    "compact_mb": round(new_bytes / 1e6, 2),
                    "ledger_files": len(after),
                    "ledger_mb": round(sum(after.values()) / 1e6, 2),
                }
            )
            print(json.dumps(rows[-1]), flush=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ledger.table_name(d)}")
        shutil.rmtree(ledger_dir, ignore_errors=True)
    ledger_total = rows[-1]["ledger_mb"]
    return {
        "docs_per_batch": n_docs,
        "batches": batches,
        "rows": rows,
        "cum_compact_mb": round(cum_compact_bytes / 1e6, 2),
        "final_ledger_mb": ledger_total,
        "compact_amplification": round(
            cum_compact_bytes / max(1e-9, ledger_total * 1e6), 2
        ),
    }


def main() -> None:
    spark = build_session(
        "paradedup-scale",
        cpus=CPUS,
        shuffle_partitions=CPUS,
        extra={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4048",
            "spark.ui.retainedStages": "100000",
        },
    )
    # warm the operator (Catalyst compile dominates the first literal-heavy run)
    warm_dir = tempfile.mkdtemp(prefix="pded_warm_")
    paradedup_batch(spark, synth_batch(spark, 99, 100), warm_dir).count()
    spark.sql(f"DROP TABLE IF EXISTS {ledger.table_name(os.path.join(warm_dir, 'paras'))}")
    shutil.rmtree(warm_dir, ignore_errors=True)

    r1 = run(spark, 2_000)
    r10 = run(spark, 20_000)
    summary = {"x1": r1, "x10": r10}
    print("PARADEDUP_SUMMARY " + json.dumps(summary), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
