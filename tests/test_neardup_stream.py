"""Incremental MinHash near-dup ledger (streaming/neardup_stream.py):
batch decisions pinned to an independent sequential Python twin, ledger
growth semantics, catalog recovery, and the foreachBatch streaming form.
"""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.streaming.ledger import ensure, table_name
from warc_metadata_sidecar_spark.streaming.neardup_stream import (
    neardup_batch,
    start_neardup_stream,
)

NUM_HASHES, BAND_SIZE, K, THRESH = 8, 4, 3, 0.6


def _corpus(spark):
    """sf0.001 docs + planted near-dups: id+10000 copies (one word
    appended — overwhelming shingle overlap) of every doc_id % 7 == 0.
    Batch b = ids with id % 3 == b for originals; every planted copy
    lands one batch AFTER its original (cross-batch dup), except % 21
    copies which land in the SAME batch (in-batch dup)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    batches = [[], [], []]
    for i, t in rows:
        batches[i % 3].append((int(i), t))
    for i, t in rows:
        if i % 7 == 0:
            b = i % 3 if i % 21 == 0 else (i % 3 + 1) % 3
            batches[b].append((int(i) + 10000, t + " zz"))
    return [sorted(b) for b in batches]


# --- independent twin ---------------------------------------------------

def _sig(text):
    ws = text.split(" ")
    if len(ws) < K:
        return None
    shs = {" ".join(ws[i : i + K]) for i in range(len(ws) - K + 1)}
    return [
        min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in shs)
        for i in range(NUM_HASHES)
    ]


def _bands(sig):
    return [
        hashlib.md5("".join(sig[b * BAND_SIZE : (b + 1) * BAND_SIZE]).encode()).hexdigest()
        for b in range(NUM_HASHES // BAND_SIZE)
    ]


def _twin(batches):
    """Sequential replay of the documented rule: dup iff a band-sharing
    candidate with est >= threshold is ledgered or earlier (lower id) in
    the batch; dup_of = smallest such anchor; only accepted docs index."""
    ledger = {}  # doc_id -> sig
    out = []
    for batch in batches:
        sigs = {i: _sig(t) for i, t in batch}
        decisions = {}
        for i, _ in batch:
            s = sigs[i]
            if s is None:
                decisions[i] = (None, None)
                continue
            bs = set(_bands(s))
            anchors = []
            for j, sj in ledger.items():
                if bs & set(_bands(sj)):
                    anchors.append((j, sj))
            for j, _t in batch:
                if j < i and sigs[j] is not None and bs & set(_bands(sigs[j])):
                    anchors.append((j, sigs[j]))
            best = None
            for j, sj in sorted(anchors):
                est = sum(1 for a, b in zip(s, sj) if a == b) / NUM_HASHES
                if est >= THRESH:
                    best = (j, est)
                    break
            decisions[i] = best if best else (None, None)
        for i, _ in batch:
            if decisions[i][0] is None and sigs[i] is not None:
                ledger[i] = sigs[i]
        out.append({i: d for i, d in decisions.items()})
    return out


@pytest.fixture(scope="module")
def batches(spark):
    return _corpus(spark)


def test_batches_match_sequential_twin(spark, batches, tmp_path_factory):
    ledger = str(tmp_path_factory.mktemp("ndl") / "ledger")
    twin = _twin(batches)
    for bi, batch in enumerate(batches):
        df = spark.createDataFrame(batch, "doc_id long, text string")
        dec = {
            r["doc_id"]: (r["dup_of"], r["est"])
            for r in neardup_batch(
                spark, df, ledger, THRESH, NUM_HASHES, BAND_SIZE, K
            ).collect()
        }
        exp = {
            i: (d[0], round(d[1], 4) if d[1] is not None else None)
            for i, d in twin[bi].items()
        }
        assert dec == exp, f"batch {bi}"
    # cross-batch dedup worked: for (nearly) every planted pair
    # {orig, orig+10000} ONE member is flagged — whichever arrived second
    # (the %3 wrap sends some copies ahead of their originals, in which
    # case the ORIGINAL is the duplicate). est is an 8-slot estimator, so
    # a few true-jaccard ~0.9 pairs can land under the 0.6 threshold.
    flagged = {i for b in twin for i, d in b.items() if d[0] is not None}
    pairs = [(i - 10000, i) for b in batches for i, _ in b if i >= 10000]
    assert pairs
    covered = sum(1 for o, c in pairs if o in flagged or c in flagged)
    assert covered / len(pairs) >= 0.85


def test_ledger_grows_with_accepted_only(spark, batches, tmp_path_factory):
    ledger = str(tmp_path_factory.mktemp("ndl2") / "ledger")
    total_accepted = 0
    for batch in batches:
        df = spark.createDataFrame(batch, "doc_id long, text string")
        dec = neardup_batch(spark, df, ledger, THRESH, NUM_HASHES, BAND_SIZE, K)
        total_accepted += dec.filter(F.col("dup_of").isNull()).count()
    sigs = spark.read.parquet(os.path.join(ledger, "sigs"))
    # short docs (no shingles) are accepted but never indexed
    short = sum(1 for b in batches for i, t in b if len(t.split(" ")) < K)
    assert sigs.count() == total_accepted - short
    assert sigs.select("doc_id").distinct().count() == sigs.count()


def test_catalog_recovery(spark, batches, tmp_path_factory):
    """Dropping the catalog tables (a session restart) must not lose the
    ledger: ensure rebuilds the bucketed tables from the files."""
    ledger = str(tmp_path_factory.mktemp("ndl3") / "ledger")
    df = spark.createDataFrame(batches[0], "doc_id long, text string")
    neardup_batch(spark, df, ledger, THRESH, NUM_HASHES, BAND_SIZE, K)
    n_before = spark.table(table_name(os.path.join(ledger, "sigs"))).count()
    for kind in ("bands", "sigs"):
        spark.sql(f"DROP TABLE {table_name(os.path.join(ledger, kind))}")
    rebuilt = ensure(spark, os.path.join(ledger, "sigs"), "doc_id")
    assert rebuilt.count() == n_before
    # and the next batch still dedups against the recovered state
    df2 = spark.createDataFrame(batches[1], "doc_id long, text string")
    dec = neardup_batch(spark, df2, ledger, THRESH, NUM_HASHES, BAND_SIZE, K)
    assert dec.filter(F.col("dup_of").isNotNull()).count() > 0


def test_streaming_form(spark, batches, tmp_path_factory):
    base = tmp_path_factory.mktemp("ndstream")
    src, ledger = str(base / "src"), str(base / "ledger")
    out, ckpt = str(base / "out"), str(base / "ckpt")
    os.makedirs(src)
    # the file source does not guarantee cross-file order within one batch,
    # so feed one file per run — the checkpoint carries the
    # already-processed set between runs (also exercising stream resume)
    for bi, batch in enumerate(batches):
        df = spark.createDataFrame(batch, "doc_id long, text string")
        tmp = str(base / f"tmp{bi}")
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(src, f"b{bi}.parquet"))
        q = start_neardup_stream(
            spark, src, ledger, out, ckpt, THRESH,
            num_hashes=NUM_HASHES, band_size=BAND_SIZE, k=K,
        )
        q.processAllAvailable()
        q.stop()
    got = spark.read.parquet(out)
    n_docs = sum(len(b) for b in batches)
    assert got.count() == n_docs
    twin = _twin(batches)
    exp_dups = {i for b in twin for i, d in b.items() if d[0] is not None}
    assert {r["doc_id"] for r in got.filter(F.col("dup_of").isNotNull()).collect()} == exp_dups
