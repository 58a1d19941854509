"""Incremental CDC chunk store (streaming/cdcdup_stream.py): batch flows
against a sequential hashlib twin, dedup-never-restores growth, and the
foreachBatch streaming form with checkpoint resume."""

from __future__ import annotations

import hashlib
import os

from warc_metadata_sidecar_spark import gen
from warc_metadata_sidecar_spark.operators.cdc import gear_boundaries
from warc_metadata_sidecar_spark.streaming.cdcdup_stream import (
    cdcdup_batch,
    start_cdcdup_stream,
)

S = [gen.cdc_segment(k) for k in range(4)]
# batch 1: A = s0+s1 (all new); batch 2: B = s0+s2 (s0 interior dedups
# against the ledger) + C = exact copy of A (everything dedups);
# batch 3: D = s3 (all new), plus an in-batch pair D2 == D
_BATCHES = [
    [("blob://A", S[0] + S[1])],
    [("blob://B", S[0] + S[2]), ("blob://C", S[0] + S[1])],
    [("blob://D", S[3]), ("blob://D2", S[3])],
]


def _twin():
    """Sequential replay: accumulate a chunk-md5 set across batches in
    (media_ref, idx) order; per blob count chunks/new/bytes."""
    seen: set[str] = set()
    out = []
    for batch in _BATCHES:
        acc = {}
        for ref, raw in sorted(batch):
            start, n, n_new, b_new = 0, 0, 0, 0
            for end in gear_boundaries(raw):
                h = hashlib.md5(raw[start:end]).hexdigest()
                n += 1
                if h not in seen:
                    seen.add(h)
                    n_new += 1
                    b_new += end - start
                start = end
            acc[ref] = (n, n_new, len(raw), b_new)
        out.append(acc)
    return out


def _df(spark, batch):
    return spark.createDataFrame(
        [(r, bytearray(b)) for r, b in batch], "media_ref: string, bytes: binary"
    )


def test_batch_flows_match_twin_and_ledger_growth(spark, tmp_path):
    want = _twin()
    ld = str(tmp_path / "ledger")
    total_new = 0
    for bi, batch in enumerate(_BATCHES):
        acc = {
            r["media_ref"]: (
                r["n_chunks"], r["n_new"], r["bytes_total"], r["bytes_new"]
            )
            for r in cdcdup_batch(spark, _df(spark, batch), ld).collect()
        }
        assert acc == want[bi], f"batch {bi}"
        total_new += sum(v[1] for v in want[bi].values())
    # blob C (re-ingested A) stored NOTHING
    assert want[1]["blob://C"][1] == 0 and want[1]["blob://C"][3] == 0
    # blob B's s0 interior chunks dedup'd: fewer new than chunks
    assert want[1]["blob://B"][1] < want[1]["blob://B"][0]
    # in-batch pair: D2 stored nothing
    assert want[2]["blob://D2"][1] == 0
    # ledger rows == cumulative never-seen chunks (dups never re-store)
    led = spark.read.parquet(os.path.join(ld, "chunks"))
    assert led.count() == total_new
    assert led.select("chunk_md5").distinct().count() == total_new


def test_streaming_form_with_resume(spark, tmp_path_factory):
    want = _twin()
    root = tmp_path_factory.mktemp("cdcdup_stream")
    src, ld = str(root / "src"), str(root / "ledger")
    out, ckpt = str(root / "out"), str(root / "ckpt")
    os.makedirs(src)
    for bi, batch in enumerate(_BATCHES):
        tmp = str(root / f"tmp{bi}")
        _df(spark, batch).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(src, f"b{bi}.parquet"))
        q = start_cdcdup_stream(spark, src, ld, out, ckpt)
        q.processAllAvailable()
        q.stop()
    got = {
        r["media_ref"]: (r["n_chunks"], r["n_new"], r["bytes_total"], r["bytes_new"])
        for r in spark.read.parquet(out).collect()
    }
    flat = {ref: v for b in want for ref, v in b.items()}
    assert got == flat
