"""Incremental media near-dup ledger (streaming/mediadup_stream.py):
batch decisions pinned to an independent sequential Python twin, the
dups-never-anchor property, ledger growth, and the foreachBatch form."""

from __future__ import annotations

import os

from warc_metadata_sidecar_spark.streaming import ledger
from warc_metadata_sidecar_spark.streaming.mediadup_stream import (
    mediadup_batch,
    start_mediadup_stream,
)

TAU = 3


def _flip(h, *bits):
    out = list(h)
    for b in bits:
        out[b // 16] ^= 1 << (b % 16)
    return tuple(out)


def _mk_batches():
    """Synthetic 4x16-bit hashes. Bases b0..b3 are far apart (distinct
    md5-ish constants); planted structure:
      batch2: m20 = base0 flipped 1 bit (cross-batch dup of m00),
              m21/m22 = in-batch pair on a FRESH base at distance 1
              (m21 < m22 so m22 is the dup of m21),
              m23 = base0 flipped 3 bits (dup, exactly at TAU),
              m24 unique
      batch3: m30 = m23 flipped 1 MORE bit (distance 1 from the batch2
              DUP m23 but 4 from the accepted anchor m00) -> must be
              ACCEPTED: dups never become anchors;
              m31 = base1 flipped 2 bits -> dup of m01 across 2 batches
    """
    b = [
        (0x1A2B, 0x3C4D, 0x5E6F, 0x7A8B),
        (0x1111, 0xBEEF, 0x2222, 0xCAFE),
        (0x0F0F, 0xF0F0, 0x3333, 0x4444),
        (0x5555, 0x6666, 0x7777, 0x0888),
    ]
    batch1 = [("m%02d" % i,) + b[i] for i in range(4)]
    fresh = (0xAAAA, 0x0BBB, 0x9999, 0x1357)
    batch2 = [
        ("m20",) + _flip(b[0], 5),
        ("m21",) + _flip(fresh, 60),
        ("m22",) + _flip(fresh, 60, 61),
        ("m23",) + _flip(b[0], 10, 20, 30),
        ("m24", 0x0A0B, 0x0C0D, 0x0E0F, 0x1234),
    ]
    batch3 = [
        ("m30",) + _flip(b[0], 10, 20, 30, 40),
        ("m31",) + _flip(b[1], 1, 2),
    ]
    return [batch1, batch2, batch3]


def _twin(batches):
    """Sequential replay of the documented rule: dup iff some anchor —
    ledgered (accepted in an earlier batch) or ANY smaller ref in the
    batch (accepted or dup: the new-vs-new path emits every
    ref_a < ref_b pair, the 'dup of any earlier' convention shared with
    neardup_stream) — is within TAU; dup_of = smallest such anchor."""
    accepted = {}
    out = []

    def ham(x, y):
        return sum(bin(a ^ b).count("1") for a, b in zip(x, y))

    for batch in batches:
        rows = sorted(batch)
        dec = {}
        for ref, *h in rows:
            cands = [a for a, ah in accepted.items() if ham(tuple(h), ah) <= TAU]
            cands += [
                r
                for r, *hh in rows
                if r < ref and ham(tuple(h), tuple(hh)) <= TAU
            ]
            dec[ref] = (tuple(h), min(cands) if cands else None)
        for ref, (h, dup_of) in dec.items():
            if dup_of is None:
                accepted[ref] = h
        out.append({r: v[1] for r, v in dec.items()})
    return out


def _df(spark, batch):
    return spark.createDataFrame(
        batch, "media_ref string, d0 long, d1 long, d2 long, d3 long"
    )


def test_batches_match_sequential_twin(spark, tmp_path_factory):
    batches = _mk_batches()
    want = _twin(batches)
    ld = str(tmp_path_factory.mktemp("mediadup_ledger"))
    for i, batch in enumerate(batches):
        dec = {
            r["media_ref"]: r["dup_of"]
            for r in mediadup_batch(spark, _df(spark, batch), ld, TAU).collect()
        }
        assert dec == want[i], f"batch {i}"
    # the planted story holds end to end
    assert want[1]["m20"] == "m00" and want[1]["m22"] == "m21"
    assert want[1]["m23"] == "m00" and want[1]["m24"] is None
    assert want[2]["m30"] is None  # near a DUP only -> accepted
    assert want[2]["m31"] == "m01"


def test_ledger_grows_with_accepted_only(spark, tmp_path_factory):
    batches = _mk_batches()
    ld = str(tmp_path_factory.mktemp("mediadup_ledger2"))
    for batch in batches:
        mediadup_batch(spark, _df(spark, batch), ld, TAU)
    tbl = ledger.ensure(spark, os.path.join(ld, "bands"), "band_val")
    got = {r["media_ref"] for r in tbl.select("media_ref").distinct().collect()}
    want = {r for batch in _twin(batches) for r, d in batch.items() if d is None}
    assert got == want
    assert tbl.count() == 4 * len(want)  # 4 band rows per accepted item


def test_undecodable_rows_accepted_but_not_ledgered(spark, tmp_path_factory):
    ld = str(tmp_path_factory.mktemp("mediadup_ledger3"))
    rows = [("ok", 1, 2, 3, 4), ("bad", None, None, None, None)]
    dec = {
        r["media_ref"]: r["dup_of"]
        for r in mediadup_batch(spark, _df(spark, rows), ld, TAU).collect()
    }
    assert dec == {"ok": None, "bad": None}
    tbl = ledger.ensure(spark, os.path.join(ld, "bands"), "band_val")
    assert {r["media_ref"] for r in tbl.collect()} == {"ok"}


def test_streaming_form(spark, tmp_path_factory):
    batches = _mk_batches()
    want = _twin(batches)
    root = tmp_path_factory.mktemp("mediadup_stream")
    src, ld = str(root / "src"), str(root / "ledger")
    out, ckpt = str(root / "out"), str(root / "ckpt")
    os.makedirs(src)
    # the file source does not guarantee cross-file order within one batch,
    # so feed one file per run — the checkpoint carries the
    # already-processed set between runs (also exercising stream resume),
    # the neardup_stream test discipline
    for bi, batch in enumerate(batches):
        tmp = str(root / f"tmp{bi}")
        _df(spark, batch).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(src, f"b{bi}.parquet"))
        q = start_mediadup_stream(spark, src, ld, out, ckpt, max_hamming=TAU)
        q.processAllAvailable()
        q.stop()
    got = {
        r["media_ref"]: r["dup_of"]
        for r in spark.read.parquet(out).collect()
    }
    flat = {r: d for b in want for r, d in b.items()}
    assert got == flat
