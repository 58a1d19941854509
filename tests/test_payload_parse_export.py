"""S9 (sidecar payload deserialization) and SNK1 (WARC byte export) tests."""

from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.operators.cdxj import parse_sidecar_payload
from warc_metadata_sidecar_spark.operators.sidecar import sidecar_rows
from warc_metadata_sidecar_spark.sources.warc_export import export_sidecar_warcs


PAYLOAD = (
    'Identified-Payload-Type: {"fido": "text/html", "python-magic": "text/html"}\n'
    "Preservation-Identifier: fmt/471\n"
    'Charset-Detected: {"encoding": "ascii", "confidence": 1.0}\n'
    'Languages-cld2: {"reliable": true, "text-bytes": 2048, "languages": '
    '[{"name": "ENGLISH", "code": "en", "text-covered": 90, "score": 1024.0}]}\n'
    "Soft-404-Detected: 0.025"
)


def test_parse_sidecar_payload_roundtrip(spark):
    # cf. convert_payload_to_json (sidecar2cdxj.py:18-29) and its test (:41-44)
    df = spark.createDataFrame([(PAYLOAD,)], ["payload"])
    row = parse_sidecar_payload(df).first()
    assert row.mime["fido"] == "text/html"
    assert row.puid == "fmt/471"
    assert row.charset.encoding == "ascii" and row.charset.confidence == 1.0
    assert row.languages.languages[0].code == "en"
    assert row.soft404 == 0.025


def test_parse_sidecar_payload_partial(spark):
    df = spark.createDataFrame([("Preservation-Identifier: fmt/4",)], ["payload"])
    row = parse_sidecar_payload(df).first()
    assert row.puid == "fmt/4"
    assert row.mime is None and row.charset is None
    assert row.soft404 is None


def test_roundtrip_engine_payload(spark, docs100, media_tbl):
    # our own serialized payloads parse back to the same structured values
    side = sidecar_rows(docs100, media_tbl).limit(20)
    parsed = parse_sidecar_payload(side.select("doc_id", F.col("payload"))).collect()
    orig = {r.doc_id: r for r in side.collect()}
    for p in parsed:
        o = orig[p.doc_id]
        assert p.mime == o.mime
        assert p.puid == o.puid
        assert (p.charset is None) == (o.charset is None)
        if p.charset:
            assert p.charset.encoding == o.charset.encoding


def test_export_sidecar_warcs(spark, docs100, media_tbl):
    side = sidecar_rows(docs100, media_tbl)
    with_src = side.join(docs100.select("doc_id", "source_file"), "doc_id")
    blobs = export_sidecar_warcs(with_src, gzip=False).collect()
    assert blobs
    b = blobs[0]
    assert b.sidecar_file.endswith("warc.meta.gz")
    text = bytes(b.warc_bytes).decode()
    assert text.startswith("WARC/1.0\r\nWARC-Type: warcinfo\r\n")  # warcinfo FIRST
    assert "WARC-Type: metadata" in text
    assert text.count("WARC/1.0") == b.n_records + 1  # + the warcinfo record
    # ARC rows carry no Concurrent/Warcinfo headers
    arc_blob = [x for x in blobs if ".arc" in x.source_file or "arc.gz" in x.source_file]
    full = "".join(bytes(x.warc_bytes).decode() for x in blobs)
    assert "Identified-Payload-Type:" in full


def test_export_gzip_members_roundtrip(spark, docs100, media_tbl):
    """SNK1 gzip framing (reference WARCWriter gzip=True): one gzip member
    per record; the engine's own gz ingest parses the export back."""
    import gzip

    from warc_metadata_sidecar_spark.sources.warc_ingest import parse_warc_bytes

    side = sidecar_rows(docs100, media_tbl)
    with_src = side.join(docs100.select("doc_id", "source_file"), "doc_id")
    blob = export_sidecar_warcs(with_src, gzip=True).collect()[0]
    data = bytes(blob.warc_bytes)
    assert data[:2] == b"\x1f\x8b"
    # standard .warc.gz = one member per record (random access framing)
    assert data.count(b"\x1f\x8b\x08") >= blob.n_records
    rows = parse_warc_bytes(blob.sidecar_file, data)
    assert len(rows) == blob.n_records + 1  # + warcinfo
    assert rows[0]["rec_type"] == "warcinfo"
    assert all(r["rec_type"] == "metadata" for r in rows[1:])
    assert gzip.decompress(data).decode().startswith("WARC/1.0\r\n")


def test_write_sidecar_warc_files_roundtrip(spark, docs100, media_tbl, tmp_path):
    """SNK1 end to end: sidecar rows -> gzipped WARC files on disk ->
    re-ingested by the engine's own gz parser."""
    from warc_metadata_sidecar_spark.sources.warc_export import write_sidecar_warc_files
    from warc_metadata_sidecar_spark.sources.warc_ingest import ingest_warc_files

    side = sidecar_rows(docs100, media_tbl)
    with_src = side.join(docs100.select("doc_id", "source_file"), "doc_id")
    exported = export_sidecar_warcs(with_src)
    out = tmp_path / "sidecars"
    write_sidecar_warc_files(exported, str(out))
    files = sorted(out.glob("*.meta.gz"))
    assert files
    # arc.gz/warc.gz siblings collide under the reference rename rule; the
    # writer must keep BOTH (collision guard), so every exported record
    # survives the roundtrip
    back = ingest_warc_files(spark, str(out / "*.meta.gz"))
    n_blobs = exported.count()
    n_expected = sum(r.n_records for r in exported.select("n_records").collect())
    assert back.count() == n_expected + n_blobs  # one warcinfo per file
    assert {r.rec_type for r in back.select("rec_type").distinct().collect()} == {
        "metadata",
        "warcinfo",
    }


def test_lf_headers_with_crlf_in_payload_frame_correctly():
    """ADVICE r2: a record with LF-terminated headers whose payload contains
    a CRLF-CRLF sequence must not absorb payload bytes into the header block
    — the EARLIEST of \\r\\n\\r\\n / \\n\\n terminates headers."""
    from warc_metadata_sidecar_spark.sources.warc_ingest import parse_warc_bytes

    payload = b"HTTP/1.1 200 OK\nContent-Type: text/html\n\nhello\r\n\r\nworld"
    rec = (
        b"WARC/1.0\n"
        b"WARC-Type: response\n"
        b"WARC-Record-ID: <urn:uuid:lf-1>\n"
        b"WARC-Target-URI: https://lf.example.com/\n"
        b"WARC-Date: 2021-11-11T21:11:11Z\n"
        b"Content-Length: " + str(len(payload)).encode() + b"\n"
        b"\n" + payload + b"\r\n\r\n"
    )
    rows = parse_warc_bytes("lf.warc", rec)
    assert len(rows) == 1
    row = rows[0]
    assert row["http_status"] == "200"
    text = "".join(s["text"] or "" for s in row["spans"])
    # HTTP envelope stripped at ITS first blank line (the LF-LF), leaving the
    # full body including the CRLF-CRLF bytes
    assert text == "hello\r\n\r\nworld"


def _reparsed(spark, warc: bytes, source_file: str):
    """Sidecar rows rebuilt from exported WARC bytes: every metadata record
    with its ids, date and payload, and the warcinfo record's payload, id
    and date — everything export_sidecar_warcs needs to re-frame the file."""
    import datetime as dt

    from warc_metadata_sidecar_spark.sources.warc_ingest import _warc_records

    recs = _warc_records(warc)
    assert [h.get("WARC-Type") for h, _ in recs][:1] == ["warcinfo"]
    winfo_h, winfo_body = recs[0]

    def ts(v):
        return dt.datetime.fromisoformat(v.replace("Z", "+00:00")).replace(tzinfo=None)

    ddl = (
        "doc_id string, record_id string, url string, warc_date timestamp, "
        "concurrent_id string, warcinfo_id string, payload string, "
        "source_file string, winfo_payload string, winfo_id string, "
        "winfo_date timestamp"
    )
    rows = [
        {
            "doc_id": h["WARC-Record-ID"],
            "record_id": h["WARC-Record-ID"],
            "url": h["WARC-Target-URI"],
            "warc_date": ts(h["WARC-Date"]),
            "concurrent_id": h.get("WARC-Concurrent-ID"),
            "warcinfo_id": h.get("WARC-Warcinfo-ID"),
            "payload": body.decode(),
            "source_file": source_file,
            "winfo_payload": winfo_body.decode().removesuffix("\r\n"),
            "winfo_id": winfo_h["WARC-Record-ID"],
            "winfo_date": ts(winfo_h["WARC-Date"]),
        }
        for h, body in recs[1:]
    ]
    return spark.createDataFrame(rows, schema=ddl)


def test_export_reference_golden_byte_roundtrip(spark, reference_tests):
    """VERDICT r2 #3: export(parse(golden)) == golden, BYTE FOR BYTE — the
    reference sidecar fixture (tests/warc.warc.meta.gz, warcio-written,
    stored uncompressed) re-frames identically: warcinfo first, warcio
    header order, WARC-Concurrent-ID, sha1/base32 payload+block digests,
    Content-Type/Content-Length, CRLF record separation. Record ids and the
    warcinfo payload/date ride along from the parse; NO tolerated diffs."""
    from warc_metadata_sidecar_spark.sources.warc_ingest import _warc_records

    golden = open(f"{reference_tests}/warc.warc.meta.gz", "rb").read()
    assert [h.get("WARC-Type") for h, _ in _warc_records(golden)] == [
        "warcinfo", "metadata"
    ]
    out = export_sidecar_warcs(_reparsed(spark, golden, "warc.warc"), gzip=False).collect()
    assert len(out) == 1
    assert out[0].sidecar_file == "warc.warc.meta.gz"
    assert bytes(out[0].warc_bytes) == golden


def test_export_own_output_byte_roundtrip(spark, docs100, media_tbl):
    """export(parse(x)) == x, byte for byte, where x is a file this writer
    exported from generated documents: the golden roundtrip above, over
    bytes the repo produces itself."""
    side = sidecar_rows(docs100, media_tbl)
    with_src = side.join(docs100.select("doc_id", "source_file"), "doc_id")
    first = sorted(
        export_sidecar_warcs(with_src, gzip=False).collect(), key=lambda b: b.source_file
    )[0]
    x = bytes(first.warc_bytes)
    assert first.n_records > 1
    again = export_sidecar_warcs(_reparsed(spark, x, first.source_file), gzip=False)
    out = again.collect()
    assert [b.sidecar_file for b in out] == [first.sidecar_file]
    assert bytes(out[0].warc_bytes) == x


def test_export_fresh_warcinfo_shape(spark, docs100, media_tbl):
    """Synthesized warcinfo (fresh exports): deterministic id/date, the
    reference's payload key order, and self-consistent digests; re-export is
    byte-stable run to run."""
    import re

    side = sidecar_rows(docs100, media_tbl)
    with_src = side.join(docs100.select("doc_id", "source_file"), "doc_id")
    one = export_sidecar_warcs(
        with_src, gzip=False, publisher="University of North Texas - Digital Projects Unit"
    )
    a = {r.sidecar_file: bytes(r.warc_bytes) for r in one.collect()}
    b = {r.sidecar_file: bytes(r.warc_bytes) for r in one.collect()}
    assert a == b  # deterministic re-render
    blob = next(iter(a.values())).decode()
    head = blob.split("\r\n\r\n", 1)[0]
    assert head.startswith("WARC/1.0\r\nWARC-Type: warcinfo")
    assert "WARC-Filename: " in head and "WARC-Block-Digest: sha1:" in head
    payload = blob.split("\r\n\r\n", 2)[1]
    keys = [line.split(":", 1)[0] for line in payload.splitlines() if line]
    assert keys[:5] == ["software", "hostname", "ip", "conformsTo", "description"]
    assert re.search(r"WARC-Record-ID: <urn:uuid:[0-9a-f-]{36}>", head)


def test_export_duplicate_url_payload_get_distinct_record_ids(spark):
    """Unchanged-page re-crawls (same URL, same payload, different records)
    must not share a WARC-Record-ID."""
    ddl = (
        "doc_id string, url string, warc_date timestamp, concurrent_id string, "
        "warcinfo_id string, payload string, source_file string"
    )
    import datetime as dt

    rows = [
        {"doc_id": f"<urn:uuid:dup-{i}>", "url": "https://x.example.com/",
         "warc_date": dt.datetime(2021, 11, 11, 21, 11, i),
         "concurrent_id": None, "warcinfo_id": None,
         "payload": "Preservation-Identifier: fmt/471",
         "source_file": "dup.warc"}
        for i in range(2)
    ]
    df = spark.createDataFrame(rows, schema=ddl)
    blob = export_sidecar_warcs(df, gzip=False).collect()[0]
    import re

    ids = re.findall(r"WARC-Record-ID: (<[^>]+>)", bytes(blob.warc_bytes).decode())
    # warcinfo + 2 metadata records, all distinct
    assert len(ids) == 3 and len(set(ids)) == 3


def test_render_warcinfo_handles_nat_date():
    import pandas as pd

    from warc_metadata_sidecar_spark.sources.warc_export import render_warcinfo

    blob = render_warcinfo("x.warc.meta.gz", payload_fields={"software": "s"},
                           warc_date=pd.NaT)
    assert b"WARC-Date: 1970-01-01T00:00:00Z" in blob


def test_stream_sink_bytes_equal_blob_sink(spark, docs100, media_tbl, tmp_path):
    """VERDICT r3 #8: the streaming file sink (gzip members written as rows
    flow, no per-file blob in memory) produces byte-identical files to the
    blob path, same collision-guard names included, and its stats match
    the bytes on disk."""
    import os

    from warc_metadata_sidecar_spark.sources.warc_export import (
        stream_sidecar_warc_files,
        write_sidecar_warc_files,
    )

    side = sidecar_rows(docs100, media_tbl)
    with_src = side.join(docs100.select("doc_id", "source_file"), "doc_id")
    blob_dir, stream_dir = tmp_path / "blob", tmp_path / "stream"
    exported = export_sidecar_warcs(with_src)
    write_sidecar_warc_files(exported, str(blob_dir))
    stats = stream_sidecar_warc_files(with_src, str(stream_dir))

    blob_files = {f.name: f.read_bytes() for f in blob_dir.iterdir()}
    stream_files = {f.name: f.read_bytes() for f in stream_dir.iterdir()}
    assert sorted(blob_files) == sorted(stream_files)
    for name in blob_files:
        assert stream_files[name] == blob_files[name], f"{name} differs"
    by_src = {s.source_file: s for s in stats}
    for r in exported.collect():
        s = by_src[r.source_file]
        assert s.n_records == r.n_records
    total_stat = sum(s.n_bytes for s in stats)
    assert total_stat == sum(len(b) for b in stream_files.values())
    assert os.listdir(stream_dir)


def test_stream_sink_reference_golden_bytes(spark, tmp_path, reference_tests):
    """Stream-sink variant of the golden roundtrip: the file written
    incrementally equals the reference fixture byte for byte."""
    from warc_metadata_sidecar_spark.sources.warc_export import (
        stream_sidecar_warc_files,
    )

    golden = open(f"{reference_tests}/warc.warc.meta.gz", "rb").read()
    df = _reparsed(spark, golden, "warc.warc")
    stats = stream_sidecar_warc_files(df, str(tmp_path), gzip=False)
    assert [s.sidecar_file for s in stats] == ["warc.warc.meta.gz"]
    assert (tmp_path / "warc.warc.meta.gz").read_bytes() == golden


def test_export_wet_conversion_records_roundtrip(spark):
    """sources/warc_export.export_wet: conversion records carry the
    offset-ordered text-span concatenation, warcinfo leads each file,
    only nonempty responses convert, names follow the .warc.wet.gz
    convention, and the gzipped bytes re-parse with our own WARC record
    splitter (multi-member, one member per record). Deterministic:
    two exports are byte-identical."""
    import gzip as _gzip

    from warc_metadata_sidecar_spark import gen
    from warc_metadata_sidecar_spark.sources.warc_export import export_wet, wet_filename
    from warc_metadata_sidecar_spark.sources.warc_ingest import _warc_records

    docs = gen.documents(spark, 40)
    blobs = {b.wet_file: b for b in export_wet(docs).collect()}
    assert set(blobs) == {
        wet_filename(r["source_file"])
        for r in docs.select("source_file").distinct().collect()
    }
    assert all(f.endswith(".wet.gz") for f in blobs)
    b = next(x for f, x in sorted(blobs.items()) if f.endswith(".warc.wet.gz"))
    assert wet_filename("crawl-00001.warc.gz") == "crawl-00001.warc.wet.gz"
    assert wet_filename("crawl-00001.arc.gz") == "crawl-00001.arc.wet.gz"
    data = _gzip.decompress(bytes(b.warc_bytes))
    recs = _warc_records(data)
    assert recs[0][0].get("WARC-Type") == "warcinfo"
    conv = [(h, p) for h, p in recs if h.get("WARC-Type") == "conversion"]
    assert len(conv) == b.n_records
    # spot-check one record against the engine-side span concatenation
    rows = {
        r["doc_id"]: r
        for r in docs.filter("rec_type = 'response'").collect()
    }
    h, payload = conv[0]
    src = rows[h["WARC-Refers-To"]]
    expect = "".join(
        s["text"] or ""
        for s in sorted(
            (s for s in src["spans"] if s["kind"] == "text"),
            key=lambda s: s["offset"],
        )
    )
    assert payload.decode() == expect
    assert h["WARC-Target-URI"] == src["url"]
    assert h["Content-Type"] == "text/plain"
    # empty/dns/revisit rows never convert; totals match the rule
    want_n = sum(
        1
        for r in rows.values()
        if r["source_file"] == b.source_file
        and any((s["kind"] == "text" and (s["text"] or "")) for s in r["spans"])
    )
    assert b.n_records == want_n
    # byte determinism
    again = {x.wet_file: bytes(x.warc_bytes) for x in export_wet(docs).collect()}
    assert again[b.wet_file] == bytes(b.warc_bytes)


def _unbounded_first_blank_line(data: bytes, pos: int) -> tuple[int, int]:
    """The header terminator by its definition: the earlier of the first
    \\r\\n\\r\\n and the first \\n\\n at or after `pos`, each searched to the end."""
    hits = [(ix, n) for ix, n in ((data.find(b"\r\n\r\n", pos), 4), (data.find(b"\n\n", pos), 2))
            if ix != -1]
    return min(hits) if hits else (-1, 0)


def test_first_blank_line_equals_unbounded_search():
    """The bounded \\n\\n search finds the same terminator as searching the
    whole buffer for both, on inputs mixing both terminators."""
    import random

    from warc_metadata_sidecar_spark.sources.warc_ingest import _first_blank_line

    rng = random.Random(7)
    pieces = [b"a", b"WARC/1.0", b"\r\n", b"\n", b"\r", b"\r\n\r\n", b"\n\n", b" "]
    for _ in range(300):
        data = b"".join(rng.choice(pieces) for _ in range(rng.randrange(0, 40)))
        for pos in {0, len(data), *(rng.randrange(0, len(data) + 1) for _ in range(5))}:
            assert _first_blank_line(data, pos) == _unbounded_first_blank_line(data, pos), (
                data, pos,
            )


def test_warc_records_linear_in_file_size():
    """A CRLF-framed archive of ~6 MiB parses record by record without
    searching to the end of the buffer per record: the unbounded \\n\\n
    search made this quadratic (tens of seconds for this file)."""
    import time

    from warc_metadata_sidecar_spark.sources.warc_ingest import _warc_records

    def record(i: int) -> bytes:
        body = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + b"<html>" + b"x" * 700 + b"</html>")
        head = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:{i}>\r\n"
                f"WARC-Target-URI: https://example.com/{i}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n").encode()
        return head + body + b"\r\n\r\n"

    data = b"".join(record(i) for i in range(8000))
    assert len(data) > 6 << 20
    t0 = time.perf_counter()
    recs = _warc_records(data)
    assert time.perf_counter() - t0 < 5.0
    assert len(recs) == 8000
    assert recs[-1][0]["WARC-Record-ID"] == "<urn:uuid:7999>"
    assert recs[5][1].endswith(b"</html>")
