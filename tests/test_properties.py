"""Property-based tests (hypothesis): engine/twin equality and roundtrips.

These pin the invariants that the oracle comparison and the crawl simulator
rely on: the pure-Python twins must agree with the column expressions for
ARBITRARY inputs, not just the fixtures.
"""

import json
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from warc_metadata_sidecar_spark.frontier.canonical import py_priority
from warc_metadata_sidecar_spark.frontier.seen import SeenFilter
from warc_metadata_sidecar_spark.functions.detectors import (
    _detect_one,
    detect_charset,
    detect_language,
    serialize_payload,
)
from warc_metadata_sidecar_spark.functions.surt import py_host, py_surt

URL_CHARS = string.ascii_letters + string.digits + ".-_/?=&%"
url_st = st.builds(
    lambda scheme, host, path: f"{scheme}://{host}.example.com/{path}",
    st.sampled_from(["http", "https"]),
    st.text(string.ascii_lowercase + string.digits, min_size=1, max_size=12),
    st.text(URL_CHARS, max_size=30),
)


@given(url_st)
@settings(max_examples=200, deadline=None)
def test_surt_deterministic_and_shaped(url):
    k = py_surt(url)
    assert k == py_surt(url)
    assert ")" in k
    assert k == k  # never raises
    host = py_host(url)
    assert host and host == host.lower()


@given(url_st)
@settings(max_examples=100, deadline=None)
def test_priority_in_unit_interval(url):
    p = py_priority(py_surt(url))
    assert 0.0 <= p < 1.0


@given(st.text(max_size=500))
@settings(max_examples=200, deadline=None)
def test_detect_one_total_function(text):
    # detectors never raise and always produce a parseable payload
    out = _detect_one(text or None, None, "200")
    if out["payload"]:
        for line in out["payload"].split("\n"):
            title, _, value = line.partition(": ")
            assert title.endswith(":") or ": " in line
    if out["languages_json"]:
        parsed = json.loads(out["languages_json"])
        assert parsed["languages"]


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_charset_total(text):
    enc, conf = detect_charset(text or None)
    assert enc in (None, "ascii", "utf-8")
    assert 0.0 <= conf <= 1.0


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_language_none_or_entries(text):
    res = detect_language(text or None)
    if res is not None:
        assert res["languages"]
        assert all(0 <= e["text-covered"] <= 100 for e in res["languages"])


@given(
    st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=200),
    st.lists(st.integers(1, 50), max_size=8),
)
@settings(max_examples=50, deadline=None)
def test_seen_filter_never_false_negative(hashes, cuts):
    # any key hashes, added in any batching, across any number of layers
    f = SeenFilter()
    start = 0
    for n in cuts + [len(hashes)]:
        f.add(hashes[start : start + n])
        start += n
    assert f.might_contain(hashes).all()
    assert SeenFilter.from_bytes(f.to_bytes()).might_contain(hashes).all()


@given(
    st.none() | st.sampled_from(["text/html", "image/gif"]),
    st.none() | st.sampled_from(["text/html", "application/pdf"]),
    st.none() | st.sampled_from(["fmt/471", "fmt/4"]),
    st.none() | st.sampled_from(["ascii", "utf-8"]),
    st.none() | st.floats(min_value=0.0, max_value=0.999),
)
@settings(max_examples=100, deadline=None)
def test_serialize_field_presence(fido, magic, puid, enc, soft404):
    payload = serialize_payload(fido, magic, puid, enc, 1.0, None, soft404)
    lines = payload.split("\n") if payload else []
    assert ("Identified-Payload-Type:" in payload) == bool(fido or magic)
    assert any(l.startswith("Preservation-Identifier:") for l in lines) == bool(puid)
    assert any(l.startswith("Charset-Detected:") for l in lines) == bool(enc)
    # soft404 emitted whenever not None — including 0.0 (reference :162)
    assert any(l.startswith("Soft-404-Detected:") for l in lines) == (soft404 is not None)


@given(
    st.lists(
        st.text(
            alphabet=string.ascii_letters + string.digits + " .,!<>/-",
            min_size=1,
            max_size=400,
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=30, deadline=None)
def test_warc_render_parse_roundtrip(payloads):
    """Export serializer <-> ingest parser are inverses on record payloads
    (SNK1 <-> SRC1), uncompressed and as per-record gzip members."""
    import gzip

    import pandas as pd

    from warc_metadata_sidecar_spark.sources.warc_export import _render_record
    from warc_metadata_sidecar_spark.sources.warc_ingest import parse_warc_bytes

    rows = [
        pd.Series(
            {
                "payload": p,
                "doc_id": f"<urn:uuid:rt-{i}>",
                "url": f"https://example.com/{i}",
                "warc_date": None,
                "concurrent_id": None,
                "warcinfo_id": None,
            }
        )
        for i, p in enumerate(payloads)
    ]
    blob = b"".join(_render_record(r) for r in rows)
    parsed = parse_warc_bytes("rt.warc", blob)
    assert len(parsed) == len(payloads)
    for rec, p in zip(parsed, payloads):
        got = rec["spans"][0]["text"] if rec["spans"] else ""
        assert got == p.rstrip("\r\n")
    gz = b"".join(gzip.compress(_render_record(r), mtime=0) for r in rows)
    parsed_gz = parse_warc_bytes("rt.warc.gz", gz)
    assert [r["doc_id"] for r in parsed_gz] == [r["doc_id"] for r in parsed]


@given(st.binary(min_size=0, max_size=2000))
@settings(max_examples=50, deadline=None)
def test_warc_parser_total_on_garbage(data):
    """The ingest parser never raises on arbitrary bytes — it returns a
    (possibly empty) row list (crawl inputs are untrusted)."""
    from warc_metadata_sidecar_spark.sources.warc_ingest import parse_warc_bytes

    rows = parse_warc_bytes("junk.warc", data)
    assert isinstance(rows, list)
    rows2 = parse_warc_bytes("junk.arc", data)
    assert isinstance(rows2, list)


def test_warc_parser_corrupt_gzip_returns_empty():
    from warc_metadata_sidecar_spark.sources.warc_ingest import parse_warc_bytes

    assert parse_warc_bytes("x.warc.gz", b"\x1f\x8b\x08corrupt!!") == []


unicode_label_st = st.text(
    st.characters(
        codec="utf-8",
        categories=("Ll", "Lo"),
        exclude_characters=".%/?#&=@:。．｡",
    ),
    min_size=1,
    max_size=8,
)


@given(
    st.lists(unicode_label_st, min_size=1, max_size=3),
    st.text(URL_CHARS, max_size=20),
)
@settings(max_examples=150, deadline=None)
def test_surt_idn_deterministic_and_ascii(labels, path):
    """IDN property: py_surt over arbitrary unicode hosts is deterministic,
    never raises, and yields a stable shaped key (punycode ACE form, or
    the documented raw-lowercase fallback when both twins fail)."""
    url = "https://" + ".".join(labels) + ".example.com/" + path
    k = py_surt(url)
    assert k == py_surt(url)
    assert ")" in k
