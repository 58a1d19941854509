"""Seeded inputs for the two workloads, built without Spark.

Every input is a pure function of (workload, seed, size) and is cached under
`<work>/inputs/<key>/` behind a `_DONE` marker, so a repeated seed skips
generation. Generation is never part of a timed region or of `setup_s`.

Rows come from the engine's own per-index document generator
(`gen._doc_row`), so the archetype mix (HTML, DNS, GIF, revisits, digest
twins, empty payloads, soft-404s) is the one the engine is tested on.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from warc_metadata_sidecar_spark import gen
from warc_metadata_sidecar_spark.functions.surt import py_surt

# documents schema as Arrow (schema.DOCUMENTS); warc_date is a UTC instant
SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
     ("offset", pa.int32())]
)
DOCS_T = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        ("spans", pa.list_(SPAN_T)),
        ("url", pa.string()),
        ("warc_date", pa.timestamp("us", tz="UTC")),
        ("rec_type", pa.string()),
        ("payload_digest", pa.string()),
        ("warcinfo_id", pa.string()),
        ("http_status", pa.string()),
        ("is_arc", pa.bool_()),
        ("source_file", pa.string()),
    ]
)

# gen's row index space is split into per-seed regions of disjoint slices:
# slice 0 is the warm-up slice, slices 1.. are measured, so the warm-up never
# touches a measured record
REGION = 10_000_000


def slice_base(seed: int, k: int, n: int) -> int:
    return (seed % 1000) * REGION + k * n


def _cached(root: str, key: str, build) -> str:
    path = os.path.join(root, "inputs", key)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def _payload(row: dict) -> bytes:
    return "".join(s["text"] or "" for s in row["spans"]).encode()


def _warc_record(row: dict) -> bytes:
    """One WARC/1.0 record. Responses carry an HTTP envelope unless they are
    DNS records, as crawlers write them."""
    body = _payload(row)
    if row["rec_type"] == "response" and not row["url"].startswith("dns:"):
        status = row["http_status"]
        body = (
            f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
    headers = [
        ("WARC-Type", row["rec_type"]),
        ("WARC-Record-ID", row["doc_id"]),
        ("WARC-Date", row["warc_date"].strftime("%Y-%m-%dT%H:%M:%SZ")),
        ("WARC-Target-URI", row["url"]),
    ]
    if row["payload_digest"]:
        headers.append(("WARC-Payload-Digest", row["payload_digest"]))
    if row["warcinfo_id"]:
        headers.append(("WARC-Warcinfo-ID", row["warcinfo_id"]))
    headers.append(("Content-Type", "application/http; msgtype=response"))
    headers.append(("Content-Length", str(len(body))))
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers) + "\r\n"
    return head.encode() + body + b"\r\n\r\n"


def _cdxj_line(row: dict) -> tuple[str, str, str]:
    urlkey = py_surt(row["url"])
    ts = row["warc_date"].strftime("%Y%m%d%H%M%S")
    block = json.dumps({"url": row["url"], "status": row["http_status"]})
    return urlkey, ts, block


def archive_inputs(
    root: str, seed: int, k: int, files: int, per_file: int, text_scale: int, recrawl: float
) -> str:
    """Slice `k`: `warc/crawl-XXX.warc.gz` (one gzip member per record), the
    files in arrival order, plus `original.cdxj`, the upstream index of every
    response and revisit record sorted by (urlkey, ts). The first file is all
    fresh pages; in later files a `recrawl` share of records re-fetch an
    earlier file's response payload (same digest, payload and status; new
    record id, url and date). ARC-archetype rows become WARC responses
    without a payload digest, so each is its own detector row."""
    base = slice_base(seed, k, files * per_file)

    def build(out: str) -> None:
        rng = random.Random(base)
        earlier: list[dict] = []
        rows: list[dict] = []
        nxt = base
        os.makedirs(os.path.join(out, "warc"))
        for f in range(files):
            part = []
            n_re = int(per_file * recrawl) if f else 0
            for j in range(n_re):
                src = rng.choice(earlier)
                row = dict(src)
                row["doc_id"] = f"<urn:uuid:recrawl-{base}-{f}-{j}>"
                row["url"] = src["url"] + f"?v={f}"
                row["warc_date"] = src["warc_date"] + dt.timedelta(days=f)
                part.append(row)
            for _ in range(per_file - n_re):
                row = gen._doc_row(nxt, text_scale)
                nxt += 1
                part.append(row)
                if row["rec_type"] == "response" and row["payload_digest"] and row["spans"]:
                    earlier.append(row)
            with open(os.path.join(out, "warc", f"crawl-{f:03d}.warc.gz"), "wb") as fh:
                for row in part:
                    fh.write(gzip.compress(_warc_record(row), mtime=0))
            rows += part
        lines = sorted(
            _cdxj_line(r) for r in rows
            if r["rec_type"] in ("response", "revisit")
        )
        with open(os.path.join(out, "original.cdxj"), "w") as fh:
            fh.writelines(f"{k} {t} {j}\n" for k, t, j in lines)

    return _cached(
        root, f"archive-{seed}-{k}-{files}-{per_file}-{text_scale}-{recrawl}", build
    )


def crawl_docs(root: str, n: int) -> str:
    """The crawl's fetchable corpus: gen rows 0..n-1 as one parquet file.
    Independent of the seed (the seed picks the seed URLs)."""

    def build(out: str) -> None:
        rows = [gen._doc_row(i) for i in range(n)]
        pq.write_table(pa.Table.from_pylist(rows, schema=DOCS_T), os.path.join(out, "docs.parquet"))

    return os.path.join(_cached(root, f"crawl-docs-{n}", build), "docs.parquet")


def crawl_seed_urls(seed: int, n_docs: int, n_seeds: int) -> list[str]:
    """A seeded sample of page URLs with ids = 0 mod 20."""
    ids = random.Random(seed).sample(range(0, n_docs, 20), n_seeds)
    return [f"https://host{i % 50:02d}.example.com/page/{i}" for i in ids]
