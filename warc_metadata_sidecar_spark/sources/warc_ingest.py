"""One-time WARC/ARC -> documents-table loader (reference SRC1).

The reference iterates `warcio.ArchiveIterator(stream, arc2warc=True)` per
file (warc_metadata_sidecar.py:192,205). The distributed ingest is:

    spark.read.format('binaryFile').load('*.warc.gz')
      -> mapInPandas(parse_warc_file)      # one warcio pass per file split
      -> documents rows (schema.DOCUMENTS)

warcio is not in this container, so the parser is gated behind an import-try
and unit-tested with a minimal built-in WARC text parser that handles the
uncompressed single-record shape of the reference's test fixtures. ARC
detection mirrors the filename regex (warc_metadata_sidecar.py:35,186-189):
`is_arc` becomes a boolean column, not a file-level code branch.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark import schema

ARC_NAME = re.compile(r".*\.arc(\.gz)?$")

try:  # pragma: no cover - warcio not in the sandbox image
    from warcio.archiveiterator import ArchiveIterator  # type: ignore

    HAVE_WARCIO = True
except ImportError:
    ArchiveIterator = None
    HAVE_WARCIO = False


def _parse_with_warcio(path: str, data: bytes) -> list[dict]:  # pragma: no cover
    import io

    rows = []
    is_arc = bool(ARC_NAME.match(path))
    for record in ArchiveIterator(io.BytesIO(data), arc2warc=True):
        payload = record.content_stream().read()
        text = payload.decode("utf-8", "replace")
        rows.append(
            {
                "doc_id": record.rec_headers.get_header("WARC-Record-ID"),
                "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}],
                "url": record.rec_headers.get_header("WARC-Target-URI"),
                "warc_date": None,
                "rec_type": record.rec_type,
                "payload_digest": None
                if is_arc
                else record.rec_headers.get_header("WARC-Payload-Digest"),
                "warcinfo_id": None
                if is_arc
                else record.rec_headers.get_header("WARC-Warcinfo-ID"),
                "http_status": record.http_headers.get_statuscode()
                if record.http_headers
                else None,
                "is_arc": is_arc,
                "source_file": path.rsplit("/", 1)[-1],
                "charset_head": _charset_head(payload),
            }
        )
    return rows


_HDR = re.compile(r"^([A-Za-z0-9-]+): *(.*)$")


def _charset_head(payload: bytes) -> bytes | None:
    """First 8 KiB of the raw payload, ONLY when the bytes are not valid
    UTF-8 (schema.DOCUMENTS_INGEST) — the utf-8-replace decode at ingest is
    lossy exactly then, and the reference's chardet runs on raw bytes
    (warc_metadata_sidecar.py:91-102). Valid-UTF-8/ascii payloads return
    None: their decode is lossless, so the artifact-path charset result is
    byte-equivalent and the column stays empty for most of the web.
    Magic-recognized BINARY payloads (images/video/archives — also not
    valid UTF-8) return None too: the detector gate (F6) never computes
    charset for non-text mimes, so a head there would be dead weight at
    exactly the records with the biggest payloads. Unknown-magic bytes
    (octet-stream) keep the head — legacy-encoded text has no magic and
    is indistinguishable from unknown binary until detection runs."""
    if not payload:
        return None
    try:
        payload.decode("utf-8")
        return None
    except UnicodeDecodeError:
        from warc_metadata_sidecar_spark.functions.detectors import sniff_mime

        mime = sniff_mime(None, payload[:1024])[1]
        if mime is not None and mime != "application/octet-stream":
            return None
        return payload[:8192]


def _strip_http(body: bytes) -> tuple[str | None, bytes]:
    """(status_code, payload): parse and drop an embedded HTTP response
    envelope, like warcio's content_stream()/http_headers split."""
    if not body.startswith(b"HTTP/"):
        return None, body
    line_end = body.find(b"\n")
    status_line = body[: line_end if line_end != -1 else len(body)].decode(
        "latin-1", "replace"
    )
    parts = status_line.split(" ")
    status = parts[1].strip() if len(parts) > 1 else None
    # whichever terminator occurs FIRST wins: an LF-terminated header block
    # whose payload contains CRLF-CRLF must not absorb payload bytes into
    # the header (preferring \r\n\r\n unconditionally mis-framed that case)
    ix, sep = _first_blank_line(body, 0)
    if ix != -1:
        return status, body[ix + sep:]
    return status, b""


def _first_blank_line(data: bytes, pos: int) -> tuple[int, int]:
    """(offset, separator_len) of the earliest header terminator — the
    first of \\r\\n\\r\\n / \\n\\n, or (-1, 0) when neither occurs.

    The \\n\\n search stops at the first \\r\\n\\r\\n: a later \\n\\n cannot
    win, and in a CRLF-framed archive an unbounded search would run to the
    end of the buffer for every record (quadratic in the file size)."""
    ix_crlf = data.find(b"\r\n\r\n", pos)
    ix_lf = data.find(b"\n\n", pos, len(data) if ix_crlf == -1 else ix_crlf)
    if ix_crlf != -1 and (ix_lf == -1 or ix_crlf <= ix_lf):
        return ix_crlf, 4
    if ix_lf != -1:
        return ix_lf, 2
    return -1, 0


def _warc_records(data: bytes) -> list[tuple[dict, bytes]]:
    """Content-Length-driven WARC record walk (binary-safe — a payload
    containing 'WARC/' can never split a record, unlike a regex split)."""
    records: list[tuple[dict, bytes]] = []
    pos, n = 0, len(data)
    while pos < n:
        while pos < n and data[pos] in (0x0D, 0x0A):
            pos += 1
        if pos >= n or not data.startswith(b"WARC/", pos):
            break
        hdr_end, sep = _first_blank_line(data, pos)
        if hdr_end == -1:
            break
        head = data[pos:hdr_end].decode("utf-8", "replace")
        headers: dict[str, str] = {}
        for line in head.splitlines()[1:]:
            m = _HDR.match(line)
            if m:
                headers[m.group(1)] = m.group(2)
        if "Content-Length" in headers:
            try:
                clen = int(headers["Content-Length"])
            except ValueError:
                clen = 0
            body = data[hdr_end + sep : hdr_end + sep + clen]
            pos = hdr_end + sep + clen
        else:
            # tolerant fallback for length-less records (not valid WARC but
            # seen in hand-made fixtures): body runs to the next record
            # boundary at a line start, or EOF
            nxt = data.find(b"\nWARC/", hdr_end + sep)
            end = nxt + 1 if nxt != -1 else len(data)
            body = data[hdr_end + sep : end]
            pos = end
        records.append((headers, body))
    return records


def _arc_records(data: bytes) -> list[tuple[list[str], bytes]]:
    """ARC v1 record walk: '<url> <ip> <yyyymmddhhmmss> <mime> <length>'
    header line, then `length` payload bytes. The leading filedesc:// record
    carries the file's version block (arc2warc maps it to warcinfo)."""
    records: list[tuple[list[str], bytes]] = []
    pos, n = 0, len(data)
    while pos < n:
        while pos < n and data[pos] in (0x0D, 0x0A):
            pos += 1
        if pos >= n:
            break
        line_end = data.find(b"\n", pos)
        if line_end == -1:
            break
        fields = data[pos:line_end].decode("utf-8", "replace").strip().split(" ")
        if len(fields) < 5:
            break
        try:
            length = int(fields[-1])
        except ValueError:
            break
        body = data[line_end + 1 : line_end + 1 + length]
        pos = line_end + 1 + length
        records.append((fields, body))
    return records


def parse_warc_bytes(path: str, data: bytes) -> list[dict]:
    """WARC/ARC bytes -> documents rows (fallback when warcio is absent).

    Handles the reference's full input surface (warc_metadata_sidecar.py:
    192,205 via warcio ArchiveIterator(arc2warc=True)):
      - gzip members (`.warc.gz` / `.arc.gz` / the golden warc.warc.meta.gz)
        via multi-member gzip.decompress;
      - uncompressed WARC, records delimited by Content-Length (binary-safe);
      - ARC v1 files: filedesc record -> warcinfo row, content records ->
        response rows with no digest/warcinfo/concurrent ids (the arc2warc
        mapping asserted by reference tests/test_warc_metadata_sidecar.py:
        188-197).
    """
    if HAVE_WARCIO:  # pragma: no cover
        return _parse_with_warcio(path, data)
    if data[:2] == b"\x1f\x8b":
        import gzip

        try:
            data = gzip.decompress(data)  # multi-member capable
        except (OSError, EOFError):
            return []  # corrupt archive: no parsable records (untrusted input)
    is_arc = bool(ARC_NAME.match(path))
    source_file = path.rsplit("/", 1)[-1]
    rows: list[dict] = []

    def row(doc_id, payload, url, rec_type, digest, warcinfo_id, status, warc_date):
        text = payload.decode("utf-8", "replace").rstrip("\r\n")
        return {
            "doc_id": doc_id,
            "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]
            if text
            else [],
            "url": url,
            "warc_date": warc_date,
            "rec_type": rec_type,
            "payload_digest": None if is_arc else digest,
            "warcinfo_id": None if is_arc else warcinfo_id,
            "http_status": status,
            "is_arc": is_arc,
            "source_file": source_file,
            "charset_head": _charset_head(payload),
        }

    if is_arc:
        for i, (fields, body) in enumerate(_arc_records(data)):
            url = fields[0]
            rec_type = "warcinfo" if url.startswith("filedesc://") else "response"
            status, payload = _strip_http(body)
            rows.append(
                row(
                    f"<{source_file}:{i}>", payload, url, rec_type, None, None,
                    status, _parse_arc_date(fields[2]),
                )
            )
        return rows

    for i, (headers, body) in enumerate(_warc_records(data)):
        status, payload = _strip_http(body)
        rows.append(
            row(
                headers.get("WARC-Record-ID", f"<{path}:{i}>"),
                payload,
                headers.get("WARC-Target-URI"),
                headers.get("WARC-Type", "response"),
                headers.get("WARC-Payload-Digest"),
                headers.get("WARC-Warcinfo-ID"),
                status,
                _parse_warc_date(headers.get("WARC-Date")),
            )
        )
    return rows


def _parse_warc_date(value: str | None):
    """ISO-8601 WARC-Date -> naive-UTC datetime (session TZ is UTC)."""
    if not value:
        return None
    import datetime as _dt

    try:
        d = _dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
        return d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    except ValueError:
        return None


def _parse_arc_date(value: str):
    """ARC yyyymmddhhmmss date -> naive-UTC datetime."""
    import datetime as _dt

    try:
        return _dt.datetime.strptime(value, "%Y%m%d%H%M%S")
    except ValueError:
        return None


def ingest_warc_files(spark, glob_path: str) -> DataFrame:
    """binaryFile scan -> per-file parse -> documents rows. Each input file
    is one Arrow batch group; parallelism = number of files (the reference's
    unit of work, one process per WARC, becomes one task per WARC)."""
    binary = spark.read.format("binaryFile").load(glob_path)

    def batches(it):
        for pdf in it:
            rows: list[dict] = []
            for path, data in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_warc_bytes(path, bytes(data)))
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.DOCUMENTS_INGEST.fields}
            )

    return binary.select("path", "content").mapInPandas(batches, schema.DOCUMENTS_INGEST)
