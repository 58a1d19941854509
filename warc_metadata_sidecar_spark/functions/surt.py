"""SURT URL canonicalization + timestamp-14 (reference S1/S2).

The reference calls the `surt` library (sidecar2cdxj.py:35) and warcio's
iso_date_to_timestamp (:36). Neither needs Python here: both are expressible
as native column expressions, which keeps the CDXJ index stage entirely
inside WholeStageCodegen (no Python stage at all — SURVEY.md §3.2).

`py_surt` is the same algorithm as a pure-Python function; it drives the
single-threaded frontier reference simulator and test oracles, guaranteeing
engine/simulator key-space equality (the north rule's URL-seen-set check).

Canonicalization (deterministic, documented subset of the surt library's
default canonicalizer — the rules real crawl URLs hit):
  scheme dropped; userinfo dropped; DEFAULT port dropped per scheme
  (http/ws:80, https/wss:443, ftp:21 — non-default ports key as
  'com,example:8080)', unknown schemes keep their port); fragment dropped;
  host lowercased and a leading 'www[0-9]*.' stripped; host components
  reversed and comma-joined; ')'; percent-escapes of UNRESERVED chars
  (RFC 3986 [A-Za-z0-9._~-]) decoded across the whole URL (%7E -> ~,
  %41 -> a after lowercasing, com%2Eexample keys as com,example; reserved
  escapes like %2F stay escaped); path+query lowercased ('' -> '/'); a path
  ';jsessionid=...' segment stripped; session-id query params (jsessionid,
  phpsessid, sid, cfid, cftoken, aspsessionid*) dropped; remaining query
  params SORTED; an emptied query's '?' removed; IDN (unicode) hosts
  punycode-encoded to their xn-- ACE form (IDNA2003: Python's idna codec
  in the twin, java.net.IDN.toASCII via try_reflect in the native forms —
  JVM-side, still no Python stage; verified byte-equal across both, and
  gated on a non-ASCII probe so ASCII hosts never pay the reflective
  call); raw ILLEGAL characters in the path/query (space, quote, angle
  brackets, braces, pipe, backslash, caret, backtick) escape to upper
  %XX like the surt canonicalizer. HOST edge rule (r5, matching the surt
  library's escapeOnce): hosts BOTH twins fail to IDNA-encode
  (overlong/empty labels) percent-escape their UTF-8 bytes to upper %XX;
  so does a space in an ASCII host; printable-but-illegal host chars
  (quote, angle brackets, ...) stay raw — escapeOnce leaves 0x21-0x7E
  untouched, so raw IS the library's behavior there. Documented
  remainder: non-space CONTROL chars in pure-ASCII hosts stay raw (never
  seen in crawl data; an instr gate beats a control-class regex on the
  frontier hot path).
  e.g. https://www.UNT.edu/About?b=2&a=1&PHPSESSID=x -> 'edu,unt)/about?a=1&b=2'
       https://www.münchen.de/Rathaus -> 'de,xn--mnchen-3ya)/rathaus'
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.session import per_context

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")
_SCHEME_CAPTURE_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://")
_AUTHORITY_RE = re.compile(r"^([^/?#]*)")
_PORT_CAPTURE_RE = re.compile(r":([0-9]+)$")

# the same regexes, shared verbatim with the SQL forms below
SCHEME_PATTERN = "^[a-zA-Z][a-zA-Z0-9+.-]*://"
SCHEME_CAPTURE_PATTERN = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
USERINFO_PATTERN = "^[^/@]*@"
PORT_PATTERN = ":[0-9]+$"
PORT_CAPTURE_PATTERN = ":([0-9]+)$"
WWW_PATTERN = "^www[0-9]*\\."
FRAGMENT_PATTERN = "#.*$"
JSESSIONID_PATH_PATTERN = ";jsessionid=[^?#]*"
SESSION_PARAM_PATTERN = "^(jsessionid|phpsessid|sid|cfid|cftoken|aspsessionid[a-z0-9]*)="

# scheme -> default port (surt's canonicalizer drops only the default)
DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21", "ws": "80", "wss": "443"}

_UNRESERVED = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
# "%XX" (upper hex) -> decoded unreserved char; shared by both twins
UNRESERVED_HEX = {format(ord(c), "02X"): c for c in _UNRESERVED}
_HEX_DIGITS = set("0123456789abcdefABCDEF")


def _py_decode_unreserved(s: str) -> str:
    """Decode %XX escapes of unreserved chars only — twin of
    _decode_unreserved_col. Reserved escapes (%2F, %3F, ...) stay escaped,
    so decoding can never change the URL's structure."""
    parts = s.split("%")
    out = [parts[0]]
    for p in parts[1:]:
        if len(p) >= 2 and p[0] in _HEX_DIGITS and p[1] in _HEX_DIGITS:
            ch = UNRESERVED_HEX.get(p[:2].upper())
            if ch is not None:
                out.append(ch + p[2:])
                continue
        out.append("%" + p)
    return "".join(out)


def _py_canonical_rest(rest: str) -> str:
    """Lowercase + session-strip + query-sort + raw-char escape of the
    path?query part (the unreserved decode already ran on the whole URL in
    py_surt)."""
    rest = re.sub(FRAGMENT_PATTERN, "", rest).lower()
    rest = re.sub(JSESSIONID_PATH_PATTERN, "", rest)
    if "?" in rest:
        path, _, query = rest.partition("?")
        args = [a for a in query.split("&") if a and not re.match(SESSION_PARAM_PATTERN, a)]
        rest = path + ("?" + "&".join(sorted(args)) if args else "")
    return _py_escape_raw(rest) or "/"


NON_ASCII_PATTERN = "[^\\x00-\\x7F]"
_NON_ASCII_RE = re.compile(NON_ASCII_PATTERN)

# raw characters that are ILLEGAL unescaped in a URL path/query (RFC 3986
# excluded set, the ones real crawled hrefs actually carry) — the surt
# canonicalizer escapes them; r4 closes this documented S1 remainder.
# Applied to the rest (path?query) AFTER session-strip/sort, never to the
# host (IDN handles non-ascii hosts; an illegal char in a host stays raw).
RAW_ESCAPE_CHARS = ' "<>`{}|\\^'
_RAW_ESCAPE_RE = re.compile("[" + re.escape(RAW_ESCAPE_CHARS) + "]")
_RAW_ESCAPE_MAP = {c: "%%%02X" % ord(c) for c in RAW_ESCAPE_CHARS}


def _py_escape_raw(rest: str) -> str:
    if not _RAW_ESCAPE_RE.search(rest):
        return rest
    return _RAW_ESCAPE_RE.sub(lambda m: _RAW_ESCAPE_MAP[m.group(0)], rest)


def _py_pct_escape_host(host: str) -> str:
    """The surt library's escapeOnce semantics for hosts (r5, VERDICT r4
    #7): every char outside printable ASCII 0x21-0x7E percent-escapes its
    UTF-8 bytes (upper hex). Printable-but-illegal chars (quote, angle
    brackets, ...) pass through — escapeOnce leaves 0x21-0x7E alone, so
    'stay raw' IS the library's behavior for that class."""
    out: list[str] = []
    for ch in host:
        if 0x21 <= ord(ch) <= 0x7E:
            out.append(ch)
        else:
            out.extend("%{:02X}".format(b) for b in ch.encode("utf-8"))
    return "".join(out)


def _py_idna_host(host: str) -> str:
    """IDNA2003 ACE form of a (lowercased, port-stripped) host — twin of
    the native try_reflect(java.net.IDN.toASCII) call. Unencodable hosts
    (empty/overlong labels) fall back to percent-escaping their UTF-8
    bytes, the surt library's escapeOnce fallback (r5 — they previously
    keyed raw); ASCII hosts carrying a space take the same escape (other
    control chars in ASCII hosts stay raw — never seen in crawl data, and
    a cheap instr gate beats a per-row control-class regex on the
    frontier hot path; documented rule)."""
    if not _NON_ASCII_RE.search(host):
        return _py_pct_escape_host(host) if " " in host else host
    try:
        return host.encode("idna").decode("ascii")
    except UnicodeError:
        return _py_pct_escape_host(host)


def py_surt(url: str | None) -> str | None:
    """Pure-Python twin of `surt_col` (bit-identical output)."""
    if not url:
        return None
    if "%" in url:
        # whole-URL unreserved decode (like the surt library's canonicalizer;
        # cannot produce a structural char — '.' in a host is the one
        # user-visible effect, and com%2Eexample SHOULD key as com,example)
        url = _py_decode_unreserved(url)
    m = _SCHEME_CAPTURE_RE.match(url)
    scheme = m.group(1).lower() if m else "http"
    no_scheme = _SCHEME_RE.sub("", url)
    authority = _AUTHORITY_RE.match(no_scheme).group(1)
    rest = _py_canonical_rest(no_scheme[len(authority):])
    host = re.sub(USERINFO_PATTERN, "", authority)
    pm = _PORT_CAPTURE_RE.search(host)
    port = pm.group(1) if pm else None
    host = re.sub(PORT_PATTERN, "", host).lower()
    host = re.sub(WWW_PATTERN, "", host)
    host = _py_idna_host(host)
    suffix = ":" + port if port and port != DEFAULT_PORTS.get(scheme) else ""
    return ",".join(reversed(host.split("."))) + suffix + ")" + rest


def _decode_unreserved_col(c: Column) -> Column:
    """Native twin of _py_decode_unreserved: split on '%', rebuild with each
    fragment's leading hex pair decoded when it names an unreserved char.
    The 66-entry map is a plan literal — pure string ops, no UDF."""
    mapping = F.create_map(*[F.lit(x) for pair in UNRESERVED_HEX.items() for x in pair])
    parts = F.split(c, "%")
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def piece(p):
        dec = F.element_at(mapping, F.upper(F.substring(p, 1, 2)))
        return F.when(
            dec.isNotNull(), F.concat(dec, F.substring(p, 3, 1 << 30))
        ).otherwise(F.concat(F.lit("%"), p))

    return F.aggregate(
        tail, F.element_at(parts, 1), lambda acc, p: F.concat(acc, piece(p))
    )


def _canonical_rest_col(rest: Column) -> Column:
    rest = F.lower(F.regexp_replace(rest, FRAGMENT_PATTERN, ""))
    rest = F.regexp_replace(rest, JSESSIONID_PATH_PATTERN, "")
    path = F.substring_index(rest, "?", 1)
    query = F.when(
        F.instr(rest, "?") > 0, F.substring(rest, F.instr(rest, "?") + 1, 1 << 30)
    ).otherwise(F.lit(""))
    args = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda a: (F.length(a) > 0) & ~a.rlike(SESSION_PARAM_PATTERN),
        )
    )
    rebuilt = F.when(
        F.size(args) > 0, F.concat(path, F.lit("?"), F.array_join(args, "&"))
    ).otherwise(path)
    out = F.when(F.length(rebuilt) == 0, F.lit("/")).otherwise(rebuilt)
    # raw-char escape (twin of _py_escape_raw): a chain of LITERAL
    # replaces, unconditional on purpose — a gated form would reference
    # the rebuilt chain 3x and Catalyst CSE skips conditional branches
    for ch, rep in _RAW_ESCAPE_MAP.items():
        out = F.replace(out, F.lit(ch), F.lit(rep))
    return out


def _pct_escape_host_col(host: Column) -> Column:
    """Native twin of _py_pct_escape_host: per-char transform escaping
    everything outside printable ASCII to upper %XX of its UTF-8 bytes.
    Runs ONLY on the rare fallback branches (IDNA failure / space-bearing
    host), never on the hot path."""
    return F.array_join(
        F.transform(
            F.split(host, ""),
            lambda ch: F.when(ch.rlike("^[\\x21-\\x7E]$"), ch).otherwise(
                F.regexp_replace(F.hex(F.encode(ch, "UTF-8")), "(..)", r"%$1")
            ),
        ),
        "",
    )


def _idna_host_col(host: Column) -> Column:
    """Native twin of _py_idna_host: java.net.IDN.toASCII via try_reflect —
    a JVM-side reflective call, NO Python stage. Gated on a non-ASCII
    probe so the (overwhelming) ASCII majority never pays reflection;
    null on encode failure -> the escapeOnce percent-escape fallback (r5;
    an ASCII host with a space takes the same escape via a cheap instr
    gate)."""
    ace = F.call_function(
        "try_reflect", F.lit("java.net.IDN"), F.lit("toASCII"), host
    )
    # non-ASCII probe as length arithmetic (utf-8 bytes > chars), not a
    # regex — the gate runs on every row of the frontier hot path
    return (
        F.when(
            F.octet_length(host) > F.length(host),
            F.coalesce(ace, _pct_escape_host_col(host)),
        )
        .when(F.instr(host, " ") > 0, _pct_escape_host_col(host))
        .otherwise(host)
    )


def surt_col(url: Column) -> Column:
    """Native SURT: regexp + split + sort + array_join, no UDF.

    The port/scheme machinery is gated on ':' in the authority (If
    short-circuits in codegen), so the overwhelmingly common port-less URL
    pays exactly the pre-r3 expression cost. The unreserved percent-decode
    runs ONCE on the raw url attribute at the top: expression trees have no
    let-binding, so any conditional placed mid-chain is re-evaluated —
    together with its whole upstream regex chain — at every downstream
    reference (CSE skips conditional branches; measured 2x on the full
    SURT when the decode sat inside the rest chain). Re-referencing the
    top-level gate costs one instr() on the raw attribute."""
    url = F.when(F.instr(url, "%") == 0, url).otherwise(_decode_unreserved_col(url))
    no_scheme = F.regexp_replace(url, SCHEME_PATTERN, "")
    authority = F.regexp_extract(no_scheme, "^([^/?#]*)", 1)
    rest = _canonical_rest_col(F.substring(no_scheme, F.length(authority) + 1, 1 << 30))
    no_user = F.regexp_replace(authority, USERINFO_PATTERN, "")
    host = F.lower(F.regexp_replace(no_user, PORT_PATTERN, ""))
    host = F.regexp_replace(host, WWW_PATTERN, "")
    host = _idna_host_col(host)
    # ported URLs only: extract the port, derive the scheme from the length
    # already removed by the no_scheme strip (no second regex over the url),
    # and keep the port unless it is the scheme's default
    port = F.regexp_extract(no_user, PORT_CAPTURE_PATTERN, 1)
    scheme = F.when(
        F.length(url) > F.length(no_scheme),
        F.lower(F.substring(url, F.lit(1), F.length(url) - F.length(no_scheme) - 3)),
    ).otherwise(F.lit("http"))
    default_port = F.element_at(
        F.create_map(*[F.lit(x) for pair in DEFAULT_PORTS.items() for x in pair]),
        scheme,
    )
    suffix = F.when(F.instr(no_user, ":") == 0, F.lit("")).otherwise(
        F.when(
            (port != "") & (port != F.coalesce(default_port, F.lit(""))),
            F.concat(F.lit(":"), port),
        ).otherwise(F.lit(""))
    )
    return F.when(
        url.isNull() | (F.length(url) == 0), F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            F.array_join(F.reverse(F.split(host, "\\.")), ","), suffix, F.lit(")"), rest
        )
    )


def with_surt(df, url_col: str = "url", out_col: str = "canonical_url"):
    """STAGED SURT: the hot-path form. Value-identical to surt_col/py_surt,
    but every intermediate (decoded url, authority, rest, host) is a named
    column evaluated ONCE — Catalyst's CollapseProject keeps projections
    apart rather than duplicate expensive expressions, whereas the single
    Column form re-evaluates each subchain at every downstream reference
    (no let-binding in expression trees; measured 2.7x slower over 2M URLs
    at local[32]). Use this in frontier/CDXJ scans; surt_col remains for
    expression contexts. The stage columns are built once per Spark
    context (_surt_stages)."""
    *stages, key = _surt_stages(url_col)
    d = df
    for name, col in stages:
        d = d.withColumn(name, col)
    return d.withColumn(out_col, key).drop(*_SURT_TEMPS)


_SURT_TEMPS = ("_surt_u", "_surt_ns", "_surt_auth", "_surt_rest", "_surt_nu", "_surt_host")


@per_context
def _surt_stages(url_col: str) -> tuple:
    """with_surt's (name, column) stages in order, then the key column."""
    u = F.col(url_col)
    port = F.regexp_extract("_surt_nu", PORT_CAPTURE_PATTERN, 1)
    scheme = F.when(
        F.length("_surt_u") > F.length("_surt_ns"),
        F.lower(F.expr("substring(_surt_u, 1, length(_surt_u) - length(_surt_ns) - 3)")),
    ).otherwise(F.lit("http"))
    default_port = F.element_at(
        F.create_map(*[F.lit(x) for pair in DEFAULT_PORTS.items() for x in pair]),
        scheme,
    )
    suffix = F.when(F.instr("_surt_nu", ":") == 0, F.lit("")).otherwise(
        F.when(
            (port != "") & (port != F.coalesce(default_port, F.lit(""))),
            F.concat(F.lit(":"), port),
        ).otherwise(F.lit(""))
    )
    return (
        ("_surt_u", F.when(F.instr(u, "%") == 0, u).otherwise(_decode_unreserved_col(u))),
        ("_surt_ns", F.regexp_replace("_surt_u", SCHEME_PATTERN, "")),
        ("_surt_auth", F.regexp_extract("_surt_ns", "^([^/?#]*)", 1)),
        (
            "_surt_rest",
            _canonical_rest_col(
                F.expr(f"substring(_surt_ns, length(_surt_auth) + 1, {1 << 30})")
            ),
        ),
        ("_surt_nu", F.regexp_replace("_surt_auth", USERINFO_PATTERN, "")),
        (
            "_surt_host",
            F.regexp_replace(
                F.lower(F.regexp_replace("_surt_nu", PORT_PATTERN, "")), WWW_PATTERN, ""
            ),
        ),
        # staged separately: the idna gate references the host 3x, which
        # would re-run the host regex chain at every reference if inlined
        # (no let-binding in expression trees; see with_surt docstring)
        ("_surt_host", _idna_host_col(F.col("_surt_host"))),
        F.when(u.isNull() | (F.length(u) == 0), F.lit(None).cast("string")).otherwise(
            F.concat(
                F.array_join(F.reverse(F.split("_surt_host", "\\.")), ","),
                suffix,
                F.lit(")"),
                F.col("_surt_rest"),
            )
        ),
    )


def host_col(url: Column) -> Column:
    """Lowercased registrable host (no www-strip — politeness keys on the
    actual host the crawler would hit; N1)."""
    no_scheme = F.regexp_replace(url, SCHEME_PATTERN, "")
    authority = F.regexp_extract(no_scheme, "^([^/?#]*)", 1)
    return F.lower(
        F.regexp_replace(F.regexp_replace(authority, USERINFO_PATTERN, ""), PORT_PATTERN, "")
    )


def py_host(url: str | None) -> str | None:
    if not url:
        return None
    no_scheme = _SCHEME_RE.sub("", url)
    authority = _AUTHORITY_RE.match(no_scheme).group(1)
    host = re.sub(USERINFO_PATTERN, "", authority)
    return re.sub(PORT_PATTERN, "", host).lower()


def timestamp14_col(ts: Column) -> Column:
    """ISO-8601 timestamp -> 14-digit key (warcio.iso_date_to_timestamp,
    sidecar2cdxj.py:36) — native date_format, session TZ pinned to UTC."""
    return F.date_format(ts, "yyyyMMddHHmmss")
