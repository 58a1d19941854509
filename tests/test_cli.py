"""CLI e2e (reference C1: the three entry points + crawl), in-process via
main() — build_session getOrCreate reuses the test session, so these drive
the real argparse -> command -> output path."""

import re
import sys

from warc_metadata_sidecar_spark import cli, gen


def _run(monkeypatch, capsys, argv):
    monkeypatch.setattr(sys, "argv", ["warc_metadata_sidecar_spark"] + argv)
    cli.main()
    return capsys.readouterr().out


def test_cli_merge_matches_reference_golden(
    spark, tmp_path, capsys, monkeypatch, reference_tests
):
    ref = reference_tests
    out = _run(
        monkeypatch,
        capsys,
        ["--cpus", "4", "merge", "-m", f"{ref}/meta.cdxj", "-w", f"{ref}/warc_1.cdxj",
         "-d", str(tmp_path)],
    )
    assert "Total merged records: 1" in out
    merged = spark.read.text(str(tmp_path / "merged")).collect()
    assert len(merged) == 1
    assert merged[0].value == (
        'com,example) 20091111212121 {"url": "http://www.example.com", '
        '"mime": "text/html", "mime-detected": "text/html", "puid": "fmt/96", '
        '"charset": "ascii", "languages": "eng", '
        '"soft-404-detected": 0.08195022044249829}'
    )


def test_cli_sidecar_and_cdxj(spark, docs100, tmp_path, capsys, monkeypatch):
    docs_path = str(tmp_path / "docs")
    docs100.write.mode("overwrite").parquet(docs_path)
    arc_dir = str(tmp_path / "archive")
    out = _run(monkeypatch, capsys, ["--cpus", "4", "sidecar", arc_dir, docs_path])
    assert "Records with Mime Types:" in out
    assert "Total Records for this WARC file: 100" in out
    out2 = _run(monkeypatch, capsys, ["--cpus", "4", "cdxj", f"{arc_dir}/sidecar", arc_dir])
    lines = spark.read.text(f"{arc_dir}/cdxj").collect()
    assert lines and all(len(line.value.split(" ", 2)) == 3 for line in lines)


def test_cli_sidecar_single_detector_execution(spark, docs100, tmp_path, capsys, monkeypatch):
    """VERDICT r2 #1: cmd_sidecar must execute the detector pipeline exactly
    once (the write); counters ride observe() on that job. Instrumented the
    same way as test_crawl_round_action_budget: extract_sidecar is invoked
    once, and NO collect/first action runs a second pipeline on top of the
    write (docs.count() is the only count — a detector-free parquet scan)."""
    from pyspark.sql import DataFrame

    from warc_metadata_sidecar_spark.operators import sidecar as sidecar_mod

    calls = {"extract": 0, "first": 0, "collect": 0, "count": 0}
    orig_extract = sidecar_mod.extract_sidecar

    def counting_extract(*a, **kw):
        calls["extract"] += 1
        return orig_extract(*a, **kw)

    monkeypatch.setattr(sidecar_mod, "extract_sidecar", counting_extract)
    for name in ("first", "collect", "count"):
        orig = getattr(DataFrame, name)

        def wrapped(self, *a, _n=name, _o=orig, **kw):
            calls[_n] += 1
            return _o(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, wrapped)

    docs_path = str(tmp_path / "docs")
    docs100.write.mode("overwrite").parquet(docs_path)
    arc_dir = str(tmp_path / "archive")
    out = _run(monkeypatch, capsys, ["--cpus", "4", "sidecar", arc_dir, docs_path])
    assert "Records with Mime Types:" in out
    assert calls["extract"] == 1, calls
    assert calls["first"] == 0 and calls["collect"] == 0, calls
    # write_sidecar's footer count + the CLI's total_records_read scan
    assert calls["count"] <= 2, calls
    log_text = (tmp_path / "archive" / "metadata_sidecar.log").read_text()
    assert "response/resource record(s)" in log_text


def test_cli_crawl(spark, tmp_path, capsys, monkeypatch):
    docs_path = str(tmp_path / "docs")
    gen.documents(spark, 200).write.mode("overwrite").parquet(docs_path)
    ckpt = str(tmp_path / "ckpt")
    out = _run(
        monkeypatch, capsys,
        ["--cpus", "4", "crawl", docs_path, ckpt, "--rounds", "2"],
    )
    assert "round=0" in out and "round=1" in out
    import os

    assert os.path.exists(os.path.join(ckpt, "round=1", "filters", "_SUCCESS"))


def test_cli_writes_per_run_log(spark, tmp_path, capsys, monkeypatch):
    # reference C2: a per-run log file lands in the output dir with the
    # reference's message shapes (warc_metadata_sidecar.py:173-179); the
    # inputs are one matching original/sidecar CDXJ pair
    orig, meta = tmp_path / "warc_1.cdxj", tmp_path / "meta.cdxj"
    orig.write_text(
        'com,example) 20091111212121 {"url": "http://www.example.com", '
        '"mime": "text/html"}\n'
    )
    meta.write_text(
        'com,example) 20091111212121 {"url": "http://www.example.com", '
        '"Identified-Payload-Type": {"fido": "text/html", '
        '"python-magic": "text/html"}, "Preservation-Identifier": "fmt/96"}\n'
    )
    out_dir = tmp_path / "out"
    _run(
        monkeypatch, capsys,
        ["--cpus", "4", "merge", "-m", str(meta), "-w", str(orig), "-d", str(out_dir)],
    )
    log_text = (out_dir / "merge_cdxj.log").read_text()
    assert "Logging CDXJ merge information for" in log_text
    assert "Total merged records: 1" in log_text
    assert "Elapsed:" in log_text


def test_cli_sidecar_emit_warc(spark, docs100, tmp_path, capsys, monkeypatch):
    """--emit-warc renders the reference CLI's native artifact: one
    <name>.warc.meta.gz per source file, warcinfo record first, re-ingestable
    by the engine's own parser."""
    from warc_metadata_sidecar_spark.sources.warc_ingest import ingest_warc_files

    docs_path = str(tmp_path / "docs")
    docs100.write.mode("overwrite").parquet(docs_path)
    arc_dir = str(tmp_path / "archive")
    _run(monkeypatch, capsys, ["--cpus", "4", "sidecar", arc_dir, docs_path, "--emit-warc"])
    import glob

    files = glob.glob(f"{arc_dir}/*.meta.gz")
    assert files
    back = ingest_warc_files(spark, f"{arc_dir}/*.meta.gz")
    types = {r.rec_type for r in back.select("rec_type").distinct().collect()}
    assert types == {"warcinfo", "metadata"}


def test_cli_sidecar_emit_warc_zero_records(spark, tmp_path, capsys, monkeypatch):
    """SNK5 byte form: a corpus producing no metadata rows emits a
    warcinfo-ONLY sidecar file whose description carries the reference's
    '; 0 metadata sidecar records' suffix (warc_metadata_sidecar.py:284-293)."""
    from warc_metadata_sidecar_spark import schema as sch
    from warc_metadata_sidecar_spark.sources.warc_ingest import parse_warc_bytes

    dns_only = spark.createDataFrame(
        [
            (
                f"<urn:uuid:dns-{i}>",
                [],
                f"dns:host{i}.example.com",
                None,
                "response",
                None,
                None,
                None,
                False,
                "dns.warc",
            )
            for i in range(3)
        ],
        sch.DOCUMENTS,
    )
    docs_path = str(tmp_path / "docs")
    dns_only.write.mode("overwrite").parquet(docs_path)
    arc_dir = str(tmp_path / "archive")
    _run(monkeypatch, capsys, ["--cpus", "4", "sidecar", arc_dir, docs_path, "--emit-warc"])
    import glob

    files = glob.glob(f"{arc_dir}/*.meta.gz")
    assert len(files) == 1
    rows = parse_warc_bytes(files[0], open(files[0], "rb").read())
    assert len(rows) == 1 and rows[0]["rec_type"] == "warcinfo"
    text = "".join(s["text"] or "" for s in rows[0]["spans"])
    assert "; 0 metadata sidecar records" in text


def test_cli_curate(spark, tmp_path, capsys, monkeypatch):
    """curate e2e: dedup -> budgeted temperature sample -> shard write +
    manifest; the written parquet agrees with the printed manifest, and a
    planted exact duplicate is removed by the dedup stage."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(300)
    # plant one exact duplicate: the lowest doc's text re-enters under an id
    # that sorts AFTER every real id, so the original survives dedup
    dup = docs.orderBy("doc_id").limit(1).withColumn("doc_id", F.lit(999999))
    docs_path = str(tmp_path / "docs")
    docs.unionByName(dup).write.mode("overwrite").parquet(docs_path)
    out_dir = str(tmp_path / "cur")
    out = _run(
        monkeypatch,
        capsys,
        ["--cpus", "4", "curate", docs_path, out_dir, "--shards", "4",
         "--budget", "200"],
    )
    assert "read=301 after_blocklist=301 after_dedup=300" in out
    written = spark.read.parquet(f"{out_dir}/curated")
    manifest = {r.shard: r for r in spark.read.parquet(f"{out_dir}/manifest").collect()}
    assert len(manifest) == 4
    per_shard = {
        r.shard: r for r in written.groupBy("shard")
        .agg(F.count("*").alias("n"), F.sum(F.size(F.split("text", " "))).alias("t"))
        .collect()
    }
    for s, m in manifest.items():
        assert per_shard[s].n == m.n_docs and per_shard[s].t == m.n_tokens
    # the planted duplicate never survives (min doc_id wins)
    assert written.filter(F.col("doc_id") == 999999).count() == 0


def test_cli_curate_dsir(spark, tmp_path, capsys, monkeypatch):
    """--dsir-k keeps exactly K docs (DSIR top-K toward the target lang)."""
    docs_path = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.mode(
        "overwrite"
    ).parquet(docs_path)
    out_dir = str(tmp_path / "cur")
    out = _run(
        monkeypatch,
        capsys,
        ["--cpus", "4", "curate", docs_path, out_dir, "--shards", "2",
         "--dsir-k", "50"],
    )
    assert "written=50" in out
    assert spark.read.parquet(f"{out_dir}/curated").count() == 50


def test_cli_curate_paragraph_dedup_drops_emptied_docs(spark, tmp_path, capsys, monkeypatch):
    """--paragraph-dedup: a doc whose every paragraph was seen earlier is
    dropped entirely (ADVICE r6: no empty-text rows in training shards),
    while partially-deduplicated docs keep their surviving lines."""
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha unique line one.\nshared boilerplate line."),
        (2, "shared boilerplate line."),             # fully deduplicated -> dropped
        (3, "beta keeps this line.\nshared boilerplate line."),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    docs_path = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(docs_path)
    out_dir = str(tmp_path / "cur")
    out = _run(
        monkeypatch,
        capsys,
        ["--cpus", "4", "curate", docs_path, out_dir, "--shards", "2",
         "--paragraph-dedup"],
    )
    assert "read=3" in out and "written=2" in out
    written = spark.read.parquet(f"{out_dir}/curated")
    got = {r.doc_id: r.text for r in written.collect()}
    assert set(got) == {1, 3}
    assert got[1] == "alpha unique line one.\nshared boilerplate line."
    assert got[3] == "beta keeps this line."
    assert written.filter(F.length("text") == 0).count() == 0


def _quality_docs(spark):
    good = [
        (
            i,
            "\n".join(
                f"The brown fox number{i}x{j} jumps over the lazy dog and "
                "cats with style today."
                for j in range(6)
            ),
        )
        for i in range(5)
    ]
    junk = [(10 + i, f"x{i} y z {{code}}") for i in range(5)]
    return spark.createDataFrame(good + junk, "doc_id: long, text: string")


def test_cli_curate_gopher_gate(spark, tmp_path, capsys, monkeypatch):
    """--gopher keeps the compliant prose docs (>=50 words, stopwords,
    alpha-heavy) and drops the short junk ones."""
    docs_path = str(tmp_path / "docs")
    _quality_docs(spark).write.mode("overwrite").parquet(docs_path)
    out_dir = str(tmp_path / "cur")
    out = _run(
        monkeypatch,
        capsys,
        ["--cpus", "4", "curate", docs_path, out_dir, "--shards", "2", "--gopher"],
    )
    assert "read=10" in out and "after_quality=5" in out and "written=5" in out
    kept = {r.doc_id for r in spark.read.parquet(f"{out_dir}/curated").collect()}
    assert kept == {0, 1, 2, 3, 4}


def test_cli_curate_c4_gate(spark, tmp_path, capsys, monkeypatch):
    """--c4 keeps pages with >=5 terminal-punctuated sentences and drops
    the brace-bearing junk."""
    docs_path = str(tmp_path / "docs")
    _quality_docs(spark).write.mode("overwrite").parquet(docs_path)
    out_dir = str(tmp_path / "cur")
    out = _run(
        monkeypatch,
        capsys,
        ["--cpus", "4", "curate", docs_path, out_dir, "--shards", "2", "--c4"],
    )
    assert "read=10" in out and "after_quality=5" in out and "written=5" in out
    kept = {r.doc_id for r in spark.read.parquet(f"{out_dir}/curated").collect()}
    assert kept == {0, 1, 2, 3, 4}


def test_cli_curate_full_compose_stage_counts(spark, tmp_path, capsys, monkeypatch):
    """The full curate composition (exact dedup -> paragraph dedup ->
    gopher -> c4 -> dsir top-K -> budgeted sample -> shards): every stage
    count printed by the CLI is pinned on a planted corpus where each
    stage does known work (BENCH/curate_bench.py is the sf0.1 form)."""
    from pyspark.sql import functions as F

    line = (
        "The brown fox number{i} jumps over the lazy dog and cats with "
        "style today and that is of interest to the reader of records."
    )
    rows = []
    for i in range(20):
        text = "\n".join(line.format(i=f"{i}x{j}") for j in range(6))
        if i % 2 == 0:
            text += "\nshared boilerplate line for the even half and that is fine."
        rows.append((i, text, "en"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
    # 4 exact duplicates re-enter under high ids -> dedup removes exactly 4
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    docs_path = str(tmp_path / "docs")
    docs.unionByName(dups).write.mode("overwrite").parquet(docs_path)
    out_dir = str(tmp_path / "cur")
    out = _run(
        monkeypatch,
        capsys,
        ["--cpus", "4", "curate", docs_path, out_dir, "--shards", "2",
         "--paragraph-dedup", "--gopher", "--c4",
         "--dsir-k", "12", "--dsir-target-lang", "en", "--budget", "8"],
    )
    # 24 read; 20 after exact dedup; paragraph dedup keeps all 20 docs
    # non-empty (each has unique lines); gates keep all 20 (compliant
    # prose); dsir keeps 12; budget samples <= 8
    assert "read=24 after_blocklist=24 after_dedup=20 after_quality=20" in out
    m = re.search(r"written=(\d+)", out)
    assert m and int(m.group(1)) <= 8
    written = spark.read.parquet(f"{out_dir}/curated")
    assert written.count() == int(m.group(1))
    # the boilerplate paragraph survives in exactly one even doc
    boiler = written.filter(
        F.col("text").contains("shared boilerplate line")
    ).count()
    assert boiler <= 1


def test_cli_curate_blocklist_and_normalize_keys(spark, tmp_path, capsys, monkeypatch):
    """--blocklist drops suffix-matched hosts and keyword paths before
    any content work; --normalize-keys dedups NFC/zero-width surface
    variants that the (already case/whitespace-folding) raw fingerprint
    keeps apart."""
    from pyspark.sql import functions as F  # noqa: F401

    rows = [
        # precomposed vs DECOMPOSED-with-zero-width: fingerprint_col
        # already folds case/whitespace, so the --normalize-keys delta
        # is exactly NFC + zero-width stripping
        (0, "https://good.example.org/a", "Café Déjà Vu"),
        (1, "https://sub.badads.net/x", "spam one"),          # suffix block
        (2, "https://clean.io/go/casino-night", "spam two"),  # keyword block
        (3, "https://fine.org/b", "Café​ Déjà Vu"),
        (4, "https://fine.org/c", "Totally Different"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, url: string, text: string")
    docs_path = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(docs_path)
    blfile = tmp_path / "blocked.txt"
    blfile.write_text("badads.net\n\n")
    out_dir = str(tmp_path / "cur")
    out = _run(
        monkeypatch,
        capsys,
        ["--cpus", "4", "curate", docs_path, out_dir, "--shards", "1",
         "--blocklist", str(blfile), "--block-words", "casino,xxx",
         "--normalize-keys"],
    )
    # 5 read; blocklist drops 1 (suffix) + 1 (keyword) = 3 left;
    # normalized dedup folds doc 3 into doc 0 -> 2 written
    assert "read=5 after_blocklist=3 after_dedup=2" in out
    kept = spark.read.parquet(f"{out_dir}/curated")
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) == [0, 4]
    # without --normalize-keys (and no keyword list) the NFC variant
    # and the keyword URL both survive
    out2 = _run(
        monkeypatch,
        capsys,
        ["--cpus", "4", "curate", docs_path, str(tmp_path / "cur2"),
         "--shards", "1", "--blocklist", str(blfile)],
    )
    assert "read=5 after_blocklist=4 after_dedup=4" in out2


def test_cli_wet(spark, tmp_path, capsys, monkeypatch):
    """`wet` subcommand writes one parseable .wet.gz per source file and
    prints per-file + total counts."""
    import gzip as _gzip
    import os

    from warc_metadata_sidecar_spark import gen
    from warc_metadata_sidecar_spark.sources.warc_ingest import _warc_records

    docs_path = str(tmp_path / "docs")
    gen.documents(spark, 30).write.mode("overwrite").parquet(docs_path)
    out_dir = str(tmp_path / "wet")
    out = _run(monkeypatch, capsys, ["--cpus", "4", "wet", docs_path, out_dir])
    files = [f for f in os.listdir(out_dir) if f.endswith(".wet.gz")]
    assert files
    m = re.search(r"files=(\d+) records=(\d+)", out)
    assert m and int(m.group(1)) == len(files)
    total = 0
    for f in files:
        data = _gzip.decompress(open(os.path.join(out_dir, f), "rb").read())
        recs = _warc_records(data)
        assert recs[0][0].get("WARC-Type") == "warcinfo"
        total += sum(1 for h, _ in recs if h.get("WARC-Type") == "conversion")
    assert total == int(m.group(2))
