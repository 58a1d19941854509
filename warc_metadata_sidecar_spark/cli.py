"""CLI entry points (reference C1: warc_metadata_sidecar.py:306-331,
sidecar2cdxj.py:64-77, merge_cdxj.py:141-165), spark-submit-friendly.

  python -m warc_metadata_sidecar_spark.cli sidecar  <archive_dir> <documents_path>
      [--media PATH] [--operator NAME] [--publisher NAME] [--cpus N]
  python -m warc_metadata_sidecar_spark.cli cdxj     <sidecar_path> <archive_dir>
  python -m warc_metadata_sidecar_spark.cli merge    -m META -w WARC -d DIR
  python -m warc_metadata_sidecar_spark.cli crawl    <documents_path> <out_dir>
      [--rounds N] [--budget N] [--cpus N]
  python -m warc_metadata_sidecar_spark.cli curate   <documents_path> <out_dir>
      [--shards N] [--paragraph-dedup] [--gopher] [--c4] [--budget N]
      [--dsir-k K --dsir-target-lang L]
      (documents_path = flat (doc_id, text[, lang, source]) parquet)

Same flag names as the reference where they exist; --cpus/--sf-dir style
knobs added for the distributed runtime.
"""

from __future__ import annotations

import argparse
import logging
import os
import time

from warc_metadata_sidecar_spark.session import build_session


def _run_log(out_dir: str, name: str) -> logging.Logger:
    """Per-run log file (reference C2: warc_metadata_sidecar.py:173-179,
    merge_cdxj.py:116-123 — one <name>.log in the output dir)."""
    os.makedirs(out_dir, exist_ok=True)
    logger = logging.getLogger(f"warc_metadata_sidecar_spark.{name}")
    logger.setLevel(logging.INFO)
    logger.handlers = [logging.FileHandler(os.path.join(out_dir, f"{name}.log"))]
    logger.handlers[0].setFormatter(
        logging.Formatter("%(asctime)s %(levelname)s %(message)s")
    )
    return logger


def cmd_sidecar(args) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from warc_metadata_sidecar_spark.operators.sidecar import (
        counter_aggs,
        extract_sidecar,
    )
    from warc_metadata_sidecar_spark.sources.tables import write_sidecar

    log = _run_log(args.archive_dir, "metadata_sidecar")
    t0 = time.time()
    spark = build_session("sidecar-cli", cpus=args.cpus)
    docs = spark.read.parquet(args.documents_path)
    log.info("Logging WARC metadata record information for %s", args.documents_path)
    media = spark.read.parquet(args.media) if args.media else None
    # counters ride observe() on the ONE write job: the Arrow detector stage
    # executes exactly once (VERDICT r2 #1 — the r1 fix lived inside
    # write_sidecar, but the CLI re-ran extract_sidecar via sidecar_counters
    # one level up). total_records_read is a detector-free parquet count.
    obs = Observation("sidecar_counters")
    annotated = extract_sidecar(docs, media).observe(obs, *counter_aggs())
    side = annotated.filter(F.col("payload").isNotNull()).drop("is_text")
    out = os.path.join(args.archive_dir, "sidecar")
    info = write_sidecar(
        side, out, os.path.basename(args.documents_path), args.operator, args.publisher
    )
    if args.emit_warc and info["description"].endswith("; 0 metadata sidecar records"):
        # SNK5 byte form (warc_metadata_sidecar.py:284-293): a warcinfo-only
        # sidecar carrying the amended description
        import gzip as _gzip

        from warc_metadata_sidecar_spark.operators.cdxj import sidecar_filename
        from warc_metadata_sidecar_spark.sources.warc_export import render_warcinfo

        name = sidecar_filename(os.path.basename(args.documents_path) + ".warc")
        blob = _gzip.compress(render_warcinfo(name, payload_fields=info), mtime=0)
        with open(os.path.join(args.archive_dir, name), "wb") as fh:
            fh.write(blob)
    elif args.emit_warc:
        # byte-form interop output, one <name>.warc.meta.gz per source file
        # (the reference CLI's native artifact) — rendered from the WRITTEN
        # parquet rows, so the detector pipeline still runs exactly once
        from warc_metadata_sidecar_spark.sources.warc_export import (
            stream_sidecar_warc_files,
        )

        written = spark.read.parquet(os.path.join(out, "rows"))
        if "source_file" not in written.columns:
            src = (
                docs.select("doc_id", "source_file")
                if "source_file" in docs.columns
                else docs.select(
                    "doc_id", F.lit(None).cast("string").alias("source_file")
                )
            )
            written = written.join(src, "doc_id", "left")
        written = written.withColumn(
            "source_file",
            F.coalesce("source_file", F.lit(os.path.basename(args.documents_path) + ".warc")),
        )
        # streaming sink: gzip members land on disk as rows flow — no
        # per-file blob ever materializes (VERDICT r3 #8)
        stream_sidecar_warc_files(
            written, args.archive_dir, operator=args.operator, publisher=args.publisher
        )
        log.info("Creating sidecar %s", "warc.meta.gz byte-form files")
    if info["description"].endswith("; 0 metadata sidecar records"):
        log.info("No metadata records to write, updating warcinfo")
    counters = obs.get
    records_written = int(counters["records_written"] or 0)
    mime_type_records = int(counters["text_mime"] or 0) + int(counters["non_text"] or 0)
    total_records_read = docs.count()
    # reference logs records_written in this line (warc_metadata_sidecar.py:
    # 297-298); mime_type_records belongs only to the printed stats (:300)
    log.info(
        "Determined sidecar information for %s response/resource record(s)",
        records_written,
    )
    log.info("Total Records for this WARC file: %s", total_records_read)
    log.info("Elapsed: %.3fs", time.time() - t0)
    print(f"Records with Mime Types: {mime_type_records}")
    print(f"Total Records for this WARC file: {total_records_read}")


def cmd_cdxj(args) -> None:
    from warc_metadata_sidecar_spark.operators.cdxj import sidecar_to_cdxj
    from warc_metadata_sidecar_spark.sources.cdxj_text import write_cdxj

    spark = build_session("cdxj-cli", cpus=args.cpus)
    side = spark.read.parquet(os.path.join(args.sidecar_path, "rows"))
    write_cdxj(sidecar_to_cdxj(side), os.path.join(args.archive_dir, "cdxj"))


def cmd_merge(args) -> None:
    from warc_metadata_sidecar_spark.operators.cdxj import merge_cdxj, merge_counters
    from warc_metadata_sidecar_spark.sources.cdxj_text import read_cdxj, write_cdxj

    log = _run_log(args.cdxj_dir, "merge_cdxj")
    t0 = time.time()
    spark = build_session("merge-cli", cpus=args.cpus)
    log.info(
        "Logging CDXJ merge information for %s and %s",
        args.warc_cdxj,
        args.metadata_cdxj,
    )
    meta = read_cdxj(spark, args.metadata_cdxj)
    orig = read_cdxj(spark, args.warc_cdxj)
    # canonicalize_json: the reference CLI always re-dumps the original JSON
    # block (merge_cdxj.py:75-77), so the file-level tool matches its bytes
    merged = merge_cdxj(orig, meta, canonicalize_json=True)
    out = os.path.join(args.cdxj_dir, "merged")
    write_cdxj(merged.select("line_id", "urlkey", "ts", "json"), out)
    counts = merge_counters(merged).first()
    log.info("Total merged records: %s", counts.edited_count)
    log.info("Total unmerged records: %s", counts.non_edited_count)
    log.info("Elapsed: %.3fs", time.time() - t0)
    print(f"Total merged records: {counts.edited_count}")


def cmd_crawl(args) -> None:
    from warc_metadata_sidecar_spark import gen
    from warc_metadata_sidecar_spark.frontier.crawl import run_crawl

    spark = build_session("crawl-cli", cpus=args.cpus)
    docs = spark.read.parquet(args.documents_path)
    seeds = gen.seed_frontier(spark, n_seeds=args.seeds)
    robots = gen.robots(spark, 50)
    result = run_crawl(
        spark,
        docs,
        seeds,
        robots,
        rounds=args.rounds,
        universe=docs.count(),
        default_budget=args.budget,
        out_dir=args.out_dir,
        annotate=True,
        # the 100 TB seen layout: exchange-free anti-join + O(delta)
        # checkpoints (BENCH/SEEN.md)
        bucketed_seen=True,
        discovery=args.discovery,
        edge_kinds=tuple(args.edge_kinds.split(",")),
    )
    for m in result.lineage:
        print(
            f"round={m.round} candidates={m.candidates} selected={m.selected} "
            f"fetched={m.fetched} links={m.new_links} seen={m.seen_after}"
        )


def cmd_curate(args) -> None:
    """Training-data curation pipeline over a documents parquet dir:
    exact dedup -> optional paragraph dedup -> opt-in quality gates
    (Gopher / C4) -> optional temperature sampling -> shard-partitioned
    parquet + manifest. Every stage is a SURVEY §2c module — the CLI is
    composition only. Gates are opt-in because they are calibrated for
    English prose (COVERAGE.md): on non-prose corpora they drop nearly
    everything, which is correct behavior but rarely what a smoke run
    wants."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from warc_metadata_sidecar_spark.functions.text import fingerprint_col
    from warc_metadata_sidecar_spark.operators.dedup import paragraph_dedup
    from warc_metadata_sidecar_spark.operators.quality import (
        c4_signals,
        document_signals,
    )
    from warc_metadata_sidecar_spark.operators.sampling import temperature_sample
    from warc_metadata_sidecar_spark.operators.shards import write_shards

    log = _run_log(args.out_dir, "curate")
    t0 = time.time()
    spark = build_session("curate-cli", cpus=args.cpus)
    docs = spark.read.parquet(args.documents_path)
    n_read = docs.count()
    log.info("Curating %s (%d documents)", args.documents_path, n_read)

    cur = docs
    n_block = n_read
    if args.blocklist:
        # URL gate FIRST — cheapest filter, runs before any content work
        # (frontier/urlfilter: per-depth broadcast suffix joins, corpus
        # stays map-side)
        from warc_metadata_sidecar_spark.frontier.urlfilter import blocklist_filter

        if "url" not in cur.columns:
            raise SystemExit("--blocklist needs a url column in the input")
        bl = spark.read.text(args.blocklist).select(
            F.trim(F.col("value")).alias("domain")
        ).where(F.col("domain") != "")
        words = tuple(w for w in (args.block_words or "").split(",") if w)
        cur = (
            blocklist_filter(cur, bl, words)
            .where("keep")
            .drop("host", "blocked_domain", "blocked_word", "keep")
        )
        n_block = cur.count()
        log.info("Blocklist kept %d of %d", n_block, n_read)

    # exact dedup: first occurrence per normalized fingerprint (window on
    # the content hash — uniform key, one exchange; same discipline as
    # operators/dedup.paragraph_dedup). --normalize-keys canonicalizes
    # (NFC/case/zero-width/whitespace) BEFORE hashing, so surface
    # variants of the same text dedup together.
    key = F.col("text")
    if args.normalize_keys:
        from warc_metadata_sidecar_spark.functions.text import (
            normalize_dedup_key_col,
        )

        key = normalize_dedup_key_col(key)
    w = Window.partitionBy("_fp").orderBy("doc_id")
    cur = (
        cur.withColumn("_fp", fingerprint_col(key))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )
    n_dedup = cur.count()

    if args.paragraph_dedup:
        # a doc whose every paragraph was seen before comes back with
        # text='' — drop it (an empty doc in a training shard is noise,
        # and with the quality gates off nothing else would catch it)
        pd = paragraph_dedup(cur).select("doc_id", "text")
        cur = (
            cur.drop("text")
            .join(pd, "doc_id")
            .where(F.length("text") > 0)
        )

    if args.gopher:
        cur = cur.join(
            document_signals(cur).where("keep").select("doc_id"), "doc_id", "left_semi"
        )
    if args.c4:
        cur = cur.join(
            c4_signals(cur).where("keep").select("doc_id"), "doc_id", "left_semi"
        )
    n_quality = cur.count() if (args.gopher or args.c4) else n_dedup

    if args.dsir_k:
        from warc_metadata_sidecar_spark.operators.sampling import dsir_select

        from pyspark.sql import functions as F2

        target = cur.filter(F2.col("lang") == args.dsir_target_lang)
        sel = dsir_select(cur, target, k=args.dsir_k)
        cur = cur.join(
            sel.where("selected").select("doc_id"), "doc_id", "left_semi"
        )

    if args.budget:
        cur = temperature_sample(
            cur, stratum_col=args.stratum, alpha=args.alpha, budget=args.budget
        )

    out_path = os.path.join(args.out_dir, "curated")
    manifest = write_shards(cur, out_path, n_shards=args.shards)
    rows = sorted(manifest.collect(), key=lambda r: r.shard)
    n_out = sum(r.n_docs for r in rows)
    n_tokens = sum(r.n_tokens for r in rows)
    manifest.repartition(1).write.mode("overwrite").parquet(
        os.path.join(args.out_dir, "manifest")
    )
    for r in rows:
        print(
            f"shard={r.shard} docs={r.n_docs} tokens={r.n_tokens} "
            f"checksum={r.checksum}"
        )
    print(
        f"read={n_read} after_blocklist={n_block} after_dedup={n_dedup} "
        f"after_quality={n_quality} written={n_out} tokens={n_tokens}"
    )
    log.info(
        "Wrote %d docs (%d tokens) in %d shards to %s", n_out, n_tokens,
        args.shards, out_path,
    )
    log.info("Processed in %f seconds.", time.time() - t0)


def cmd_wet(args) -> None:
    """Extracted-text WET export: documents parquet -> one .wet.gz of
    conversion records per source file (sources/warc_export.export_wet),
    written executor-side."""
    from warc_metadata_sidecar_spark.sources.warc_export import (
        export_wet,
        write_wet_files,
    )

    log = _run_log(args.out_dir, "wet")
    t0 = time.time()
    spark = build_session("wet-cli", cpus=args.cpus)
    docs = spark.read.parquet(args.documents_path)
    exported = export_wet(docs).localCheckpoint(eager=True)
    write_wet_files(exported, args.out_dir)
    rows = sorted(exported.drop("warc_bytes").collect(), key=lambda r: r.wet_file)
    for r in rows:
        print(
            f"wet={r.wet_file} records={r.n_records} text_bytes={r.text_bytes}"
        )
    print(
        f"files={len(rows)} records={sum(r.n_records for r in rows)} "
        f"text_bytes={sum(r.text_bytes for r in rows)}"
    )
    log.info("Processed in %f seconds.", time.time() - t0)


def cmd_curate_media(args) -> None:
    """Media-side curation: fingerprint every blob in ONE decode scan
    (image dHash or audio energy bands, operators/afp.media_hashes),
    cluster near-dups PER KIND (cross-kind pairs are meaningless — the
    bit layouts are unrelated), keep one representative per cluster, and
    write decisions + the surviving refs. Undecodable blobs pass through
    as their own keepers (corrupt payloads are data at crawl scale; a
    later pipeline stage decides their fate, not the dedup)."""
    from pyspark.sql import functions as F

    from warc_metadata_sidecar_spark.operators.afp import media_hashes
    from warc_metadata_sidecar_spark.operators.phash import media_dedup_keep

    log = _run_log(args.out_dir, "curate-media")
    t0 = time.time()
    spark = build_session("curate-media-cli", cpus=args.cpus)
    media = spark.read.parquet(args.media_path)
    n_read = media.count()
    log.info("Fingerprinting %s (%d blobs)", args.media_path, n_read)

    hashes = media_hashes(media).localCheckpoint(eager=True)
    parts = []
    for kind in ("image", "audio"):
        sub = hashes.filter(F.col("kind") == kind)
        parts.append(
            media_dedup_keep(
                sub, max_hamming=args.max_hamming, max_bucket=args.max_bucket
            ).withColumn("kind", F.lit(kind))
        )
    undec = hashes.filter(F.col("kind").isNull()).select(
        "media_ref",
        F.col("media_ref").alias("cluster_id"),
        F.lit(1).cast("long").alias("cluster_size"),
        F.lit(True).alias("keep"),
        F.lit(None).cast("string").alias("kind"),
    )
    decisions = parts[0].unionByName(parts[1]).unionByName(undec)
    decisions.repartition(1).write.mode("overwrite").parquet(
        os.path.join(args.out_dir, "decisions")
    )
    kept = decisions.filter("keep")
    kept.select("media_ref", "kind").repartition(1).write.mode("overwrite").parquet(
        os.path.join(args.out_dir, "kept")
    )
    stats = {
        r["kind"]: (r["n"], r["n_keep"])
        for r in decisions.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("int")).alias("n_keep"),
        )
        .collect()
    }
    for kind in ("image", "audio", None):
        n, n_keep = stats.get(kind, (0, 0))
        print(f"kind={kind or 'undecodable'} blobs={n} kept={n_keep}")
    n_kept = kept.count()
    print(f"read={n_read} kept={n_kept} dropped={n_read - n_kept}")
    log.info("Kept %d of %d blobs.", n_kept, n_read)
    log.info("Processed in %f seconds.", time.time() - t0)


def main() -> None:
    p = argparse.ArgumentParser(prog="warc_metadata_sidecar_spark")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("sidecar")
    s.add_argument("archive_dir")
    s.add_argument("documents_path")
    s.add_argument("--media", default=None)
    s.add_argument("--operator", default=None)
    s.add_argument(
        "--publisher", default="University of North Texas - Digital Projects Unit"
    )
    s.add_argument(
        "--emit-warc",
        action="store_true",
        help="also render byte-form .warc.meta.gz sidecar files (SNK1)",
    )
    s.set_defaults(fn=cmd_sidecar)

    c = sub.add_parser("cdxj")
    c.add_argument("sidecar_path")
    c.add_argument("archive_dir")
    c.set_defaults(fn=cmd_cdxj)

    m = sub.add_parser("merge")
    m.add_argument("-m", "--metadata_cdxj", required=True)
    m.add_argument("-w", "--warc_cdxj", required=True)
    m.add_argument("-d", "--cdxj_dir", required=True)
    m.set_defaults(fn=cmd_merge)

    cr = sub.add_parser("crawl")
    cr.add_argument("documents_path")
    cr.add_argument("out_dir")
    cr.add_argument("--rounds", type=int, default=3)
    cr.add_argument("--budget", type=int, default=2)
    cr.add_argument("--seeds", type=int, default=20)
    cr.add_argument(
        "--discovery",
        choices=("synthetic", "hrefs"),
        default="synthetic",
        help="link discovery: the deterministic synthetic model (simulator-"
        "reproducible schedule) or real href extraction + RFC 3986 "
        "resolution from fetched page text (ingested corpora)",
    )
    cr.add_argument(
        "--edge-kinds",
        default="href",
        help="comma list of discovery surfaces for --discovery hrefs: "
        "href,src,srcset,meta_refresh (default href)",
    )
    cr.set_defaults(fn=cmd_crawl)

    cu = sub.add_parser("curate")
    cu.add_argument("documents_path")
    cu.add_argument("out_dir")
    cu.add_argument("--shards", type=int, default=8)
    cu.add_argument(
        "--paragraph-dedup",
        action="store_true",
        help="also run corpus-wide paragraph-level exact dedup (rewrites text)",
    )
    cu.add_argument(
        "--blocklist", default=None,
        help="text file of blocked registrable domain suffixes (UT1 "
        "shape); needs a url column in the input",
    )
    cu.add_argument(
        "--block-words", default=None,
        help="comma list of blocked path keywords (with --blocklist)",
    )
    cu.add_argument(
        "--normalize-keys", action="store_true",
        help="canonicalize text (NFC/case/zero-width/whitespace) before "
        "the exact-dedup fingerprint",
    )
    cu.add_argument("--gopher", action="store_true", help="Gopher document gate")
    cu.add_argument("--c4", action="store_true", help="C4 page gate")
    cu.add_argument(
        "--budget", type=int, default=None,
        help="temperature-sample down to ~N docs (XLM-R mixture rule)",
    )
    cu.add_argument("--stratum", default="lang")
    cu.add_argument("--alpha", type=float, default=0.5)
    cu.add_argument(
        "--dsir-k", type=int, default=None,
        help="keep only the top-K docs by DSIR importance weight toward "
        "--dsir-target-lang's distribution",
    )
    cu.add_argument("--dsir-target-lang", default="en")
    cu.set_defaults(fn=cmd_curate)

    cm = sub.add_parser("curate-media")
    cm.add_argument("media_path")
    cm.add_argument("out_dir")
    cm.add_argument("--max-hamming", type=int, default=3)
    cm.add_argument(
        "--max-bucket", type=int, default=1000,
        help="drop degenerate fingerprint buckets larger than this "
        "(solid-color/silent masses; None-equivalent: a huge value)",
    )
    cm.set_defaults(fn=cmd_curate_media)

    we = sub.add_parser("wet")
    we.add_argument("documents_path")
    we.add_argument("out_dir")
    we.set_defaults(fn=cmd_wet)

    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
