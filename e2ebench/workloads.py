"""The two workloads: archive and crawl.

Each workload drives the engine only through its public module functions and
exposes the same steps to the runner:

  generate()          seeded inputs, cached; never timed
  stage(spark)        per-session input staging; part of setup_s
  warm(spark)         warm-up outside the measured region: a pass (archive) or round 0 (crawl)
  run(spark, i)       measured pass i -> Pass
  check(spark)        output checks of the measured passes -> (failed ops, messages)
  trace(spark)        one decomposed pass -> per-layer metrics
  close()             stop anything still running (streaming queries)

A pass's timed walls cover only calls into the engine; bookkeeping (counting
rows from parquet footers, checks) runs between the timed calls.
"""

from __future__ import annotations

import collections
import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import inputs


@dataclass
class Pass:
    walls: list[float]  # timed engine calls; their sum is the pass wall
    latencies: list[float]  # latency samples (pass, round or batch walls)
    units: int  # work units completed (records, URLs, documents)
    ops: int  # operations attempted (passes, rounds, batches)
    info: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU of the process tree over the pass, set by the runner


def _parquet_rows(path: str) -> int:
    files = glob.glob(os.path.join(path, "*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _du_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _text_lines(path: str) -> list[str]:
    lines: list[str] = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            lines.extend(fh.read().splitlines())
    return lines


def _detector_rows(docs) -> int:
    """Rows the detectors run on: one per distinct payload digest among the
    rows that pass the native filters, plus every digest-less row."""
    from pyspark.sql import functions as F
    from warc_metadata_sidecar_spark.operators.sidecar import base_filters

    kept = base_filters(docs)
    digest = F.col("payload_digest")
    return (
        kept.filter(digest.isNotNull()).select(digest).distinct().count()
        + kept.filter(digest.isNull()).count()
    )


def _group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Timer:
    """Sums wall time per layer name. A traced timer also puts each call's
    jobs in the job group of its layer (the name's first two parts)."""

    def __init__(self, traced: bool = False):
        self.traced = traced
        self.busy: dict[str, float] = collections.defaultdict(float)

    def time(self, spark, layer: str, fn, *args, **kw):
        if self.traced:
            _group(spark, ".".join(layer.split(".")[:2]))
        t0 = time.perf_counter()
        out = fn(*args, **kw)
        self.busy[layer] += time.perf_counter() - t0
        return out


# --------------------------------------------------------------------------
# archive: WARC files arriving one per micro-batch -> ledgered streaming
# sidecar -> sidecar table -> CDXJ -> merged CDXJ


class Archive:
    name = "archive"
    layers = ("sources.warc_ingest", "streaming.sidecar_stream", "operators.sidecar",
              "sources.tables", "sources.cdxj_text", "operators.cdxj")
    trace_run_id = None  # the traced pass's query; its jobs run under this group

    def __init__(self, work: str, seed: int, size: dict):
        self.work, self.seed, self.size = work, seed, size
        self.run_dir = os.path.join(work, "run", "archive")
        self.query = None
        self.outputs: list[tuple[str, str]] = []  # (input dir, output dir)

    def generate(self) -> None:
        s = self.size
        self.slices = [
            inputs.archive_inputs(self.work, self.seed, 0, s["warm_files"],
                                  s["warm_records"], s["text_scale"], s["recrawl"]),
            inputs.archive_inputs(self.work, self.seed, 1, s["files"],
                                  s["file_records"], s["text_scale"], s["recrawl"]),
        ]

    def stage(self, spark) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.staged = []
        for k, src in enumerate(self.slices):
            dst = os.path.join(self.run_dir, f"in-{k}")
            shutil.copytree(src, dst)
            self.staged.append(dst)
        self.outputs = []

    def _pass(self, spark, src: str, out: str, timer: Timer | None = None) -> Pass:
        """One pass. A streaming sidecar query with a digest ledger starts on
        empty directories; each WARC file in turn is ingested, its documents
        dropped into the query's input directory, and the batch awaited with
        processAllAvailable(). Then the sink is written as the sidecar table,
        indexed to CDXJ and merged into the original CDXJ. With a timer,
        each layer's output is materialized at its boundary."""
        from warc_metadata_sidecar_spark.operators.cdxj import merge_cdxj, sidecar_to_cdxj
        from warc_metadata_sidecar_spark.sources.cdxj_text import read_cdxj, write_cdxj
        from warc_metadata_sidecar_spark.sources.tables import write_sidecar
        from warc_metadata_sidecar_spark.sources.warc_ingest import ingest_warc_files
        from warc_metadata_sidecar_spark.streaming.sidecar_stream import start_sidecar_stream

        timer = timer or Timer()
        in_dir, sink = os.path.join(out, "in"), os.path.join(out, "sink")
        os.makedirs(in_dir)
        t0 = time.perf_counter()
        self.query = start_sidecar_stream(
            spark, in_dir, sink, os.path.join(out, "checkpoint"),
            ledger_dir=os.path.join(out, "ledger"),
        )
        walls = [time.perf_counter() - t0]
        run_id = str(self.query.runId)
        warcs = sorted(glob.glob(os.path.join(src, "warc", "*.warc.gz")))
        batches = []
        try:
            for b, warc in enumerate(warcs):
                drop = os.path.join(out, "drops", f"{b:03d}")
                t0 = time.perf_counter()
                timer.time(
                    spark, "sources.warc_ingest",
                    lambda: ingest_warc_files(spark, warc).write.parquet(drop),
                )
                for f in glob.glob(os.path.join(drop, "part-*.parquet")):
                    os.rename(f, os.path.join(in_dir, f"{b:03d}-{os.path.basename(f)}"))
                self.query.processAllAvailable()
                batches.append(time.perf_counter() - t0)
        finally:
            t0 = time.perf_counter()
            query, self.query = self.query, None
            query.stop()
            walls.append(time.perf_counter() - t0)
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")

        original = os.path.join(src, "original.cdxj")
        t0 = time.perf_counter()
        timer.time(
            spark, "sources.tables", write_sidecar,
            spark.read.parquet(sink), os.path.join(out, "sidecar"), "crawl.warc.gz",
        )
        rows = spark.read.parquet(os.path.join(out, "sidecar", "rows"))
        timer.time(
            spark, "operators.cdxj.index",
            lambda: write_cdxj(sidecar_to_cdxj(rows), os.path.join(out, "cdxj")),
        )
        if timer.traced:
            timer.time(
                spark, "sources.cdxj_text",
                lambda: (_noop(read_cdxj(spark, original)),
                         _noop(read_cdxj(spark, os.path.join(out, "cdxj")))),
            )
        timer.time(
            spark, "operators.cdxj.merge",
            lambda: write_cdxj(
                merge_cdxj(
                    read_cdxj(spark, original), read_cdxj(spark, os.path.join(out, "cdxj")),
                    canonicalize_json=True,
                ).select("line_id", "urlkey", "ts", "json"),
                os.path.join(out, "merged"),
            ),
        )
        walls.append(time.perf_counter() - t0)
        walls += batches
        return Pass(walls, batches, self._lines(src), len(batches) + 1, {"run_id": run_id})

    def _lines(self, src: str) -> int:
        with open(os.path.join(src, "original.cdxj")) as f:
            return sum(1 for _ in f)

    def warm(self, spark) -> None:
        _group(spark, "archive.warm")
        self._pass(spark, self.staged[0], os.path.join(self.run_dir, "warm"))

    def run(self, spark, i: int) -> Pass:
        src = self.staged[1]
        out = os.path.join(self.run_dir, f"out-{i}")
        _group(spark, "archive.pass")
        p = self._pass(spark, src, out)
        self.outputs.append((src, out))
        return p

    def _check_stream(self, spark, out: str) -> list[str]:
        """The sink's rows equal sidecar_rows over every batch's documents
        run as one batch."""
        from pyspark.sql import functions as F
        from warc_metadata_sidecar_spark import schema
        from warc_metadata_sidecar_spark.operators.sidecar import sidecar_rows

        def as_json(df):
            cols = sorted(df.columns)
            return collections.Counter(
                r[0] for r in df.select(F.to_json(F.struct(*cols))).collect()
            )

        want = as_json(sidecar_rows(
            spark.read.schema(schema.DOCUMENTS).parquet(os.path.join(out, "in"))
        ))
        got = as_json(spark.read.parquet(os.path.join(out, "sink")))
        if got != want:
            return [f"sink differs from one-batch sidecar_rows "
                    f"({sum(got.values())} vs {sum(want.values())} rows)"]
        return []

    def _check_cdxj(self, src: str, out: str) -> tuple[list[str], int]:
        """Merged lines carry the original lines' keys in the original order;
        lines without a sidecar key are byte-identical. Returns the failures
        and the expected edited count (original keys the sidecar covers)."""
        with open(os.path.join(src, "original.cdxj")) as f:
            orig = f.read().splitlines()
        merged = _text_lines(os.path.join(out, "merged"))
        side = _text_lines(os.path.join(out, "cdxj"))
        side_keys = collections.Counter(tuple(line.split(" ", 2)[:2]) for line in side)
        errors = []
        if not side:
            errors.append("empty sidecar CDXJ")
        if len(merged) != len(orig):
            errors.append(f"merged has {len(merged)} lines, original {len(orig)}")
        for o, m in zip(orig, merged):
            ko, km = o.split(" ", 2), m.split(" ", 2)
            if ko[:2] != km[:2]:
                errors.append(f"merged key {km[:2]} where original has {ko[:2]}")
                break
            if tuple(ko[:2]) not in side_keys and o != m:
                errors.append(f"unmatched line changed: {o!r} -> {m!r}")
                break
        orig_keys = {tuple(line.split(" ", 2)[:2]) for line in orig}
        edited = sum(n for k, n in side_keys.items() if k in orig_keys)
        return errors, edited

    def _check_one(self, spark, src: str, out: str) -> list[str]:
        from warc_metadata_sidecar_spark.operators.cdxj import merge_cdxj, merge_counters
        from warc_metadata_sidecar_spark.sources.cdxj_text import read_cdxj

        _group(spark, "archive.check")
        errors = self._check_stream(spark, out)
        cdxj_errors, edited = self._check_cdxj(src, out)
        counts = merge_counters(
            merge_cdxj(read_cdxj(spark, os.path.join(src, "original.cdxj")),
                       read_cdxj(spark, os.path.join(out, "cdxj")))
        ).first()
        if counts.edited_count != edited or edited == 0:
            cdxj_errors.append(f"edited {counts.edited_count}, expected {edited}")
        return errors + cdxj_errors

    def check(self, spark) -> tuple[int, list[str]]:
        """(failed operations, messages): a pass whose outputs fail counts
        all its operations as failed."""
        failed, messages = 0, []
        for src, out in self.outputs:
            errors = self._check_one(spark, src, out)
            failed += self.size["files"] + 1 if errors else 0
            messages += errors
        return failed, messages

    def trace(self, spark) -> dict:
        """One pass with each layer timed from outside: ingest, the sidecar
        table, the CDXJ reads, index and merge through the timer, and three
        of the stream module's calls wrapped: the ledger split (its two
        outputs materialized to the noop sink and counted), the detector path
        (sidecar_rows, materialized by a local checkpoint the batch then
        reuses) and compaction."""
        from warc_metadata_sidecar_spark.streaming import sidecar_stream as ss

        counts = collections.Counter()
        timer = Timer(traced=True)
        split, rows, compact = ss.split_by_ledger, ss.sidecar_rows, ss.compact_ledger

        def traced_split(batch_df, known):
            served, fresh = split(batch_df, known)
            t0 = time.perf_counter()
            counts["served"] += served.count()
            _noop(fresh)
            timer.busy["streaming.split"] += time.perf_counter() - t0
            return served, fresh

        def traced_rows(docs, media=None):
            counts["detected"] += _detector_rows(docs)
            t0 = time.perf_counter()
            out = rows(docs, media).localCheckpoint(eager=True)
            timer.busy["operators.sidecar"] += time.perf_counter() - t0
            return out

        def traced_compact(*args, **kw):
            t0 = time.perf_counter()
            done = compact(*args, **kw)
            timer.busy["streaming.compact"] += time.perf_counter() - t0
            counts["compactions"] += bool(done)
            return done

        src, out = self.staged[1], os.path.join(self.run_dir, "trace")
        ss.split_by_ledger, ss.sidecar_rows, ss.compact_ledger = (
            traced_split, traced_rows, traced_compact
        )
        try:
            t0 = time.perf_counter()
            p = self._pass(spark, src, out, timer)
            wall = time.perf_counter() - t0
        finally:
            ss.split_by_ledger, ss.sidecar_rows, ss.compact_ledger = split, rows, compact
        self.trace_run_id = p.info["run_id"]
        _group(spark, "archive.check")
        docs = _parquet_rows(os.path.join(out, "in"))
        errors = self._check_one(spark, src, out)
        _, edited = self._check_cdxj(src, out)
        lines = len(_text_lines(os.path.join(out, "merged")))
        ledger = os.path.join(out, "ledger")
        b = timer.busy
        b["streaming.sidecar_stream"] = b["streaming.split"] + b["streaming.compact"]
        b["operators.cdxj"] = b["operators.cdxj.index"] + b["operators.cdxj.merge"]
        return {
            "wall": wall,
            "busy": sum(b[k] for k in self.layers),
            "errors": errors,
            "metrics": {
                "sources.warc_ingest.busy_s": b["sources.warc_ingest"],
                "sources.warc_ingest.records_out": docs,
                "operators.sidecar.busy_s": b["operators.sidecar"],
                "operators.sidecar.records_in": docs,
                "operators.sidecar.records_out": _parquet_rows(os.path.join(out, "sink")),
                # against every streamed document: the ledger's savings show
                "operators.sidecar.detect_ratio": counts["detected"] / max(docs, 1),
                "sources.tables.busy_s": b["sources.tables"],
                "sources.tables.bytes_written": _du_bytes(os.path.join(out, "sidecar")),
                "sources.cdxj_text.busy_s": b["sources.cdxj_text"],
                "operators.cdxj.index_busy_s": b["operators.cdxj.index"],
                "operators.cdxj.merge_busy_s": b["operators.cdxj.merge"],
                "operators.cdxj.lines_out": lines,
                "operators.cdxj.merged_ratio": edited / max(lines, 1),
                "streaming.sidecar_stream.split_busy_s": b["streaming.split"],
                "streaming.sidecar_stream.hit_ratio": counts["served"] / max(docs, 1),
                "streaming.sidecar_stream.compact_busy_s": b["streaming.compact"],
                "streaming.sidecar_stream.compactions": counts["compactions"],
                "streaming.sidecar_stream.ledger_files": sum(
                    1 for f in os.listdir(ledger) if f.endswith(".parquet")
                ),
            },
        }

    def close(self) -> None:
        if self.query is not None:
            query, self.query = self.query, None
            query.stop()


# --------------------------------------------------------------------------
# crawl: resumable frontier rounds, one run_crawl call per round

WIDE_OPEN_ROBOTS = [
    {"host": f"host{h:02d}.example.com", "path_prefix": None, "allowed": True,
     "crawl_delay_s": 1, "budget": 10_000}
    for h in range(50)
]
BUDGET = 2  # the CLI's --budget default; every host has its own budget here


class Crawl:
    name = "crawl"
    layers = ("frontier.canonical", "frontier.seen", "frontier.scheduler", "operators.sidecar")
    trace_run_id = None

    def __init__(self, work: str, seed: int, size: dict):
        self.work, self.seed, self.size = work, seed, size
        self.run_dir = os.path.join(work, "run", "crawl")
        self.out = os.path.join(self.run_dir, "crawl")
        self.universe = 2 * size["docs"]
        self.lineage: list = []  # lineage line of every round run so far
        self.walls: list[float] = []  # wall of every round run so far

    def generate(self) -> None:
        s = self.size
        self.docs_src = inputs.crawl_docs(self.work, s["docs"])
        self.seed_urls = inputs.crawl_seed_urls(self.seed, s["docs"], s["seeds"])

    def stage(self, spark) -> None:
        from warc_metadata_sidecar_spark import schema

        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        docs_path = os.path.join(self.run_dir, "docs.parquet")
        shutil.copy(self.docs_src, docs_path)
        self.docs = spark.read.parquet(docs_path)
        self.robots = spark.createDataFrame(WIDE_OPEN_ROBOTS, schema.ROBOTS)
        self.lineage, self.walls = [], []

    def _seeds(self, spark):
        from warc_metadata_sidecar_spark import schema

        rows = [
            {"url": u, "canonical_url": None, "host": None, "host_salt": None,
             "priority": None, "discovery_round": 0, "seq": k, "parent_url": None}
            for k, u in enumerate(self.seed_urls)
        ]
        return spark.createDataFrame(rows, schema.FRONTIER)

    def _round(self, spark) -> Pass:
        """The crawl's next round: one run_crawl call resuming from the
        previous rounds' checkpoints in `out`."""
        from warc_metadata_sidecar_spark.frontier.crawl import run_crawl

        r = len(self.lineage)
        seeds = self._seeds(spark)
        _group(spark, "frontier.crawl")
        t0 = time.perf_counter()
        m = run_crawl(
            spark, self.docs, seeds, self.robots, rounds=r + 1,
            universe=self.universe, default_budget=BUDGET, out_dir=self.out,
            annotate=True, bucketed_seen=True,
        ).lineage[-1]
        wall = time.perf_counter() - t0
        self.lineage.append(m)
        self.walls.append(wall)
        units = m.selected + _parquet_rows(os.path.join(self.out, f"round={r}", "annotated"))
        return Pass([wall], [wall], units, 1)

    def warm(self, spark) -> None:
        """Round 0 of the measured crawl: a separate warm-up crawl would not
        fit the run budget (README)."""
        self._round(spark)

    def run(self, spark, i: int) -> Pass:
        return self._round(spark)

    def check(self, spark) -> tuple[int, list[str]]:
        """Schedule and seen set of every round equal the single-threaded
        simulator's; a mismatch fails every measured round."""
        from warc_metadata_sidecar_spark.frontier.simulator import simulate_crawl

        rounds = len(self.lineage)
        docs = pq.read_table(self.docs_src, columns=["url"]).column("url").to_pylist()
        want_sched, want_seen = simulate_crawl(
            self.seed_urls, set(docs), WIDE_OPEN_ROBOTS, rounds=rounds,
            universe=self.universe, default_budget=BUDGET,
        )
        got_sched = []
        for r in range(rounds):
            t = pq.read_table(os.path.join(self.out, f"round={r}", "schedule"),
                              columns=["canonical_url"])
            got_sched += [(r, u) for u in t.column("canonical_url").to_pylist()]
        got_seen = set(
            pq.read_table(os.path.join(self.out, "seen_table"), columns=["canonical_url"])
            .column("canonical_url").to_pylist()
        )
        errors = []
        if sorted(got_sched) != sorted(want_sched):
            errors.append(f"schedule differs from the simulator ({len(got_sched)} vs {len(want_sched)})")
        if got_seen != want_seen:
            errors.append(f"seen set differs from the simulator ({len(got_seen)} vs {len(want_seen)})")
        return (rounds - 1 if errors else 0), errors

    def trace(self, spark) -> dict:
        """The frontier layers' public functions and the round's annotation,
        re-run for every round of the crawl against that round's input state
        read back from the checkpoints. The rounds themselves are not re-run:
        the traced pass is the replays."""
        from pyspark.sql import functions as F
        from warc_metadata_sidecar_spark.frontier import seen as seen_mod
        from warc_metadata_sidecar_spark.frontier.canonical import canonicalize
        from warc_metadata_sidecar_spark.frontier.scheduler import rank_round
        from warc_metadata_sidecar_spark.operators.sidecar import sidecar_rows

        scratch = os.path.join(self.run_dir, "trace_scratch")
        timer = Timer(traced=True)
        counts = collections.Counter()
        seen_tbl = seen_mod.create_seen_bucketed(spark, os.path.join(scratch, "seen_table"))

        def ckpt(r: int, name: str) -> str:
            return os.path.join(self.out, f"round={r}", name)

        def replay(r: int) -> None:
            raw = self._seeds(spark) if r == 0 else spark.read.parquet(ckpt(r - 1, "frontier"))
            cand_dir = os.path.join(scratch, f"cand-{r}")
            canon_dir = os.path.join(scratch, f"canon-{r}")
            timer.time(
                spark, "frontier.canonical",
                lambda: canonicalize(raw).write.mode("overwrite").parquet(canon_dir),
            )
            frontier = spark.read.parquet(canon_dir)
            if r == 0:
                seen_before = spark.createDataFrame([], "canonical_url string, first_round int")
            else:
                seen_before = spark.read.parquet(*[ckpt(k, "seen_delta") for k in range(r)])
            filters = spark.read.parquet(ckpt(r - 1, "filters")) if r else None

            def probe():
                bloom = seen_mod.load_sharded(filters) if filters is not None else None
                seen_mod.filter_new(spark, frontier, seen_before, bloom).write.mode(
                    "overwrite").parquet(cand_dir)

            timer.time(spark, "frontier.seen", probe)
            cands = spark.read.parquet(cand_dir)
            ranked = timer.time(
                spark, "frontier.scheduler",
                lambda: rank_round(cands, self.robots, BUDGET, round_no=r, prune_salts=16)
                .localCheckpoint(eager=True),
            )
            _group(spark, "crawl.check")
            counts["frontier"] += _parquet_rows(canon_dir)
            counts["candidates"] += _parquet_rows(cand_dir)
            counts["selected"] += ranked.filter(F.col("scheduled")).count()
            # the round's annotation: sidecar rows of the scheduled pages
            # that exist in the corpus
            fetched = self.docs.join(
                spark.read.parquet(ckpt(r, "schedule")).select("url").distinct(), "url", "left_semi"
            ).localCheckpoint(eager=True)
            ann_dir = os.path.join(scratch, f"ann-{r}")
            timer.time(
                spark, "operators.sidecar",
                lambda: sidecar_rows(fetched).write.mode("overwrite").parquet(ann_dir),
            )
            _group(spark, "crawl.check")
            counts["sidecar_in"] += fetched.count()
            counts["sidecar_out"] += _parquet_rows(ann_dir)
            counts["detected"] += _detector_rows(fetched)
            delta = spark.read.parquet(ckpt(r, "seen_delta"))
            t0 = time.perf_counter()
            timer.time(
                spark, "frontier.seen",
                lambda: _noop(seen_mod.update_filter_shards(spark, delta, filters)),
            )
            timer.time(spark, "frontier.seen", seen_mod.append_seen_bucketed, delta, seen_tbl)
            timer.busy["frontier.seen.update"] += time.perf_counter() - t0

        t0 = time.perf_counter()
        for r in range(len(self.lineage)):
            replay(r)
        wall = time.perf_counter() - t0
        lineage = self.lineage
        selected = sum(m.selected for m in lineage)
        b = timer.busy
        return {
            "wall": wall,
            "busy": sum(b[k] for k in self.layers),
            "errors": [],
            "metrics": {
                "operators.sidecar.busy_s": b["operators.sidecar"],
                "operators.sidecar.records_in": counts["sidecar_in"],
                "operators.sidecar.records_out": counts["sidecar_out"],
                "operators.sidecar.detect_ratio": counts["detected"] / max(counts["sidecar_in"], 1),
                "frontier.canonical.busy_s": b["frontier.canonical"],
                "frontier.seen.busy_s": b["frontier.seen"] - b["frontier.seen.update"],
                "frontier.seen.new_ratio": counts["candidates"] / max(counts["frontier"], 1),
                "frontier.seen.seen_after": lineage[-1].seen_after,
                "frontier.seen.update_busy_s": b["frontier.seen.update"],
                "frontier.scheduler.busy_s": b["frontier.scheduler"],
                "frontier.scheduler.selected_ratio": counts["selected"] / max(counts["candidates"], 1),
                "frontier.crawl.ckpt_mb": _du_bytes(self.out) / 2**20 / len(lineage),
                "frontier.crawl.fetch_ratio": sum(m.fetched for m in lineage) / max(selected, 1),
                "frontier.crawl.skew": max(
                    m.max_partition_rows / max(m.min_partition_rows, 1) for m in lineage
                ),
                "frontier.crawl.round_first_s": self.walls[0],
                "frontier.crawl.round_last_s": self.walls[-1],
            },
        }

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (Archive, Crawl)}
