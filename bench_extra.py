"""Per-query isolation harness, next to the frozen bench.py.

It exists to
  - time individual queries with the noop sink, so the computation is
    measured, not the sink or a collect;
  - dump .explain("formatted") into plans/r08/<query>_<suffix>.txt;
  - show how a query's wall and shuffle grow from sf0.01 to sf0.1;
  - count a crawl round's Spark jobs and py4j commands.

Usage:
  python bench_extra.py time   <query> [query...]  # noop-sink walls and shuffle bytes, 3 reps
  python bench_extra.py count  <query> [query...]  # the same with bench.py's count() sink
  python bench_extra.py phases <query> [query...]  # construct / plan / execute per rep
  python bench_extra.py plan   <query> <suffix>    # write plans/r08/<q>_<suffix>.txt
  python bench_extra.py scale  [query...]          # `time` at sf0.01 and $SPARK_GRAFT_SF_DIR, with ratios
  python bench_extra.py sweep                      # noop-sink wall for all bench queries
  python bench_extra.py rounds [R] [seed]          # wall, job wall, Spark jobs, py4j commands per crawl round

`scale` without names runs SCALE_QUERIES.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from warc_metadata_sidecar_spark import driver_queries  # noqa: E402
from warc_metadata_sidecar_spark.frontier.crawl import shuffle_totals  # noqa: E402
from warc_metadata_sidecar_spark.session import DEFAULT_CPUS, build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))

# The operators whose 20x/200x growth on 32 cores BENCH/NEWOPS{2,3,4,6,7}.md
# record, by their queries() names.
SCALE_QUERIES = (
    "paragraph_dedup", "dsir_select", "classifier_train", "semantic_dedup",
    "anchor_texts", "compression_ratio", "lm_backoff", "embedding_sq",
    "image_phash", "audio_fp", "image_neardup",
    "main_content", "trap_flags", "domain_stats", "image_resize",
    "url_blocklist", "postings_build", "cdc_chunks", "cdc_dedup", "crawl_diff",
    "text_normalize", "feed_items", "language_mix", "batch_plan",
    "balanced_shards", "mirror_hosts",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# bench.py's own sink is count(): it prunes unreferenced output columns and
# drops the final sort, so its walls are the ones bench.py sees
SINKS = {"time": _noop, "count": lambda df: df.count()}


def _run(spark, fn, name: str, sf_dir: str, sink) -> tuple[list[float], int]:
    """REPS walls of query `name` at `sf_dir` through `sink`, and the
    shuffle bytes its last rep read. Task metrics reach the status store
    through the listener bus, so the bus is drained before each sample."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    walls = []
    for _ in range(REPS):
        sc.setJobDescription(f"bench_extra:{name}")
        bus.waitUntilEmpty()
        before = shuffle_totals(spark)[0]
        t0 = time.time()
        sink(fn(spark, sf_dir))
        walls.append(round(time.time() - t0, 3))
    bus.waitUntilEmpty()
    return walls, shuffle_totals(spark)[0] - before


def _ratio(a: float, b: float) -> str:
    return f"{b / a:.2f}" if a else "-"


def scale(spark, qs, names) -> None:
    """The noop-sink min wall and shuffle bytes of each query at the oracle
    sf dir and at SF_DIR, their ratios, and the row counts of the two
    inputs the scale operators read."""
    import pyarrow.parquet as pq

    dirs = (driver_queries._oracle_sf_dir(None), SF_DIR)
    small, big = (os.path.basename(d.rstrip("/")) for d in dirs)
    for t in ("documents", "embeddings"):
        a, b = (pq.read_metadata(f"{d}/{t}.parquet").num_rows for d in dirs)
        print(f"{t}: {a:,} -> {b:,} rows ({_ratio(a, b)}x)")
    res = {}
    for d in dirs:  # dirs outermost: the views switch sf dir once
        for name in names:
            walls, shuffle = _run(spark, qs[name], name, d, _noop)
            res[name, d] = min(walls), shuffle
    print(f"| query | wall s {small} | wall s {big} | wall x "
          f"| shuffle B {small} | shuffle B {big} | shuffle x |")
    print("|---|---|---|---|---|---|---|")
    for name in names:
        (w0, s0), (w1, s1) = res[name, dirs[0]], res[name, dirs[1]]
        print(f"| {name} | {w0} | {w1} | {_ratio(w0, w1)} "
              f"| {s0:,} | {s1:,} | {_ratio(s0, s1)} |")


class Py4jTally:
    """Counts the py4j commands the driver sends while active, and the
    seconds spent in those shorter than `short_s`: plan construction and
    analysis are many short round trips, job runs are few long ones."""

    def __init__(self, short_s: float = 0.02):
        self.short_s = short_s
        self.commands = 0
        self.short_total_s = 0.0

    def __enter__(self) -> "Py4jTally":
        from py4j.clientserver import ClientServerConnection

        self._cls, self._orig = ClientServerConnection, ClientServerConnection.send_command
        orig = self._orig

        def send_command(conn, command):
            t0 = time.perf_counter()
            try:
                return orig(conn, command)
            finally:
                dt = time.perf_counter() - t0
                self.commands += 1
                if dt < self.short_s:
                    self.short_total_s += dt

        self._cls.send_command = send_command
        return self

    def __exit__(self, *exc) -> None:
        self._cls.send_command = self._orig


def _job_wall_s(sc, job_ids) -> float:
    """Summed submission-to-completion wall of the given Spark jobs, from the
    driver's status store. Above the round's own wall, jobs overlapped."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    total_ms = 0
    for j in job_ids:
        job = store.job(j)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            total_ms += job.completionTime().get().getTime() - job.submissionTime().get().getTime()
    return total_ms / 1000


def rounds(n_rounds: int = 3, seed: int = 1) -> None:
    """A resumable crawl at the e2ebench crawl sizes (10k documents, 400
    seeds, local[2], 1 GB heap, annotate + bucketed seen + out_dir), one
    run_crawl call per round as the benchmark drives it. Prints each
    round's wall, the summed wall of the Spark jobs in its job group and
    their number, the py4j commands it sent and the seconds spent in those
    under 20 ms."""
    import random
    import shutil
    import tempfile

    from warc_metadata_sidecar_spark import gen, schema
    from warc_metadata_sidecar_spark.frontier.crawl import run_crawl

    n_docs, n_seeds = 10_000, 400
    spark = build_session(
        app_name="bench_extra_rounds", cpus=2,
        extra={"spark.driver.memory": "1g", "spark.driver.extraJavaOptions": "-Xms1g"},
    )
    work = tempfile.mkdtemp(prefix="bench_extra_rounds-")
    try:
        docs_path = os.path.join(work, "docs")
        gen.documents(spark, n_docs).coalesce(1).write.parquet(docs_path)
        docs = spark.read.parquet(docs_path)
        robots = spark.createDataFrame(
            [{"host": f"host{h:02d}.example.com", "path_prefix": None, "allowed": True,
              "crawl_delay_s": 1, "budget": 10_000} for h in range(50)],
            schema.ROBOTS,
        )
        ids = random.Random(seed).sample(range(0, n_docs, 20), n_seeds)
        seeds = spark.createDataFrame(
            [{"url": f"https://host{i % 50:02d}.example.com/page/{i}", "canonical_url": None,
              "host": None, "host_salt": None, "priority": None, "discovery_round": 0,
              "seq": k, "parent_url": None} for k, i in enumerate(ids)],
            schema.FRONTIER,
        )
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        for r in range(n_rounds):
            group = f"rounds.r{r}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            with Py4jTally() as tally:
                m = run_crawl(
                    spark, docs, seeds, robots, rounds=r + 1, universe=2 * n_docs,
                    default_budget=2, out_dir=os.path.join(work, "crawl"),
                    annotate=True, bucketed_seen=True,
                ).lineage[-1]
            wall = time.perf_counter() - t0
            jobs = tracker.getJobIdsForGroup(group)
            print(
                f"round={r} wall_s={wall:.2f} job_wall_s={_job_wall_s(sc, jobs):.2f} "
                f"jobs={len(jobs)} "
                f"py4j={tally.commands} short_s={tally.short_total_s:.2f} "
                f"selected={m.selected} seen_after={m.seen_after}",
                flush=True,
            )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "sweep"
    if mode == "rounds":
        rounds(*(int(a) for a in sys.argv[2:4]))
        return
    spark = build_session(
        app_name="bench_extra", cpus=DEFAULT_CPUS, shuffle_partitions=DEFAULT_CPUS
    )
    qs = driver_queries.queries()
    driver_queries.register_views(spark, SF_DIR)

    if mode == "plan":
        name, suffix = sys.argv[2], sys.argv[3]
        os.makedirs("plans/r08", exist_ok=True)
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = f"plans/r08/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    elif mode in SINKS:
        for name in sys.argv[2:]:
            walls, shuffle = _run(spark, qs[name], name, SF_DIR, SINKS[mode])
            print(f"{name}: {walls} min={min(walls)} shuffle_bytes={shuffle:,}")
    elif mode == "scale":
        scale(spark, qs, sys.argv[2:] or SCALE_QUERIES)
    elif mode == "phases":
        # Cold-cost breakdown per query: construct (driver python + py4j),
        # plan (analysis + optimization + physical planning + AQE prep),
        # execute (count job incl. codegen compile on first run).
        for name in sys.argv[2:]:
            fn = qs[name]
            for rep in range(REPS):
                t0 = time.time()
                df = fn(spark, SF_DIR)
                t1 = time.time()
                df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                _ = df.count()
                t3 = time.time()
                print(
                    f"{name} rep{rep}: construct={t1 - t0:.3f} "
                    f"plan={t2 - t1:.3f} exec={t3 - t2:.3f} total={t3 - t0:.3f}"
                )
    else:  # sweep
        import json

        names = list(dict.fromkeys(
            getattr(__import__("bench"), "HEADLINE") + getattr(__import__("bench"), "EXTENDED")
        ))
        out = {}
        for name in names:
            fn = qs[name]
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            _noop(fn(spark, SF_DIR))
            out[name] = round(time.time() - t0, 3)
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
