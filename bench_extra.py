"""Per-query isolation harness for the r08 optimization round (guide §1).

NOT the driver bench (bench.py is frozen): this file exists to
  - time individual queries with the noop sink (guide §1.4) so the
    computation is measured, not the sink or the driver collect;
  - dump .explain("formatted") into plans/r08/<query>_{before,after}.txt;
  - run A/B comparisons while iterating.

Usage:
  python bench_extra.py time  <query> [query...]   # noop-sink wall, 3 reps
  python bench_extra.py plan  <query> <suffix>     # write plans/r08/<q>_<suffix>.txt
  python bench_extra.py sweep                      # noop-sink wall for all bench queries
  python bench_extra.py rounds [R] [seed]          # wall, job wall, Spark jobs, py4j commands per crawl round
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from warc_metadata_sidecar_spark import driver_queries  # noqa: E402
from warc_metadata_sidecar_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


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
    spark = build_session(app_name="bench_extra", cpus=CPUS, shuffle_partitions=CPUS)
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
    elif mode == "time":
        for name in sys.argv[2:]:
            fn = qs[name]
            walls = []
            for _ in range(REPS):
                spark.sparkContext.setJobDescription(f"bench_extra:{name}")
                t0 = time.time()
                _noop(fn(spark, SF_DIR))
                walls.append(round(time.time() - t0, 3))
            print(f"{name}: {walls} min={min(walls)}")
    elif mode == "count":
        # bench.py's own sink (.count()) — the driver-graded methodology:
        # count() prunes unreferenced output columns and drops the final
        # sort, so walls here are the ones bench.py actually sees.
        for name in sys.argv[2:]:
            fn = qs[name]
            walls = []
            for _ in range(REPS):
                spark.sparkContext.setJobDescription(f"bench_extra:{name}")
                t0 = time.time()
                _ = fn(spark, SF_DIR).count()
                walls.append(round(time.time() - t0, 3))
            print(f"{name}: {walls} min={min(walls)}")
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
