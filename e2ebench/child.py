"""One benchmark run of one workload, inside its own process session.

Started by run.py as a session leader. Builds the Spark session, stages and
warms up, measures, checks the outputs, optionally runs the traced pass, and
stops everything it started before it writes its result file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import probes

# Spark task slots. Two of the host's four cores run tasks; the rest stay
# free for the driver JVM's scheduler, JIT and GC threads and the Python
# driver. On a 4-core VM, local[3] and local[4] measured slower.
CPUS = min(2, os.cpu_count() or 1)
HEAP = "1g"  # fixed heap (-Xms = -Xmx) so resident memory does not drift

# input sizes per workload; "tiny" is the smoke test's. `passes` is the
# least number of measured passes: one archive pass (every WARC file of the
# measured slice streamed, then indexed and merged) or one crawl round after
# the warm-up round. On a 4-core host each takes at least twice
# run_seconds, so the count is fixed there and every run measures the same
# work; more do not fit the run budget (README).
SIZES = {
    "full": {
        "archive": {"files": 3, "file_records": 400, "warm_files": 2, "warm_records": 150,
                    "text_scale": 8, "recrawl": 0.5, "passes": 1},
        "crawl": {"docs": 10000, "seeds": 400, "passes": 1},
    },
    "tiny": {
        "archive": {"files": 2, "file_records": 60, "warm_files": 2, "warm_records": 30,
                    "text_scale": 1, "recrawl": 0.5, "passes": 1},
        "crawl": {"docs": 2000, "seeds": 40, "passes": 1},
    },
}

SETUPS = 3  # session builds per run; setup_s takes their median

# one Spark job group per layer, set around each call into it
LAYER_NAMES = (
    "sources.warc_ingest", "operators.sidecar", "sources.tables",
    "sources.cdxj_text", "operators.cdxj",
    "frontier.crawl", "frontier.canonical", "frontier.seen", "frontier.scheduler",
    "streaming.sidecar_stream",
)

# every per-layer metric; a layer a workload does not exercise reads 0
PER_LAYER = [
    "session.build_s", "session.rebuild_s",
    "sources.warc_ingest.busy_s", "sources.warc_ingest.records_out",
    "operators.sidecar.busy_s", "operators.sidecar.records_in",
    "operators.sidecar.records_out", "operators.sidecar.detect_ratio",
    "sources.tables.busy_s", "sources.tables.bytes_written",
    "sources.cdxj_text.busy_s",
    "operators.cdxj.index_busy_s", "operators.cdxj.merge_busy_s",
    "operators.cdxj.lines_out", "operators.cdxj.merged_ratio",
    "frontier.canonical.busy_s",
    "frontier.seen.busy_s", "frontier.seen.new_ratio", "frontier.seen.seen_after",
    "frontier.seen.update_busy_s",
    "frontier.scheduler.busy_s", "frontier.scheduler.selected_ratio",
    "frontier.crawl.ckpt_mb", "frontier.crawl.fetch_ratio", "frontier.crawl.skew",
    "frontier.crawl.round_first_s", "frontier.crawl.round_last_s",
    "streaming.sidecar_stream.split_busy_s", "streaming.sidecar_stream.hit_ratio",
    "streaming.sidecar_stream.compact_busy_s", "streaming.sidecar_stream.compactions",
    "streaming.sidecar_stream.ledger_files", "streaming.sidecar_stream.batch_max_s",
    *[f"spark.{layer}.{m}" for layer in LAYER_NAMES
      for m in ("shuffle_mb", "tasks", "failed_tasks")],
    "host.calib_par_s", "host.steal_cores", "host.ext_busy_cores",
    "trace.overhead_s", "trace.coverage",
]


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def build(conf: dict[str, str]):
    from warc_metadata_sidecar_spark.session import build_session

    return build_session("e2ebench", cpus=CPUS, extra=conf)


def shut_down(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)


def measure(wl, spark, seconds: float, min_passes: int, sid: int) -> dict:
    """Measured passes until `seconds` have elapsed and at least
    `min_passes` have completed."""
    passes, failed, errors = [], 0, []
    rss = probes.RssSampler(sid).start()
    v0, c0 = probes.host_stat(), probes.session_cpu_s(sid)
    t0 = time.perf_counter()
    try:
        while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
            try:
                c = probes.session_cpu_s(sid)
                passes.append(wl.run(spark, len(passes)))
                passes[-1].cpu_s = probes.session_cpu_s(sid) - c
            except Exception:
                failed += 1
                errors.append(traceback.format_exc())
                break
    finally:
        wall = time.perf_counter() - t0
        c1, v1 = probes.session_cpu_s(sid), probes.host_stat()
        peak = rss.stop()
    return {
        "passes": passes, "failed": failed, "errors": errors, "wall": wall,
        "cpu_s": c1 - c0, "peak_rss_mb": peak,
        "host": probes.host_attribution(v0, v1, c1 - c0, wall),
    }


def end_to_end(m: dict, setup_s: float) -> dict:
    """Medians over the measured passes; latency's samples are the passes'
    walls, rounds or batches."""
    passes = m["passes"]
    return {
        "throughput_per_s": {
            "value": statistics.median(p.units / sum(p.walls) for p in passes), "unit": "1/s",
        },
        "latency_p50_s": {
            "value": statistics.median(x for p in passes for x in p.latencies), "unit": "s",
        },
        "cpu_core_s": {"value": statistics.median(p.cpu_s for p in passes), "unit": "s"},
        "peak_rss_mb": {"value": m["peak_rss_mb"], "unit": "MB"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def per_layer(wl, m: dict, traced: dict, builds: list[float], host: dict,
              spark_totals: dict) -> dict:
    values = dict.fromkeys(PER_LAYER, 0.0)
    values.update(traced["metrics"])
    values["session.build_s"] = builds[0]
    values["session.rebuild_s"] = statistics.median(builds[1:]) if len(builds) > 1 else 0.0
    values.update(host)
    untraced = statistics.median(sum(p.walls) for p in m["passes"])
    values["trace.overhead_s"] = traced["wall"] - untraced
    values["trace.coverage"] = traced["busy"] / untraced
    if wl.name == "archive":
        values["streaming.sidecar_stream.batch_max_s"] = max(
            x for p in m["passes"] for x in p.latencies
        )
    for layer, tot in spark_totals.items():
        for k, v in tot.items():
            values[f"spark.{layer}.{k}"] = v
    return {name: {"value": values[name], "unit": unit_of(name)} for name in PER_LAYER}


def unit_of(name: str) -> str:
    units = {"_s": "s", "_mb": "MB", "_cores": "cores", "bytes_written": "B",
             "_ratio": "ratio", "coverage": "ratio", "skew": "ratio"}
    return next((u for suffix, u in units.items() if name.endswith(suffix)), "count")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("archive", "crawl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    # imported here so that the calibration's spawned processes, which
    # re-import this module, do not load pyarrow and pyspark
    from workloads import WORKLOADS

    phases: dict[str, float] = {}  # wall per phase of the run, for the info line
    last = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - last[0]
        last[0] = now

    sid = os.getsid(0)
    size = SIZES[args.size][args.workload]
    wl = WORKLOADS[args.workload](args.work, args.seed, size)
    wl.generate()
    phase("generate")
    host = {"host.calib_par_s": probes.calib_parallel_s(os.cpu_count() or 1)}
    phase("calibrate")
    conf = spark_conf(args.work, bool(args.trace))

    spark = None
    try:
        builds, setups = [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = build(conf)
            t1 = time.perf_counter()
            wl.stage(spark)
            builds.append(t1 - t0)
            setups.append(time.perf_counter() - t0)
        phase("setups")
        wl.warm(spark)
        phase("warm")
        setup_s = statistics.median(setups) + phases["warm"]

        m = measure(wl, spark, args.seconds, size["passes"], sid)
        phase("measure")
        if not m["passes"]:
            raise RuntimeError("no measured pass completed:\n" + "".join(m["errors"]))
        host.update(m["host"])
        failed, messages = wl.check(spark)
        phase("check")
        failed += m["failed"]
        attempted = sum(p.ops for p in m["passes"]) + m["failed"]
        traced = wl.trace(spark) if args.trace else None
        if traced and traced["errors"]:
            failed += 1
            attempted += 1
            messages += traced["errors"]
        phase("trace")
    finally:
        wl.close()
        shut_down(spark)
    phase("shut_down")

    if args.trace:
        from eventlog import layer_totals

        def layer_of(group):
            if group in LAYER_NAMES:
                return group
            # jobs of a streaming query run under its run id; only the
            # traced pass's query is attributed
            if group is not None and group == wl.trace_run_id:
                return "streaming.sidecar_stream"
            return None

        totals = layer_totals(os.path.join(args.work, "eventlog"), layer_of)
        metrics = per_layer(wl, m, traced, builds, host, totals)
    else:
        metrics = end_to_end(m, setup_s)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "info": {
            "cpus": CPUS, "size": size, "phases_s": phases, "builds_s": builds,
            "setups_s": setups, "passes": len(m["passes"]),
            "latencies_s": [x for p in m["passes"] for x in p.latencies],
            "pass_cpu_s": [p.cpu_s for p in m["passes"]],
            "host": host, "messages": messages + m["errors"],
        },
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
