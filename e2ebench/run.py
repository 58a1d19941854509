"""End-to-end benchmark of the WARC metadata sidecar engine.

    python3 e2ebench/run.py --workload {archive,crawl} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Each run happens in a child process that is a
session leader; when it returns, every process of that session (the child,
the Spark JVM, the PySpark daemon and its workers) must be gone, and any
survivor is killed and counted as a failed run. The last line of standard
output is the result JSON; with --trace 0 it carries the end-to-end metrics,
with --trace 1 the per-layer metrics. See e2ebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = os.path.join(ROOT, "warc_metadata_sidecar_spark")

TIMEOUT_S = 160  # a normal run; the command must end within 180 s
FIRST_TIMEOUT_S = 860  # the first run in a checkout also generates inputs
REAP_GRACE_S = 10


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("archive", "crawl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the smoke test")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"run.py: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2

    first = not os.path.isdir(os.path.join(WORK, "inputs"))
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    result_path = os.path.join(WORK, "result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),  # the driver and the Python workers
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
    )
    env.pop("SPARK_GRAFT_NO_WARMUP", None)  # session warm-up is part of every set-up
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--work", WORK, "--result", result_path,
    ]
    log_path = os.path.join(WORK, f"child-{args.workload}.log")
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            rc = child.wait(timeout=FIRST_TIMEOUT_S if first else TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        killed = probes.reap_session(child.pid, 0 if rc is None else REAP_GRACE_S)
        child.wait()

    if rc != 0 or not os.path.exists(result_path):
        reason = "timed out" if rc is None else f"exited with {rc}"
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        print(f"run.py: the {args.workload} run {reason}\n{tail}", file=sys.stderr)
        return 1

    with open(result_path) as f:
        res = json.load(f)
    info = res["info"]
    if killed:
        info["messages"].append(f"killed surviving processes {killed}")
    print("# info " + json.dumps(info, sort_keys=True))
    failed = res["failed"] + bool(killed)
    print(json.dumps({
        "correct": res["correct"] and not killed,
        "attempted": res["attempted"] + bool(killed),
        "failed": failed,
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
