"""Plan construction on the driver: the hot builders reuse their column trees
within a Spark context, and a session rebuilt in the same JVM builds fresh
ones that give the same rows."""

import json
import os
import subprocess
import sys

import pytest
from py4j.clientserver import ClientServerConnection

from warc_metadata_sidecar_spark import gen
from warc_metadata_sidecar_spark.frontier.canonical import canonicalize
from warc_metadata_sidecar_spark.frontier.scheduler import rank_round
from warc_metadata_sidecar_spark.operators.sidecar import sidecar_rows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _py4j_commands(monkeypatch, build) -> int:
    """py4j commands sent while `build` runs, after one warm-up call. The
    deletes py4j sends for garbage-collected Java references are left out:
    they depend on when Python's collector runs."""
    build()
    sent = []
    orig = ClientServerConnection.send_command

    def counting(conn, command):
        sent.append(command[:1])
        return orig(conn, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        build()
    return sum(kind != "m" for kind in sent)


@pytest.fixture(scope="module")
def frames(spark):
    seeds = gen.seed_frontier(spark, n_seeds=20)
    return {
        "seeds": seeds,
        "frontier": canonicalize(seeds),
        "robots": gen.robots(spark, 50),
        "docs": gen.documents(spark, 50),
    }


@pytest.mark.parametrize(
    "name, bound",
    # 33, 149 and 119 here; with call-site capture on and every tree rebuilt
    # per call they took 1,836, 1,122 and 1,221
    [("canonicalize", 60), ("rank_round", 250), ("sidecar_rows", 250)],
)
def test_second_build_py4j_budget(monkeypatch, frames, name, bound):
    """A rebuilt builder reuses its cached trees: what is left is one
    command per DataFrame operation and its argument list."""
    build = {
        "canonicalize": lambda: canonicalize(frames["seeds"]),
        "rank_round": lambda: rank_round(
            frames["frontier"], frames["robots"], 2, round_no=1, prune_salts=16
        ),
        "sidecar_rows": lambda: sidecar_rows(frames["docs"]),
    }[name]
    assert _py4j_commands(monkeypatch, build) <= bound


_REBUILT = r"""
import json
from warc_metadata_sidecar_spark import gen
from warc_metadata_sidecar_spark.frontier.crawl import run_crawl
from warc_metadata_sidecar_spark.functions.surt import _surt_stages
from warc_metadata_sidecar_spark.operators.sidecar import sidecar_rows
from warc_metadata_sidecar_spark.session import build_session

trees = []


def rows(df):
    return sorted(df.toJSON().collect())


def one_session():
    spark = build_session(app_name="rebuilt", cpus=2, shuffle_partitions=2)
    docs = gen.documents(spark, 300).cache()
    # no out_dir: the returned annotation is one plan over both rounds, so
    # it holds the detector UDF twice
    res = run_crawl(
        spark, docs, gen.seed_frontier(spark, 10), gen.robots(spark, 50),
        rounds=2, universe=300, annotate=True,
    )
    fetched = docs.join(res.schedule.select("url"), "url", "left_semi")
    out = {
        "schedule": rows(res.schedule),
        "annotated": rows(res.annotated),
        "annotated_at_once": rows(sidecar_rows(fetched)),
        "sidecar": rows(sidecar_rows(docs)),
    }
    trees.append(_surt_stages("url"))
    spark.stop()
    return out


sessions = [one_session(), one_session()]
print(json.dumps([*sessions, trees[0] is not trees[1]]))
"""


def test_rebuilt_session_same_rows():
    """spark.stop() then build_session in the same process and JVM: the
    second context builds its own trees and UDF functions (a stopped
    context's pandas-UDF columns carry its accumulator) and gives the same
    crawl schedule, annotation and sidecar rows. Runs in a child process so
    the suite's shared session stays up."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_NO_WARMUP="1")
    proc = subprocess.run(
        [sys.executable, "-c", _REBUILT], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    first, second, rebuilt = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rebuilt, "the second context reused the first context's column trees"
    assert first["schedule"] and first["annotated"] and first["sidecar"]
    assert first["annotated"] == first["annotated_at_once"]
    assert first == second
