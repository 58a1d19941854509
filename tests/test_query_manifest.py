"""Fingerprint manifest of the driver query inventory.

Pins, by sha256 of the text, everything the driver reads from
driver_queries.py: every oracle_sql() text (at the default oracle sf dir),
the Spark and DuckDB renderings of every dual-dialect template, the key
order of queries() (the rotation order given the repo's CORRECTNESS_r*.json),
and what each queries() entry runs: the Spark SQL it hands to spark.sql
(captured with a recording session, the views not registered) or, for a
module callable, its __qualname__. A refactor of the inventory must leave
this manifest unchanged.

After an intended change to a query, rewrite the manifest with
`python tests/test_query_manifest.py` and review the diff.
"""

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

dq = entry_mod.driver_queries
MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_manifest.json")
ORACLE_SF_DIR = "/root/testdata/sf0.01"
ENV = "SPARK_GRAFT_ORACLE_SF_DIR"


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


class _RecordingSession:
    """Stands in for a SparkSession: records the text handed to sql()."""

    def __init__(self):
        self.texts = []

    def sql(self, text):
        self.texts.append(text)
        return None


def _capture_oracles() -> dict[str, str]:
    prev = os.environ.get(ENV)
    os.environ[ENV] = ORACLE_SF_DIR
    try:
        return {n: _sha(t) for n, t in sorted(entry_mod.oracle_sql().items())}
    finally:
        if prev is None:
            os.environ.pop(ENV, None)
        else:
            os.environ[ENV] = prev


def _capture_engines() -> dict[str, str]:
    """name -> 'sql:<sha256>' of the Spark SQL a SQL entry runs, or
    'callable:<qualname>' of a module callable."""
    out = {}
    saved = dq.register_views
    dq.register_views = lambda spark, sf_dir: None
    try:
        for name, fn in dq.queries().items():
            if "<locals>" in fn.__qualname__:
                stub = _RecordingSession()
                fn(stub, ORACLE_SF_DIR)
                assert len(stub.texts) == 1, name
                out[name] = "sql:" + _sha(stub.texts[0])
            else:
                out[name] = "callable:" + fn.__qualname__
    finally:
        dq.register_views = saved
    return out


def _template_names() -> list[str]:
    """The queries() names that have a dual-dialect template."""
    names = []
    for n in sorted(dq.queries()):
        try:
            dq.duck_sql_for(n)
        except KeyError:
            continue
        names.append(n)
    return names


def _capture() -> dict:
    template_names = _template_names()
    return {
        "queries_order": list(dq.queries()),
        "engines": _capture_engines(),
        "spark_sql_for": {n: _sha(dq.spark_sql_for(n)) for n in template_names},
        "duck_sql_for": {n: _sha(dq.duck_sql_for(n)) for n in template_names},
    }


def _load() -> dict:
    with open(MANIFEST) as f:
        return json.load(f)


def test_queries_order_and_engines_match_manifest():
    want = _load()
    got = _capture()
    assert got["queries_order"] == want["queries_order"]
    for key in ("engines", "spark_sql_for", "duck_sql_for"):
        diff = sorted(
            n for n in set(got[key]) | set(want[key]) if got[key].get(n) != want[key].get(n)
        )
        assert not diff, f"{key} differs for {diff}"


@pytest.mark.skipif(not os.path.isdir(ORACLE_SF_DIR), reason=f"{ORACLE_SF_DIR} is absent")
def test_oracle_texts_match_manifest():
    want = _load()["oracles"]
    got = _capture_oracles()
    diff = sorted(n for n in set(got) | set(want) if got.get(n) != want.get(n))
    assert not diff, f"oracle_sql() text differs for {diff}"


if __name__ == "__main__":
    manifest = {"oracles": _capture_oracles(), **_capture()}
    with open(MANIFEST, "w") as f:
        json.dump(manifest, f, indent=1)
        f.write("\n")
