"""Focused tests for the r8 optimization-round internals changes.

Each r8 change is behavior-preserving by construction; the broad parity /
bit-exactness suites cover most of them end-to-end. These tests pin the
three internals where a NEW code path exists that the end-to-end suites
would not isolate on their own:

  1. _srp_bucket_expr's single-F.expr form: the literal-hyperplane branch
     AND the md5 fallback branch (taken by vectors whose width differs
     from the sampled dims) must both produce the pre-r8 buckets.
  2. update_filter_shards' fresh-build path (plain grouped apply) must
     produce byte-identical filter states to the cogroup-with-empty path.
  3. containment_pairs with materialize=True (the new default) must equal
     materialize=False rows exactly.
  4. tfidf_keywords with materialize=True (the new default) must equal
     materialize=False rows exactly.
  5. the scale-adaptive `<t>_fan` views: repartitioned exactly when the
     split estimate is below parallelism, and row-identical to the
     canonical statements for the queries registered with `fan` tables.
"""

from __future__ import annotations

import hashlib

import pytest

from warc_metadata_sidecar_spark.session import build_session


@pytest.fixture(scope="module")
def spark():
    s = build_session("test_r08", cpus=4, shuffle_partitions=4)
    yield s


def _py_srp_bucket(vec, planes, table):
    """Independent per-row twin of the SRP bucket definition."""
    bucket = 0
    for p in range(planes):
        prefix = f"{table}:{p}:" if table else f"{p}:"
        dot = 0.0
        for d, x in enumerate(vec):
            nib = hashlib.md5(f"{prefix}{d}".encode()).hexdigest()[0]
            h = float("0123456789abcdef".index(nib) + 1) - 7.5
            dot += x * h
        if dot > 0:
            bucket += 1 << p
    return bucket


def test_srp_bucket_expr_literal_and_fallback_branches(spark):
    from warc_metadata_sidecar_spark.operators.similarity import _srp_bucket_expr

    # dims sampled as 4: the 4-wide vector takes the literal branch, the
    # 3-wide vector MUST fall back to the md5 form — both must match the
    # independent Python twin.
    rows = [(1, [0.5, -1.0, 2.0, 0.25]), (2, [1.0, 1.0, -3.0])]
    df = spark.createDataFrame(rows, "vec_id int, v array<double>")
    out = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id", _srp_bucket_expr("v", planes=5, table=2, dims=4).alias("b")
        ).collect()
    }
    for vec_id, vec in rows:
        assert out[vec_id] == _py_srp_bucket(vec, planes=5, table=2)


def test_update_filter_shards_fresh_build_equals_cogroup_path(spark):
    from warc_metadata_sidecar_spark.frontier.seen import (
        FILTERS_SCHEMA,
        update_filter_shards,
    )

    urls = spark.createDataFrame(
        [(f"https://h{i % 7}.example.com/p/{i}",) for i in range(300)], ["url"]
    )
    fresh = {
        r.shard: (bytes(r.state), r.adds)
        for r in update_filter_shards(spark, urls, None, key="url").collect()
    }
    empty = spark.createDataFrame([], FILTERS_SCHEMA)
    cogrouped = {
        r.shard: (bytes(r.state), r.adds)
        for r in update_filter_shards(spark, urls, empty, key="url").collect()
    }
    assert fresh == cogrouped
    assert sum(a for _, a in fresh.values()) == 300


def test_containment_pairs_materialize_equals_recompute(spark):
    from warc_metadata_sidecar_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight and more"),
            (3, "a completely different document with its own words here"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    a = sorted(
        map(tuple, containment_pairs(docs, threshold=0.3, materialize=True).collect())
    )
    b = sorted(
        map(tuple, containment_pairs(docs, threshold=0.3, materialize=False).collect())
    )
    assert a == b
    assert a  # the fixture must actually produce pairs


def test_tfidf_keywords_materialize_equals_recompute(spark):
    from warc_metadata_sidecar_spark.operators.quality import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry date"),
            (2, "banana cherry cherry cherry elderberry"),
            (3, "apple fig grape fig fig"),
            (4, "one two three four five six seven"),
        ],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, tfidf_keywords(docs, k=3, materialize=True).collect()))
    b = sorted(map(tuple, tfidf_keywords(docs, k=3, materialize=False).collect()))
    assert a == b
    assert a  # the fixture must actually produce keywords


def test_fan_views_adaptive_and_row_identical(spark, monkeypatch):
    """r8 scale-adaptive fan-out: register_views publishes `<t>_fan` views
    that are repartitioned to defaultParallelism ONLY when the file-size
    estimate yields fewer splits than cores, and the rewrite of a query
    registered with `fan` tables returns exactly the canonical rows."""
    from warc_metadata_sidecar_spark import driver_queries as dq

    sf = "/root/testdata/sf0.001"
    dq.register_views(spark, sf)
    # small local files -> the fan view must be repartitioned to parallelism
    n_par = spark.sparkContext.defaultParallelism
    fan = spark.table("documents_fan")
    assert fan.rdd.getNumPartitions() == n_par
    # same rows either way
    assert fan.count() == spark.table("documents").count()
    # the condition is adaptive: an estimate of as many splits as cores (a
    # big input) must publish the scan itself, not a repartition
    monkeypatch.setattr(dq, "_est_splits", lambda path, split: n_par)
    spark.conf.unset(dq._VIEWS_CONF)
    try:
        dq.register_views(spark, sf)
        for t in dq._FAN_VIEW_TABLES:
            plan = spark.table(f"{t}_fan")._jdf.queryExecution().analyzed().toString()
            assert "Repartition" not in plan, plan
            assert (spark.table(f"{t}_fan").rdd.getNumPartitions()
                    == spark.table(t).rdd.getNumPartitions())
    finally:
        monkeypatch.undo()
        spark.conf.unset(dq._VIEWS_CONF)
        dq.register_views(spark, sf)
    assert spark.table("documents_fan").rdd.getNumPartitions() == n_par
    # a fanned query's rows equal the canonical (unfanned) statement's rows
    name = "fingerprint_winnow"
    fanned = dq.queries()[name](spark, sf)
    plain = spark.sql(dq.spark_sql_for(name))
    a = sorted(map(tuple, fanned.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b
    assert a  # the fixture must actually produce fingerprints


def test_register_views_on_every_new_session(spark):
    """The views memo belongs to the session: each new session gets its own
    views, also when it takes the Python id of a freed session."""
    from warc_metadata_sidecar_spark import driver_queries as dq

    missing = 0
    for _ in range(40):
        s = spark.newSession()
        dq.register_views(s, dq._oracle_sf_dir(None))
        missing += not s.catalog.tableExists("documents")
    assert missing == 0


def test_split_bytes_parses_size_suffixes(spark):
    """maxPartitionBytes may be written with a unit suffix in any case; an
    unparsable or unreadable value falls back to 128 MiB."""
    from types import SimpleNamespace

    from warc_metadata_sidecar_spark import driver_queries as dq

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        for v, want in (("134217728", 128 << 20), ("64k", 64 << 10),
                        ("32M", 32 << 20), ("2g", 2 << 30), ("16mb", 16 << 20),
                        ("1GB", 1 << 30)):
            spark.conf.set(key, v)
            assert dq._split_bytes(spark) == want, v
    finally:
        spark.conf.set(key, old)

    def conf(get):
        return SimpleNamespace(conf=SimpleNamespace(get=get))

    assert dq._split_bytes(conf(lambda k: "lots")) == 128 << 20
    assert dq._split_bytes(conf(lambda k: 1 / 0)) == 128 << 20


def test_est_splits_sums_hive_partitioned_part_files(tmp_path):
    """A hive-partitioned parquet directory: only the regular part files
    under `key=value/` count; Spark's `_`/`.`-prefixed bookkeeping files and
    directories, and the directory entries themselves, do not."""
    from warc_metadata_sidecar_spark import driver_queries as dq

    root = tmp_path / "documents.parquet"
    for part, size in (("year=2020", 10), ("year=2021", 25)):
        (root / part).mkdir(parents=True)
        (root / part / "part-0.parquet").write_bytes(b"x" * size)
        (root / part / ".part-0.parquet.crc").write_bytes(b"c" * 99)
    (root / "_SUCCESS").write_bytes(b"")
    (root / "_temporary" / "0").mkdir(parents=True)
    (root / "_temporary" / "0" / "part-9.parquet").write_bytes(b"x" * 99)
    # split 10: 10 bytes -> 1 split, 25 bytes -> 3 splits
    assert dq._est_splits(str(root), 10) == 4
    assert dq._est_splits(str(root / "year=2021" / "part-0.parquet"), 10) == 3
