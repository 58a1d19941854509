"""Incremental paragraph-dedup ledger (streaming/paradedup_stream.py):
batch-equivalence to operators/dedup.paragraph_dedup, unique-paragraph
ledger growth, and the streaming form."""

import os

import pytest
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark import driver_queries as dq
from warc_metadata_sidecar_spark.operators.dedup import paragraph_dedup
from warc_metadata_sidecar_spark.streaming import ledger
from warc_metadata_sidecar_spark.streaming.paradedup_stream import (
    paradedup_batch,
    start_paradedup_stream,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def fixture_docs(spark):
    """The planted-paragraph corpus (the batch operator's oracle fixture):
    (doc_id, text) with shared boilerplate + colliding 8-word slices."""
    dq.register_views(spark, SF_DIR)
    return spark.sql(
        "WITH " + dq._render(dq._pded_cte(dq.SPARK), dq.SPARK)
        + " SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM pd"
    ).localCheckpoint(eager=True)


def _rows(df):
    return sorted(
        (int(r.doc_id), int(r.n_paras), int(r.n_kept), r.text) for r in df.collect()
    )


def test_two_batches_equal_batch_operator(spark, fixture_docs, tmp_path_factory):
    """Ascending-id batches reproduce paragraph_dedup over the union
    row-for-row (first-by-arrival == first-by-id)."""
    led = str(tmp_path_factory.mktemp("pled"))
    b1 = fixture_docs.filter(F.col("doc_id") < 250)
    b2 = fixture_docs.filter(F.col("doc_id") >= 250)
    got = _rows(paradedup_batch(spark, b1, led)) + _rows(
        paradedup_batch(spark, b2, led)
    )
    exp = _rows(paragraph_dedup(fixture_docs))
    assert sorted(got) == exp


def test_ledger_grows_with_unique_paragraphs_only(spark, fixture_docs, tmp_path_factory):
    """Re-feeding the SAME docs (new ids) adds nothing to the ledger and
    keeps zero paragraphs."""
    led = str(tmp_path_factory.mktemp("pled"))
    paradedup_batch(spark, fixture_docs, led)
    n1 = ledger.ensure(spark, os.path.join(led, "paras"), "ph").count()
    replay = fixture_docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    dec = paradedup_batch(spark, replay, led)
    assert dec.agg(F.sum("n_kept")).collect()[0][0] == 0
    n2 = ledger.ensure(spark, os.path.join(led, "paras"), "ph").count()
    assert n2 == n1
    # and the ledger equals the distinct paragraph set of the corpus
    n_distinct = (
        fixture_docs.select(F.explode(F.split("text", "\n")).alias("p"))
        .select(F.md5("p"))
        .distinct()
        .count()
    )
    assert n1 == n_distinct


def test_ledger_join_no_ledger_shuffle(spark, fixture_docs, tmp_path_factory):
    """The batch-vs-ledger anti lookup reads the ph-bucketed table with no
    Exchange on the ledger side (scan feeds the join directly)."""
    led = str(tmp_path_factory.mktemp("pled"))
    paradedup_batch(spark, fixture_docs, led)
    old = ledger.ensure(spark, os.path.join(led, "paras"), "ph")
    probe = fixture_docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("idx", "para")
    ).withColumn("ph", F.md5("para"))
    joined = probe.join(old.withColumn("_seen", F.lit(True)), "ph", "left")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    scan_side = plan.split("FileScan parquet")[1] if "FileScan parquet" in plan else ""
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # exactly ONE exchange: the probe side; the bucketed ledger side has none
    assert plan.count("Exchange hashpartitioning") == 1, plan
    _ = scan_side


def test_streaming_form(spark, fixture_docs, tmp_path_factory):
    """The runner over one source file per run (file order across files in
    a single batch is not mtime-ordered — the r6 pitfall):
    the streamed decisions equal the batch operator's."""
    root = tmp_path_factory.mktemp("pstream")
    src, led = str(root / "src"), str(root / "led")
    out, ckpt = str(root / "out"), str(root / "ckpt")
    os.makedirs(src, exist_ok=True)
    b1 = fixture_docs.filter(F.col("doc_id") < 250)
    b2 = fixture_docs.filter(F.col("doc_id") >= 250)
    for i, b in enumerate((b1, b2)):
        b.select("doc_id", "text").repartition(1).write.mode("overwrite").parquet(
            f"{src}/batch{i}"
        )
        q = start_paradedup_stream(spark, f"{src}/batch{i}", led, out, f"{ckpt}/{i}")
        q.processAllAvailable()
        q.stop()
    got = _rows(spark.read.parquet(out))
    assert got == _rows(paragraph_dedup(fixture_docs))


def test_ledger_compaction_preserves_semantics(spark, fixture_docs, tmp_path_factory):
    """Many small appends fragment the paras ledger; compact() shrinks the
    file count per fragmented bucket without changing answers: re-feeding
    known paragraphs still keeps zero, and the ledger row multiset (as a
    set of hashes) is unchanged."""
    led = str(tmp_path_factory.mktemp("pled"))
    # 6 small appends = 6 files per bucket
    for i in range(6):
        b = fixture_docs.filter(F.col("doc_id") % 6 == i)
        paradedup_batch(spark, b, led)
    before = ledger.ensure(spark, os.path.join(led, "paras"), "ph")
    hashes_before = {r.ph for r in before.collect()}
    d = os.path.join(led, "paras")
    files_before = len([f for f in os.listdir(d) if f.endswith(".parquet")])
    assert ledger.compact(spark, d, "ph", per_bucket_files=2)
    files_after = len([f for f in os.listdir(d) if f.endswith(".parquet")])
    assert files_after < files_before
    after = ledger.ensure(spark, os.path.join(led, "paras"), "ph")
    assert {r.ph for r in after.collect()} == hashes_before
    replay = fixture_docs.withColumn("doc_id", F.col("doc_id") + 2_000_000)
    assert paradedup_batch(spark, replay, led).agg(
        F.sum("n_kept")).collect()[0][0] == 0
    # a second compact on the already-consolidated ledger is a no-op
    assert not ledger.compact(spark, d, "ph", per_bucket_files=2)


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="ledger rows are not scoped to an epoch: the replayed batch finds "
    "its own paragraphs in the ledger and keeps none of them",
)
def test_streaming_form_replay_after_ledger_append(
    spark, fixture_docs, tmp_path_factory, monkeypatch
):
    """A batch that fails right after its ledger append is replayed from
    the checkpoint on restart; its output must equal a no-fault run."""
    root = tmp_path_factory.mktemp("preplay")
    src = str(root / "src")
    fixture_docs.filter(F.col("doc_id") < 250).select("doc_id", "text").repartition(
        1
    ).write.parquet(src)

    def run(name):
        d = root / name
        q = start_paradedup_stream(
            spark, src, str(d / "led"), str(d / "out"), str(d / "ckpt")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return _rows(spark.read.parquet(str(d / "out")))

    clean = run("clean")
    real_write, faults = ledger.write, []

    def write_then_fail(*args, **kwargs):
        tbl = real_write(*args, **kwargs)
        if not faults:
            faults.append(tbl)
            raise RuntimeError("injected fault after the ledger append")
        return tbl

    monkeypatch.setattr(ledger, "write", write_then_fail)
    with pytest.raises(Exception, match="injected fault"):
        run("fault")
    assert faults
    assert run("fault") == clean
