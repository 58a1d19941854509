"""Physical-plan audits: the plan we run is the plan we designed
(SURVEY.md §4) — pushdown, broadcast, python-stage placement."""

from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.operators.cdxj import merge_cdxj, parse_cdxj_lines
from warc_metadata_sidecar_spark.operators.sidecar import sidecar_rows
from warc_metadata_sidecar_spark.plans.audit import (
    exchange_count,
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregation,
    scan_pushdown,
)


def test_parquet_filter_pushdown_and_pruning(spark, tmp_path):
    path = str(tmp_path / "li")
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").write.parquet(path)
    df = (
        spark.read.parquet(path)
        .filter(F.col("l_orderkey") == 42)
        .select("l_orderkey", "l_quantity")
    )
    info = scan_pushdown(df)
    assert any("l_orderkey" in p for p in info["pushed_filters"]), info
    # column pruning: only the two projected columns reach the scan
    assert any(
        "l_quantity" in s and "l_extendedprice" not in s for s in info["read_schema"]
    ), info


def test_sidecar_filters_execute_before_python_stage(spark, docs100, media_tbl):
    plan = formatted_plan(sidecar_rows(docs100, media_tbl))
    # the Arrow-batched detector stage exists...
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    # ...and the rec_type/dns/empty filters are in the plan as native Filters
    assert "Filter" in plan
    # detector runs on the DISTINCT side: the aggregate (dedup) must appear
    # in the plan below the python eval
    assert "HashAggregate" in plan or "SortAggregate" in plan or "ObjectHashAggregate" in plan


def test_merge_join_broadcasts_small_build_side(spark):
    orig = parse_cdxj_lines(
        spark.createDataFrame([(f'com,x{i}) 20200101000000 {{"a": {i}}}',) for i in range(100)], ["value"])
    )
    meta = parse_cdxj_lines(
        spark.createDataFrame([('com,x1) 20200101000000 {"Preservation-Identifier": "fmt/1"}',)], ["value"])
    )
    merged = merge_cdxj(orig, meta)
    assert has_broadcast_join(merged)


def test_documents_partition_pruning(spark, docs100, tmp_path):
    # write_documents partitions by file_bucket; a bucket-filtered read must
    # prune partitions at the scan (PartitionFilters, not a post-scan Filter)
    from warc_metadata_sidecar_spark.sources.tables import write_documents

    path = str(tmp_path / "docs_part")
    write_documents(docs100, path)
    df = spark.read.parquet(path).filter(F.col("file_bucket") == 3)
    plan = formatted_plan(df)
    assert "PartitionFilters: [isnotnull(file_bucket" in plan or "file_bucket#" in plan.split(
        "PartitionFilters:"
    )[1].splitlines()[0], plan.split("PartitionFilters:")[1].splitlines()[0]


def test_aggregation_is_partial_and_single_shuffle(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
    )
    assert has_partial_aggregation(df)  # map-side combine before exchange
    assert exchange_count(df) == 1


def test_sidecar_shuffle_inventory(spark):
    # SURVEY.md §4: rep-election exchange + rep semi-join on
    # (payload_digest, doc_id) + join-back pair on dedup_key + the
    # (media-first rows only) head-join pair. No forced broadcast anywhere
    # (VERDICT r3 #1): the rep side is one id per distinct payload — tens
    # of GB at 10^10 payloads — so AQE decides at runtime (broadcasts while
    # actually small) and the digest-bucketed layout co-locates at scale
    # (test_bucketed_sidecar_rep_join_no_broadcast_no_exchange). Pre-AQE
    # ceiling 10: the media/text split pushes through the rep-docs union,
    # duplicating the (runtime-reused) semi-join/election subtrees.
    # Fresh inputs: cached fixtures would splice InMemoryRelation subplans
    # (with their own exchanges) into the counted plan.
    from warc_metadata_sidecar_spark import gen
    from warc_metadata_sidecar_spark.plans.audit import simple_plan

    docs = gen.documents(spark, 50)
    media = gen.media(spark)
    plan_df = sidecar_rows(docs, media)
    n = exchange_count(plan_df)
    assert n <= 10, f"unexpected shuffle count {n}"
    plan = simple_plan(plan_df)
    # exactly one Python stage: detectors must not be duplicated by pushdown
    assert plan.count("ArrowEvalPython") == 1
    # the forced rep-id broadcast is gone: any BroadcastExchange in this
    # pre-AQE plan would be a planner hint, not an adaptive decision
    assert "BroadcastExchange" not in plan, "forced broadcast reappeared"
    # concatenated payload text must not appear in any hash exchange — the
    # payload projection runs AFTER rep routing, on detector-cardinality
    # rows, and only the head-join moves it (media-first rows only)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "payload_text" not in line


def test_bucketed_sidecar_rep_join_no_broadcast_no_exchange(spark, docs100, tmp_path):
    """VERDICT r3 #1 (top task): over a payload_digest-bucketed documents
    table the flagship's rep semi-join must plan NEITHER a BroadcastExchange
    (the old forced one-id-per-distinct-digest broadcast — OOM at 10^10
    payloads) NOR a hash exchange on either join side: both sides are
    pre-partitioned on the digest (subset co-partitioning,
    spark.sql.requireAllClusterKeysForCoPartition=false in build_session).
    Broadcast thresholds are disabled so size-based small-table broadcasts
    cannot mask a forced hint — this is the shape the plan takes at scale."""
    from warc_metadata_sidecar_spark.plans.audit import simple_plan
    from warc_metadata_sidecar_spark.sources.tables import write_documents_bucketed

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    write_documents_bucketed(docs100, "docs_rep4", str(tmp_path / "docs_rep4"), buckets=8)
    try:
        t = spark.table("docs_rep4")
        plan = simple_plan(sidecar_rows(t, None))
        assert "BroadcastExchange" not in plan, "rep side still force-broadcasts"
        # the ONLY hash exchanges left are the dedup_key join-back pair;
        # election groupBy + rep semi-join ride the bucketing exchange-free
        sem = [
            line
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line and "payload_digest" in line
        ]
        assert sem == [], f"digest-keyed exchange over bucketed layout: {sem}"
        assert exchange_count(sidecar_rows(t, None)) <= 2
        # and the result is still correct (rows survive end-to-end)
        assert sidecar_rows(t, None).count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS docs_rep4")


def test_cosine_dedup_default_has_no_cross_join(spark):
    """VERDICT r1 #4: the no-block default must not plan a CartesianProduct/
    BroadcastNestedLoop over the corpus — SRP bucket equi-joins only."""
    from warc_metadata_sidecar_spark.operators.similarity import embedding_cosine_dedup
    from warc_metadata_sidecar_spark.plans.audit import formatted_plan

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0, 0.5]) for i in range(50)],
        ["vec_id", "embedding"],
    )
    plan = formatted_plan(embedding_cosine_dedup(emb, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the exact baseline, by contrast, is the cross join
    plan_exact = formatted_plan(embedding_cosine_dedup(emb, threshold=0.9, exact=True))
    assert "CartesianProduct" in plan_exact or "BroadcastNestedLoopJoin" in plan_exact


def test_ivf_centroid_assignment_broadcasts(spark):
    """Centroid assignment must broadcast the k centroid rows (never shuffle
    the vectors against them). Audited on the assignment subplan directly:
    ivf_topk checkpoints the (single) assignment pass, which truncates the
    downstream visible plan."""
    from warc_metadata_sidecar_spark.operators.similarity import (
        _assign_buckets,
        ivf_train_centroids,
    )
    from warc_metadata_sidecar_spark.plans.audit import formatted_plan

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0, 0.5]) for i in range(60)],
        ["vec_id", "embedding"],
    ).withColumn("embedding", F.col("embedding").cast("array<double>"))
    cents = ivf_train_centroids(emb, 4, "vec_id", "embedding", iters=1)
    assigned = _assign_buckets(
        emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")),
        cents, "_id", "_v", nprobe=2,
    )
    plan = formatted_plan(assigned)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ivf_topk_single_assignment_pass(spark, monkeypatch):
    """VERDICT r2 #6: the centroid path runs nearest-centroid assignment
    ONCE — candidates are the probe_rank=1 slice of the probes."""
    from warc_metadata_sidecar_spark.operators import similarity as sim

    calls = {"assign": 0}
    orig = sim._assign_buckets

    def counting(*a, **kw):
        calls["assign"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(sim, "_assign_buckets", counting)
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0, 0.5]) for i in range(60)],
        ["vec_id", "embedding"],
    )
    sim.ivf_topk(emb, k=1, n_centroids=4, nprobe=2, max_bucket=20, iters=1).collect()
    # iters=1 training uses one assignment; the topk query itself uses ONE
    # (was two: separate candidate + probe passes)
    assert calls["assign"] == 2, calls


def test_bucketed_documents_skip_digest_shuffle(spark, docs100, tmp_path):
    """100 TB layout: a payload_digest-bucketed documents table feeds the
    digest-keyed rep election with NO exchange — the shuffle the sandbox
    pays on plain parquet disappears at the storage layer (Iceberg
    bucket(payload_digest) in production)."""
    from warc_metadata_sidecar_spark.plans.audit import exchange_count
    from warc_metadata_sidecar_spark.sources.tables import write_documents_bucketed

    write_documents_bucketed(
        docs100, "docs_bucketed_test", str(tmp_path / "docs_bucketed"), buckets=8
    )
    try:
        t = spark.table("docs_bucketed_test")
        agg = t.groupBy("payload_digest").count()
        assert exchange_count(agg) == 0, "bucketed groupBy still shuffles"
        # plain parquet pays the exchange — the bucketing is what removes it
        plain = spark.read.parquet(str(tmp_path / "docs_bucketed"))
        assert exchange_count(plain.groupBy("payload_digest").count()) == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS docs_bucketed_test")


def test_sidecar_over_bucketed_table_drops_rep_shuffle(spark, docs100, tmp_path):
    """Flagship over the digest-bucketed layout: the rep-election exchange
    disappears (groupBy on the raw bucketed column), so the full pipeline
    plans strictly fewer shuffles than over plain parquet."""
    from warc_metadata_sidecar_spark.plans.audit import exchange_count
    from warc_metadata_sidecar_spark.sources.tables import write_documents_bucketed

    write_documents_bucketed(
        docs100, "docs_b2", str(tmp_path / "docs_b2"), buckets=8
    )
    try:
        bucketed = spark.table("docs_b2")
        plain = spark.read.parquet(str(tmp_path / "docs_b2"))
        n_b = exchange_count(sidecar_rows(bucketed))
        n_p = exchange_count(sidecar_rows(plain))
        assert n_b < n_p, f"bucketed {n_b} vs plain {n_p}"
    finally:
        spark.sql("DROP TABLE IF EXISTS docs_b2")


def test_bucketed_seen_antijoin_no_exchange_on_seen_side(spark, tmp_path):
    """VERDICT r2 #1: the URL-seen exact anti-join backstop over the
    hash-bucketed seen table must not shuffle the seen side — only the
    (small) candidate side exchanges. Plain parquet pays 2
    exchanges; the bucketed layout pays 1, and appends preserve it."""
    from warc_metadata_sidecar_spark.frontier.seen import (
        append_seen_bucketed,
        create_seen_bucketed,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    tbl = None
    try:
        seen_df = spark.range(5000).select(
            F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
            F.lit(0).alias("first_round"),
        )
        tbl = create_seen_bucketed(spark, str(tmp_path / "seen"), seen_df, buckets=8)
        cand = spark.range(300).select(
            F.concat(F.lit("u"), (F.col("id") * 7)).alias("canonical_url")
        )
        bucketed = cand.join(
            spark.table(tbl).select("canonical_url"), "canonical_url", "left_anti"
        )
        assert exchange_count(bucketed) == 1, "seen side still shuffles"
        plain = spark.read.parquet(str(tmp_path / "seen"))
        assert exchange_count(
            cand.join(plain.select("canonical_url"), "canonical_url", "left_anti")
        ) == 2
        # O(delta) appends keep the property
        delta = spark.range(5000, 5100).select(
            F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
            F.lit(1).alias("first_round"),
        )
        append_seen_bucketed(delta, tbl, buckets=8)
        after = cand.join(
            spark.table(tbl).select("canonical_url"), "canonical_url", "left_anti"
        )
        assert exchange_count(after) == 1
        assert spark.table(tbl).count() == 5100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if tbl:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_coarse_assignment_never_broadcasts_fine_centroids(spark):
    """VERDICT r6 task 3: the large-k assignment plan must contain NO
    crossJoin/broadcast of the k-row fine-centroid table — only the two
    explicit sqrt(k)-coarse broadcasts (rows x coarse, fine x coarse) plus a
    shuffle EQUI-JOIN on the coarse cell. autoBroadcastJoinThreshold is
    disabled so the cell join cannot silently become a size-picked
    broadcast in this assertion."""
    from warc_metadata_sidecar_spark.operators.similarity import (
        _assign_buckets_coarse,
        ivf_train_centroids,
    )
    from warc_metadata_sidecar_spark.plans.audit import formatted_plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        e = spark.createDataFrame(
            [(i, [float(i % 7), float(i % 5), 1.0, 0.5]) for i in range(60)],
            "vec_id: long, embedding: array<double>",
        ).select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        cents = ivf_train_centroids(e, 8, "_id", "_v", iters=1)
        plan = formatted_plan(
            _assign_buckets_coarse(e, cents, "_id", "_v", coarse_k=3)
        )
        assert "CartesianProduct" not in plan
        # exactly the two coarse broadcasts — a third would be the k-table
        # (formatted plans name each node once in the tree and once in the
        # details section, so count the "(n) Node" detail headers)
        import re

        bnlj = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
        assert len(bnlj) == 2, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "_cell" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
