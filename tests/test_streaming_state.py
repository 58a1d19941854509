"""Cross-batch stateful budget enforcement (applyInPandasWithState)."""

from warc_metadata_sidecar_spark.streaming.host_budget import admit_within_budget


def test_budget_state_survives_micro_batches(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "host string, canonical_url string, priority double"

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(in_dir)
        )

    # batch 1: two hosts, two candidates each
    drop("b1", [("h1", "u1", 0.9), ("h1", "u2", 0.8), ("h2", "v1", 0.7)])

    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    admitted = admit_within_budget(stream, budget=3)
    q = (
        admitted.writeStream.format("memory")
        .queryName("admitted")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()

    # batch 2: more candidates for h1 — only 1 more fits the lifetime budget
    drop("b2", [("h1", "u3", 0.95), ("h1", "u4", 0.94), ("h2", "v2", 0.6)])
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("SELECT * FROM admitted").collect()
    h1 = sorted([r for r in rows if r.host == "h1"], key=lambda r: r.admitted_seq)
    h2 = [r for r in rows if r.host == "h2"]
    assert len(h1) == 3  # budget capped across batches, not per batch
    assert [r.admitted_seq for r in h1] == [1, 2, 3]
    # batch-2 admission picked the higher-priority u3 over u4
    assert h1[2].canonical_url == "u3"
    assert len(h2) == 2  # under budget: all admitted
