"""Structured-Streaming windowed aggregation with watermark over the events
stream (late-data handling for crawl metrics — fetches/sec per host class)."""

from pyspark.sql import functions as F


def test_windowed_agg_with_watermark(spark, tmp_path):
    in_dir = tmp_path / "ev"
    in_dir.mkdir()
    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .limit(500)
        .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> event-time
    )
    events.write.mode("append").parquet(str(in_dir))

    stream = spark.readStream.schema(events.schema).parquet(str(in_dir))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("ev_agg")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # append mode emits only watermark-closed windows; verify the closed
    # windows match the batch aggregation exactly
    got = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM ev_agg").collect()
    }
    assert got, "watermark should have closed at least one window"
    batch = {
        ((r["window"]["start"]), r["event_type"]): (r["n"], r["total"])
        for r in events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    for key, val in got.items():
        assert batch[key][0] == val[0]
        assert abs(batch[key][1] - val[1]) < 1e-6
