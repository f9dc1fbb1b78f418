"""Streaming mode: watermarked windowed counts, stateful totals and
streaming dedup over the same engine must match the batch results on
the same corpus."""

from pyspark.sql import functions as F

from logparse_spark.engine import parse_sequences
from logparse_spark.sources.datagen import generate_sequences
from logparse_spark.streaming.pipeline import (
    parse_stream,
    stateful_family_totals,
    stream_sequences,
    windowed_family_counts,
)

N = 1500


def test_streaming_windowed_counts(spark, tmp_path):
    inp = str(tmp_path / "in2")
    ckpt = str(tmp_path / "ckpt2")
    generate_sequences(spark, N, partitions=3).write.parquet(inp)

    win = windowed_family_counts(parse_stream(stream_sequences(spark, inp)),
                                 window="1 hour", watermark="2 hours")
    # complete mode: emits all windows regardless of watermark progress
    # (append mode would emit only watermark-closed windows, and an
    # availableNow run over one micro-batch closes none)
    q = (
        win.writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["start"], r["family"]): r["cnt"]
        for r in spark.sql("select * from win_counts").collect()
    }

    batch = parse_sequences(spark.read.parquet(inp))
    want = {
        (r["start"], r["family"]): r["cnt"]
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("win"), "family"
        ).agg(F.count("*").alias("cnt"))
        .select(F.col("win.start").alias("start"), "family", "cnt")
        .collect()
    }
    assert got == want


def test_stateful_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: state must accumulate across micro-batches
    (maxFilesPerTrigger=1 forces several) and the final totals must equal
    the batch groupBy counts."""
    inp = str(tmp_path / "in3")
    ckpt = str(tmp_path / "ckpt3")
    generate_sequences(spark, N, partitions=4).write.parquet(inp)

    totals = stateful_family_totals(
        parse_stream(stream_sequences(spark, inp, max_files_per_trigger=1))
    )
    q = (
        totals.writeStream.format("memory").queryName("state_totals")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    emitted = spark.sql("select * from state_totals").collect()
    # multiple micro-batches actually happened for at least the hot source
    assert max(r["batches"] for r in emitted) > 1
    final = {}
    for r in emitted:  # last emission per key carries the running total
        k = (r["source"], r["family"])
        if k not in final or r["batches"] > final[k][1]:
            final[k] = (r["total"], r["batches"])
    want = {
        (r["source"], r["family"]): r["cnt"]
        for r in parse_sequences(spark.read.parquet(inp))
        .groupBy("source", "family").agg(F.count("*").alias("cnt")).collect()
    }
    assert {k: v[0] for k, v in final.items()} == want


def test_streaming_dedup_equals_batch_distinct(spark, tmp_path):
    """The same corpus arrives TWICE as separate files (forced into
    separate micro-batches via maxFilesPerTrigger=1): the second arrival
    is 100% already-seen, so the drained output must equal ONE copy —
    i.e. exactly the batch `GROUP BY md5(text)` distinct set.  This pins
    the cross-micro-batch state (in-batch dedup alone would pass a
    single-batch test)."""
    import shutil

    from logparse_spark.streaming.pipeline import dedup_stream

    batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "dedup_in")
    batch.coalesce(1).write.parquet(inp)
    batch.coalesce(1).write.mode("append").parquet(inp)  # the re-crawl
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1).parquet(inp)
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        dedup_stream(stream).writeStream.format("memory")
        .queryName("stream_dedup").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql("select fp, doc_id from stream_dedup").collect()
    want_fps = {
        r["fp"] for r in batch.select(F.md5("text").alias("fp")).distinct().collect()
    }
    assert {r["fp"] for r in got} == want_fps
    assert len(got) == len(want_fps)  # one survivor per fingerprint, ever
    spark.catalog.dropTempView("stream_dedup")
    shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_dedup_watermark_variant_bounds_state(spark, tmp_path):
    """The ts-keyed variant must produce the same per-key first rows on a
    bounded drain (no key recurs past the watermark in one batch) while
    declaring the watermark that lets the state store evict."""
    import shutil

    from logparse_spark.streaming.pipeline import dedup_stream

    rows = [("a", "dup text", "2015-03-30 00:00:00"),
            ("b", "dup text", "2015-03-30 00:01:00"),
            ("c", "other", "2015-03-30 00:02:00")]
    inp = str(tmp_path / "wm_in")
    spark.createDataFrame(rows, "doc_id string, text string, ts_s string") \
        .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s") \
        .write.parquet(inp)
    stream = spark.readStream.schema("doc_id string, text string, ts timestamp").parquet(inp)
    ckpt = str(tmp_path / "wm_ckpt")
    q = (
        dedup_stream(stream, ts_col="ts").writeStream.format("memory")
        .queryName("stream_dedup_wm").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r["fp"]: r["doc_id"] for r in spark.sql("select * from stream_dedup_wm").collect()}
    assert len(got) == 2  # one per distinct text
    spark.catalog.dropTempView("stream_dedup_wm")
    shutil.rmtree(ckpt, ignore_errors=True)
