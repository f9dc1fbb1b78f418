"""Streaming mode: watermarked windowed counts over the same engine must
match the batch results on the same corpus."""

from pyspark.sql import functions as F

from logparse_spark.engine import parse_sequences
from logparse_spark.sources.datagen import generate_sequences
from logparse_spark.streaming.pipeline import (
    parse_stream,
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
