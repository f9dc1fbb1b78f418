"""Structured Streaming mode (SURVEY.md §2.3 streaming row, milestone M7).

The SAME ``parse_sequences`` engine (mapInArrow is stateless, so it
lifts to streaming unchanged) over a file-source stream of sequence
parquet, with:

- watermarked event-time windowed aggregation (late data dropped past
  the watermark);
- fan-out routing via ``foreachBatch`` (per-micro-batch partitionBy
  write — the streaming twin of operators/route.py);
- ``availableNow`` trigger for bounded catch-up runs (tests/CI).

The reference is strictly batch (one-pass generator); streaming is an
extension the Spark architecture gives nearly for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparse_spark.engine import parse_sequences
from logparse_spark.sources.datagen import SEQUENCES_SCHEMA


def stream_sequences(spark: SparkSession, path: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(SEQUENCES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def parse_stream(stream: DataFrame) -> DataFrame:
    return parse_sequences(stream)


def windowed_family_counts(parsed: DataFrame, window: str = "1 minute",
                           watermark: str = "10 minutes") -> DataFrame:
    """Event-time windowed rule-family counts with late-data bound."""
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "family")
        .agg(F.count("*").alias("cnt"), F.sum("n_tok").alias("total_tokens"))
        .select("win.start", "win.end", "family", "cnt", "total_tokens")
    )


def dedup_stream(df: DataFrame, text_col: str = "text",
                 ts_col: str | None = None,
                 watermark_delay: str = "10 minutes") -> DataFrame:
    """Streaming EXACT dedup: keep the first-seen row per content
    fingerprint — the incremental twin of operators/dedup.exact dedup
    for a corpus that arrives continuously (the training-data ingest
    shape: new crawl shards land, already-seen documents must not be
    re-emitted).

    State discipline at scale: the state store holds ONE 32-char md5
    per distinct key, never the text.  With `ts_col` given, uses
    `dropDuplicatesWithinWatermark` so state for keys older than the
    watermark is EVICTED — bounded state forever, the only shape that
    survives an unbounded stream.  Without `ts_col` (bounded catch-up
    runs, availableNow), plain `dropDuplicates` keeps all keys for
    exact global dedup.

    Exactly checkable: an availableNow drain emits one row per distinct
    fingerprint == batch `GROUP BY md5(text)` (pinned in
    tests/test_streaming.py)."""
    keyed = df.withColumn("fp", F.md5(F.col(text_col)))
    if ts_col is not None:
        return keyed.withWatermark(ts_col, watermark_delay) \
            .dropDuplicatesWithinWatermark(["fp"])
    return keyed.dropDuplicates(["fp"])


def route_stream(parsed: DataFrame, sinks_path: str, checkpoint: str):
    """Streaming fan-out: per-micro-batch partitioned write.

    foreachBatch is at-least-once: a micro-batch retried after a crash
    between write and checkpoint commit would duplicate rows under
    mode('append').  Partitioning by (family, batch_id) with dynamic
    partition overwrite makes the retry idempotent — the replayed batch
    overwrites exactly its own partitions.

    LAYOUT v2 (breaking): sinks gained a `batch_id` partition column vs
    the round-1 family-partitioned append layout.  Do not mix layouts in
    one `sinks_path` — old appended files are not overwrite-managed and
    would survive as stale rows; point v2 runs at a fresh (or versioned)
    directory.  Idempotency further assumes a deterministic REPLAYABLE
    source (the file source here): a non-replayable source can re-batch
    rows under a different batch_id on retry.
    """

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("family", "batch_id")
            .parquet(sinks_path)
        )

    return (
        parsed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stateful_family_totals(parsed: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    running per-(source, family) event totals maintained across
    micro-batches — the arbitrary-state hook the built-in windowed aggs
    can't express (e.g. monotone counters, EWMA, custom eviction).

    Emits one row per key per micro-batch with the cumulative total and
    the number of batches that key has appeared in.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_totals(key, pdfs, state):
        total, batches = state.get if state.exists else (0, 0)
        rows = sum(len(p) for p in pdfs)
        total += rows
        batches += 1
        state.update((total, batches))
        yield pd.DataFrame(
            {"source": [key[0]], "family": [key[1]],
             "total": [total], "batches": [batches]}
        )

    return parsed.groupBy("source", "family").applyInPandasWithState(
        update_totals,
        outputStructType="source string, family string, total long, batches int",
        stateStructType="total long, batches int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(spark: SparkSession, input_path: str, sinks_path: str,
                      checkpoint: str) -> None:
    """Bounded streaming run: process everything currently available."""
    q = route_stream(parse_stream(stream_sequences(spark, input_path)),
                     sinks_path, checkpoint)
    q.awaitTermination()
