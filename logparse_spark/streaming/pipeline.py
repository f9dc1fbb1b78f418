"""Structured Streaming mode (SURVEY.md §2.3 streaming row, milestone M7).

The SAME ``parse_sequences`` engine (mapInArrow is stateless, so it
lifts to streaming unchanged) over a file-source stream of sequence
parquet, with:

- watermarked event-time windowed aggregation (late data dropped past
  the watermark);
- stateful running totals and exact / watermark-bounded dedup;
- ``availableNow`` trigger for bounded catch-up runs (tests/CI).

Routing to sinks stays batch-only (operators/route.py): the sink tree
has one layout, the ``(source, bucket)`` resume quantum.

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
