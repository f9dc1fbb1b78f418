"""Structured Streaming mode (SURVEY.md §2.3 streaming row, milestone M7).

The SAME ``parse_sequences`` engine (mapInArrow is stateless, so it
lifts to streaming unchanged) over a file-source stream of sequence
parquet, with:

- watermarked event-time windowed aggregation (late data dropped past
  the watermark);
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
