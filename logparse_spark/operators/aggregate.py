"""P6 aggregate: per-sink counts that must equal the reference parser's
outputs — rule-hit histograms and per-source/per-level rollups.

All built-in hash aggregation: partial (map-side) + final after one
shuffle, whole-stage codegen, AQE-coalesced.  At 100 TB the histogram
grain (family x rule_id: ~dozens of groups) and the rollup grain
(source x level: thousands) are both tiny outputs — the shuffle moves
only partial aggregates, never rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grain_counts(parsed: DataFrame) -> DataFrame:
    """The finest metric grain: ONE scan of the routed data produces a
    tiny additive table (sources x buckets x rules x levels) that every
    downstream aggregate (histogram, rollup, manifests, ledger counts)
    derives from without touching the big table again.

    At 10^12 rows this is the whole trick: one column-pruned pass,
    then driver-scale arithmetic.
    """
    return parsed.groupBy("source", "bucket", "family", "rule_id", "level").agg(
        F.count("*").alias("cnt"),
        F.sum("n_tok").alias("tok"),
        F.sum(
            F.crc32(F.concat_ws("|", F.col("doc_id"), F.col("rule_id")))
        ).alias("chk"),
    )


def rule_histogram(parsed: DataFrame, grain: DataFrame | None = None) -> DataFrame:
    """Rule-hit histogram (== oracle Counter over the same corpus), summed
    from the grain (built from `parsed` when not supplied)."""
    if grain is None:
        grain = grain_counts(parsed)
    return grain.groupBy("family", "rule_id").agg(F.sum("cnt").alias("cnt"))


def source_level_rollup(parsed: DataFrame, grain: DataFrame | None = None) -> DataFrame:
    """GROUP BY ROLLUP(source, level): per-source, per-source-level and
    grand-total counts (NULL-padded grouping columns), summed from the
    grain (built from `parsed` when not supplied)."""
    if grain is None:
        grain = grain_counts(parsed)
    return grain.rollup("source", "level").agg(F.sum("cnt").alias("cnt"))


def family_metrics(parsed: DataFrame) -> DataFrame:
    """Per-sink operational metrics over the promoted typed columns."""
    return parsed.groupBy("family").agg(
        F.count("*").alias("rows"),
        F.sum("n_tok").alias("total_tokens"),
        F.avg("duration_ms").alias("avg_duration_ms"),
        F.expr("percentile_approx(duration_ms, 0.99)").alias("p99_duration_ms"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
        F.sum("count").alias("event_count_sum"),
    )


def write_metrics(parsed: DataFrame, metrics_path: str,
                  grain: DataFrame | None = None) -> None:
    """Materialize the three aggregate tables under one metrics root.

    With `grain` supplied, histogram+rollup reuse the cached grain; only
    family_metrics re-scans (column-pruned: it needs raw duration_ms for
    the percentile sketch).  Outputs are driver-tiny -> coalesce(1)."""
    rule_histogram(parsed, grain).coalesce(1).write.mode("overwrite").parquet(f"{metrics_path}/rule_histogram")
    source_level_rollup(parsed, grain).coalesce(1).write.mode("overwrite").parquet(f"{metrics_path}/source_level_rollup")
    family_metrics(parsed).coalesce(1).write.mode("overwrite").parquet(f"{metrics_path}/family_metrics")
