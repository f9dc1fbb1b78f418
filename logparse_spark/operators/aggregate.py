"""P6 aggregate: per-sink counts that must equal the reference parser's
outputs — rule-hit histograms and per-source/per-level rollups.

One distributed aggregation reads the routed data: ``grain_counts``,
partial (map-side) + final hash aggregation after one shuffle, which
moves only partial aggregates, never rows.  Everything else is summed
from that grain.  At 100 TB the histogram (family x rule_id: ~dozens of
groups) and the rollup (source x level: thousands) are tiny, so
``write_metrics`` collects each with ``toArrow`` and writes it on the
driver (``session.write_local``).  ``run_pipeline`` caches the grain as
one partition, over which the histogram and the manifests plan with no
Exchange.  The rollup keeps one, above its Expand (whose output
partitioning is unknown): spelling it as a union of its three grouping
sets avoids it but measured no faster over one partition (~95 vs ~90 ms
a call, 3,000-row corpus, local[4]) and 2.4x slower over a
multi-partition grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logparse_spark.session import write_local


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
    """Write the three aggregate tables under one metrics root, each
    collected once with ``toArrow`` and written as one parquet file on
    the driver (``session.write_local``), replacing the previous one.

    The tables are driver-sized: the histogram has at most one row per
    (family, rule_id), i.e. rules + 1; the rollup sources x levels +
    sources + 1; family_metrics one row per family.  With `grain`
    supplied, histogram+rollup reuse the cached grain; only
    family_metrics re-scans (column-pruned: it needs raw duration_ms for
    the percentile sketch)."""
    for name, table in (("rule_histogram", rule_histogram(parsed, grain)),
                        ("source_level_rollup", source_level_rollup(parsed, grain)),
                        ("family_metrics", family_metrics(parsed))):
        write_local(table.toArrow(), f"{metrics_path}/{name}")
