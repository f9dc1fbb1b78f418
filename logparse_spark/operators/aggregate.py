"""P6 aggregate: per-sink counts that must equal the reference parser's
outputs — rule-hit histograms and per-source/per-level rollups.

One distributed aggregation reads the routed data: ``grain_counts``,
partial (map-side) + final hash aggregation after one shuffle, which
moves only partial aggregates, never rows.  The grain is collected once
with ``toArrow`` (``collect_grain``) and everything else is summed from
that Arrow table on the driver with pyarrow ``group_by``: the histogram
and the rollup here, the manifest rows in ``manifests.py``.  Only
``family_metrics`` reads the routed data again, in Spark: its p99 needs
the raw ``duration_ms``.  ``write_metrics`` writes the three tables on
the driver (``session.write_local``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logparse_spark.session import write_local

# the types Spark gave these tables, nullability included
HISTOGRAM_SCHEMA = pa.schema([("family", pa.string()), ("rule_id", pa.int32()),
                              ("cnt", pa.int64())])
ROLLUP_SCHEMA = pa.schema([("source", pa.string()), ("level", pa.string()),
                           ("cnt", pa.int64())])


def grain_counts(parsed: DataFrame) -> DataFrame:
    """The finest metric grain: ONE scan of the routed data produces a
    tiny additive table that every downstream aggregate (histogram,
    rollup, manifests, ledger counts) derives from without touching the
    big table again.

    Bound: one row per (source, bucket, family, rule_id, level) that
    occurs.  A quantum's manifest row holds at most rules + 1 histogram
    entries, so the grain has at most levels x quanta x (rules + 1)
    rows, and it is collected to the driver whole (``collect_grain``).

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


def collect_grain(parsed: DataFrame, grain: DataFrame | pa.Table | None = None) -> pa.Table:
    """The grain as an Arrow table: ``grain`` when it is one, else
    ``grain`` (built from ``parsed`` when not supplied) collected once
    with ``toArrow``."""
    if isinstance(grain, pa.Table):
        return grain
    return (grain_counts(parsed) if grain is None else grain).toArrow()


def sum_by(table: pa.Table, keys: list[str], cols: list[str]) -> pa.Table:
    """SUM of ``cols`` per distinct ``keys`` (null a key like any
    value), keys first, columns named as in ``table``, rows in no
    defined order.  No keys sum the whole table into one row.

    The grouping puts the primitive keys first: pyarrow 16's grouper
    splits the group of a null string key that a fixed-width key
    follows (a null source's ("source", "bucket") quantum came out as
    several partial rows)."""
    order = sorted(keys, key=lambda k: not pa.types.is_primitive(table.schema.field(k).type))
    out = table.group_by(order, use_threads=False).aggregate([(c, "sum") for c in cols])
    return out.rename_columns([*order, *cols]).select([*keys, *cols])


def rule_histogram(grain: pa.Table) -> pa.Table:
    """Rule-hit histogram (== oracle Counter over the same corpus):
    one row per (family, rule_id)."""
    return sum_by(grain, ["family", "rule_id"], ["cnt"]).cast(HISTOGRAM_SCHEMA)


def source_level_rollup(grain: pa.Table) -> pa.Table:
    """GROUP BY ROLLUP(source, level): per-source-level, per-source and
    grand-total counts, the grouping cells NULL.  As Spark's rollup: a
    NULL level in the data gives a (source, NULL) row beside the
    source's subtotal, and an empty grain gives no rows, no total."""
    if not grain.num_rows:
        return ROLLUP_SCHEMA.empty_table()
    levels = []
    for keys in (["source", "level"], ["source"], []):
        t = sum_by(grain, keys, ["cnt"])
        levels.append(pa.table(
            [t[f.name] if f.name in t.column_names else pa.nulls(t.num_rows, f.type)
             for f in ROLLUP_SCHEMA], schema=ROLLUP_SCHEMA))
    return pa.concat_tables(levels)


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
                  grain: DataFrame | pa.Table | None = None) -> None:
    """Write the three aggregate tables under one metrics root, each as
    one parquet file written on the driver (``session.write_local``),
    replacing the previous one.

    The tables are driver-sized: the histogram has at most one row per
    (family, rule_id), i.e. rules + 1; the rollup sources x levels +
    sources + 1; family_metrics one row per family.  The histogram and
    the rollup are summed from the grain (``collect_grain``);
    family_metrics is its own Spark query over ``parsed``, collected
    once with ``toArrow`` (column-pruned: it needs the raw duration_ms
    for the percentile sketch)."""
    grain = collect_grain(parsed, grain)
    for name, table in (("rule_histogram", rule_histogram(grain)),
                        ("source_level_rollup", source_level_rollup(grain)),
                        ("family_metrics", family_metrics(parsed).toArrow())):
        write_local(table, f"{metrics_path}/{name}")
