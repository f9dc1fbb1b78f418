"""P8 lineage manifests.

Per-partition lineage: one JSON-serializable row per (source, bucket)
with routed rows, tokens, unknown rows, the rule histogram, and a
content checksum — enough to audit that every input row landed in
exactly one sink and to diff two runs without re-reading the sinks.

The manifest rows are also the run's global counters: ``run_pipeline``
collects them once (``toArrow``), writes them, commits them to the
ledger and sums them for the counts it returns, so every number a run
reports comes from the read-back of what it wrote.  There is at most one
row per (source, bucket) quantum the run wrote — sources x buckets, ~50k
at the 1024-bucket cap — so the driver writes them (``save_manifests``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logparse_spark.operators.aggregate import grain_counts
from logparse_spark.session import write_local


def partition_manifests(parsed: DataFrame, grain: DataFrame | None = None) -> DataFrame:
    """Per-(source,bucket) lineage row: counts, rule histogram, checksum.

    checksum = sum of crc32(doc_id||rule_id) — order-insensitive,
    overflow-safe at any scale (bigint sum of 32-bit values), and
    sensitive to both membership and per-row rule assignment.

    Derives from the grain_counts table (built from `parsed` when not
    supplied) — no extra pass over the routed data when it is cached.
    """
    if grain is None:
        grain = grain_counts(parsed)
    per_rule = grain.groupBy("source", "bucket", "rule_id").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("tok").alias("tok"),
        F.sum("chk").alias("chk"),
    )
    return per_rule.groupBy("source", "bucket").agg(
        F.sum("cnt").alias("routed_rows"),
        F.sum("tok").alias("total_tokens"),
        F.sum(F.when(F.col("rule_id") == -1, F.col("cnt")).otherwise(0)).alias("unknown_rows"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(F.col("rule_id").cast("string"), F.col("cnt"))))
        ).alias("rule_histogram"),
        F.sum("chk").alias("checksum"),
    )


def save_manifests(mf: pa.Table, path: str) -> None:
    """Write collected partition_manifests rows as one JSON-lines file,
    sorted by (source, bucket), each line as Spark's
    ``to_json(struct(*cols))`` spells it: small (one row per partition
    key), human-auditable, diffable between runs."""
    write_local(mf.sort_by([("source", "ascending"), ("bucket", "ascending")]), path, fmt="json")


def write_manifests(parsed: DataFrame, path: str, grain: DataFrame | None = None) -> None:
    save_manifests(partition_manifests(parsed, grain).toArrow(), path)
