"""P8 lineage manifests.

Per-partition lineage: one JSON-serializable row per (source, bucket)
with routed rows, tokens, unknown rows, the rule histogram, and a
content checksum — enough to audit that every input row landed in
exactly one sink and to diff two runs without re-reading the sinks.

The manifest rows are also the run's global counters: ``run_pipeline``
sums them from the collected grain (``manifest_rows``), writes them,
commits them to the ledger and sums them for the counts it returns, so
every number a run reports comes from the read-back of what it wrote.
There is at most one row per (source, bucket) quantum the run wrote —
sources x buckets, ~50k at the 1024-bucket cap — so the driver derives
them with pyarrow and writes them (``save_manifests``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from logparse_spark.operators.aggregate import collect_grain, sum_by
from logparse_spark.session import write_local

# the types Spark gave the manifest rows, nullability included
MANIFEST_SCHEMA = pa.schema([
    ("source", pa.string()), ("bucket", pa.int32()), ("routed_rows", pa.int64()),
    ("total_tokens", pa.int64()), ("unknown_rows", pa.int64()),
    pa.field("rule_histogram", pa.map_(pa.string(), pa.int64()), nullable=False),
    ("checksum", pa.int64()),
])


def manifest_rows(grain: pa.Table) -> pa.Table:
    """Per-(source, bucket) lineage rows summed from the collected grain,
    sorted by (source, bucket): counts, rule histogram, checksum.

    checksum = sum of crc32(doc_id||rule_id) — order-insensitive,
    overflow-safe at any scale (bigint sum of 32-bit values), and
    sensitive to both membership and per-row rule assignment.

    ``rule_histogram`` maps each rule_id, as a string, to its count, its
    entries in string order of the key ("-1" < "10" < "2"), as Spark's
    ``map_from_entries(array_sort(collect_list(struct(key, cnt))))``
    orders them.
    """
    per_rule = sum_by(grain, ["source", "bucket", "rule_id"], ["cnt", "tok", "chk"])
    quantum = [("source", "ascending"), ("bucket", "ascending")]
    per_rule = (per_rule
                .append_column("key", pc.cast(per_rule["rule_id"], pa.string()))
                .append_column("unknown", pc.if_else(
                    pc.equal(per_rule["rule_id"], -1), per_rule["cnt"], 0))
                .sort_by([*quantum, ("key", "ascending")]))
    # group_by orders its groups arbitrarily: sort them, and cut the
    # sorted per-rule rows into each quantum's entries by its entry count
    # bucket first, as in sum_by: a null source's group stays whole
    rows = per_rule.group_by(["bucket", "source"], use_threads=False).aggregate(
        [("cnt", "sum"), ("tok", "sum"), ("unknown", "sum"), ("chk", "sum"),
         ([], "count_all")]).sort_by(quantum)
    offsets = np.concatenate([[0], np.cumsum(rows["count_all"].to_numpy())]).astype(np.int32)
    hist = pa.MapArray.from_arrays(offsets, per_rule["key"].combine_chunks(),
                                   per_rule["cnt"].combine_chunks())
    return pa.Table.from_arrays(
        [rows["source"], rows["bucket"], rows["cnt_sum"], rows["tok_sum"],
         rows["unknown_sum"], hist, rows["chk_sum"]], schema=MANIFEST_SCHEMA)


def partition_manifests(parsed: DataFrame, grain: DataFrame | pa.Table | None = None) -> DataFrame:
    """``manifest_rows`` of the grain (``collect_grain``) as a DataFrame
    planned as a ``LocalRelation``."""
    return parsed.sparkSession.createDataFrame(manifest_rows(collect_grain(parsed, grain)))


def save_manifests(mf: pa.Table, path: str) -> None:
    """Write ``manifest_rows`` as one JSON-lines file, in its (source,
    bucket) order, each line as Spark's ``to_json(struct(*cols))``
    spells it: small (one row per partition key), human-auditable,
    diffable between runs."""
    write_local(mf, path, fmt="json")


def write_manifests(parsed: DataFrame, path: str, grain: DataFrame | pa.Table | None = None) -> None:
    save_manifests(manifest_rows(collect_grain(parsed, grain)), path)
