"""P9 checkpoint ledger: partition-granular idempotent resume.

A tiny append-only parquet log keyed by (source, bucket), one row per
committed quantum with its row count.  On start, pending = the input's
per-quantum row counts LEFT ANTI JOIN the latest committed count of each
quantum, so a quantum whose input gained or lost rows since its commit
runs again; after the sink commit (``route``'s staged write and swap)
succeeds, one commit batch is appended as one parquet file, written on
the driver.  Re-running a quantum is an idempotent overwrite at the
sink level (a resumed ``route`` replaces every file of its one dir).
An edit that keeps a quantum's row count is not detected.

A fresh run replaces the whole sink tree, so ``run_pipeline`` clears
the ledger (:meth:`Ledger.reset`) before it changes any sink: a crash
mid-reset leaves old commits that still describe the untouched old
sinks, and a crash at any later point leaves every quantum pending, so
the next resume redoes them.

Scale: at 10^12 rows with (50 sources x 1024 buckets) the ledger is
~50k rows — driver-trivial, broadcast-trivial; the anti-join prunes the
SCAN via partition pruning on (source, bucket) before any work happens.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparse_spark.session import arrow_table, local_frame, write_local

# the commit's own columns are NOT NULL, as Spark's writer stored them
LEDGER_SCHEMA = ("source string, bucket int, status string not null, rows long, "
                 "committed_at double not null, run_id string not null")


class Ledger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        """A committed file is in the ledger dir; dot- and underscore-
        prefixed names (a crashed commit's temp file, ``_meta.json``) are
        skipped, as Spark's and pyarrow's readers skip them."""
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") and not f.startswith((".", "_"))
            for f in os.listdir(self.path)
        )

    def reset(self) -> None:
        """Remove every commit file, keeping ``_meta.json`` (the output's
        bucket count, which ``main.resolve_n_buckets`` writes before any
        reset, so the dir exists): every quantum is pending again."""
        for f in set(os.listdir(self.path)) - {"_meta.json"}:
            os.remove(os.path.join(self.path, f))

    def done(self) -> DataFrame:
        """Committed quanta: (source, bucket, rows) of each one's latest
        commit; with no ledger yet, an empty ``LocalRelation``."""
        if not self._exists():
            return local_frame(self.spark, [], "source string, bucket int, rows long")
        return (
            self.spark.read.parquet(self.path)
            .where(F.col("status") == "done")
            .groupBy("source", "bucket")
            .agg(F.max_by("rows", "committed_at").alias("rows"))
        )

    def pending(self, all_partitions: DataFrame) -> DataFrame:
        """(source, bucket) of every input quantum not committed with its
        current row count — the resume frontier."""
        counts = all_partitions.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("rows"))
        return counts.join(
            F.broadcast(self.done()), ["source", "bucket", "rows"], "left_anti"
        ).select("source", "bucket")

    def commit(self, partition_counts: DataFrame | pa.Table, run_id: str) -> None:
        """Append done-markers, one row per (source, bucket, rows) of
        ``partition_counts``, AFTER the sinks landed.

        A commit has at most one row per quantum the run wrote (sources x
        buckets), so it is collected (a DataFrame, with ``toArrow``) and
        appended as one ``LEDGER_SCHEMA`` parquet file from the driver
        (``session.write_local``): a crash before the file's rename
        leaves only a dot-prefixed temp file, and its quanta pending."""
        if isinstance(partition_counts, DataFrame):
            partition_counts = partition_counts.select("source", "bucket", "rows").toArrow()
        now = time.time()
        cols = (partition_counts[c].to_pylist() for c in ("source", "bucket", "rows"))
        rows = [(s, b, "done", n, now, run_id) for s, b, n in zip(*cols)]
        write_local(arrow_table(rows, LEDGER_SCHEMA), self.path, append=True)
