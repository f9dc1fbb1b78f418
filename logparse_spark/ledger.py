"""P9 checkpoint ledger: partition-granular idempotent resume.

A tiny append-only parquet log keyed by (source, bucket), one row per
committed quantum with its row count.  On start, pending = the input's
per-quantum row counts LEFT ANTI JOIN the latest committed count of each
quantum, so a quantum whose input gained or lost rows since its commit
runs again; after the sink write succeeds, one commit batch is appended.
Re-running a quantum is an idempotent overwrite at the sink level
(dynamic partition overwrite replaces its one dir whole).  An edit that
keeps a quantum's row count is not detected.

Scale: at 10^12 rows with (50 sources x 1024 buckets) the ledger is
~50k rows — driver-trivial, broadcast-trivial; the anti-join prunes the
SCAN via partition pruning on (source, bucket) before any work happens.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparse_spark.session import local_frame

LEDGER_SCHEMA = "source string, bucket int, status string, rows long, committed_at double, run_id string"


class Ledger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

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

    def commit(self, partition_counts: DataFrame, run_id: str) -> None:
        """Append done-markers (one row per partition) AFTER sinks landed."""
        rows = (
            partition_counts.select("source", "bucket", "rows")
            .withColumn("status", F.lit("done"))
            .withColumn("committed_at", F.lit(time.time()))
            .withColumn("run_id", F.lit(run_id))
            .select("source", "bucket", "status", "rows", "committed_at", "run_id")
        )
        rows.coalesce(1).write.mode("append").parquet(self.path)
