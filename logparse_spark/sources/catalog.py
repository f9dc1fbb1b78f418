"""Table catalog: Iceberg when the runtime has it, partitioned Parquet
otherwise (this sandbox ships no Iceberg jars — SURVEY.md §7 [ENV]).

The pipeline is written against this thin seam so the production
deployment (Iceberg: snapshot-atomic commits, partition specs with
bucket(doc_id), metadata-only partition listing) and the sandbox
(plain parquet dirs + dynamic partition overwrite) share every line of
pipeline code above this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """Capability probe: can this session resolve the Iceberg source?"""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:  # noqa: BLE001 - any resolution failure means "no"
        return False


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.iceberg = iceberg_available(spark)

    def path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def read(self, table: str) -> DataFrame:
        if self.iceberg:
            return self.spark.read.format("iceberg").load(self.path(table))
        return self.spark.read.option("basePath", self.path(table)).parquet(self.path(table))

    def write(self, df: DataFrame, table: str, partition_by: list[str],
              mode: str = "overwrite") -> None:
        """Write `df` partitioned by `partition_by`; an overwrite replaces
        only the partitions `df` holds (dynamic overwrite, requested as a
        write option, so the session conf is left alone)."""
        w = df.write.mode(mode).partitionBy(*partition_by)
        if self.iceberg:
            w.format("iceberg").option("overwrite-mode", "dynamic").save(self.path(table))
        else:
            w.option("partitionOverwriteMode", "dynamic").parquet(self.path(table))
