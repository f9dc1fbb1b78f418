"""As-of join (SURVEY.md §2.3 theta/range/as-of row): for each left row,
the latest right row with right.ts <= left.ts within the same key.

``asof_join_pandas`` runs ``pd.merge_asof`` per cogrouped key bucket
(``applyInPandas``), the shape that also carries semantics Spark can't
compose (tolerance bands, nearest-direction, multi-column asof).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_join_pandas(
    left: DataFrame, right: DataFrame, key: str, ts: str,
    right_val: str, out_col: str | None = None,
    tolerance=None, coarse_buckets: int = 64,
) -> DataFrame:
    """pd.merge_asof per co-grouped COARSE bucket (Arrow-batched).

    Cogrouping directly on `key` makes one Python call per key — pure
    interpreter overhead when keys are small (measured 7.2 s at sf0.1).
    Instead both sides cogroup on pmod(hash(key), coarse_buckets) and
    pandas handles the per-key alignment itself via merge_asof(by=key)
    — `coarse_buckets` Python calls total, each a C-speed sorted merge.
    """
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    out_col = out_col or f"asof_{right_val}"
    # build a FRESH StructType: StructType.add mutates the df's schema
    out_schema = StructType(
        list(left.schema.fields)
        + [StructField(out_col, right.schema[right_val].dataType)]
    )

    # rename the right side internally: shared column names across the
    # two cogroup children trip Catalyst's column pruning (it rewrites
    # the right child's projection and drops the ts column)
    r = right.select(
        F.col(key).alias("_rk"), F.col(ts).alias("_rts"),
        F.col(right_val).alias("_rv"),
        F.pmod(F.hash(F.col(key)), F.lit(coarse_buckets)).alias("_rg"),
    )
    l_tag = left.withColumn("_g", F.pmod(F.hash(F.col(key)), F.lit(coarse_buckets)))

    def merge(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        l_sorted = l_pdf.drop(columns=["_g"]).sort_values(ts, kind="mergesort")
        if r_pdf.empty:
            l_sorted[out_col] = None
            return l_sorted
        r_sorted = (
            r_pdf[["_rk", "_rts", "_rv"]]
            .sort_values("_rts", kind="mergesort")
            .rename(columns={"_rts": ts, "_rv": out_col})
        )
        kwargs = {"tolerance": tolerance} if tolerance is not None else {}
        return pd.merge_asof(
            l_sorted, r_sorted, on=ts, left_by=key, right_by="_rk",
            direction="backward", **kwargs,
        ).drop(columns=["_rk"])

    return (
        l_tag.groupBy("_g")
        .cogroup(r.groupBy("_rg"))
        .applyInPandas(merge, schema=out_schema)
    )
