"""Typed per-family sink views: promote each family's captured fields
out of the sparse `fields` map into typed columns, driven by the
rulebook's converter metadata (single source of truth).

This is the "user of the reference switches over" API: where reference
consumers did ``event['duration']`` on a dict, a Spark consumer does
``sink_view(spark, sinks, 'gc').select('duration', ...)`` and gets a
real LongType column — derived, not duplicated, from rulebook.RULES.

Column typing: converter 'int'/'comma_int' -> bigint, 'float' -> double,
no converter -> string.  Fields captured by several of a family's rules
appear once; rows from rules that lack a field carry NULL (the sparse
dict semantics, faithfully).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparse_spark.operators.route import read_sink
from logparse_spark.rulebook import RULES

_CONV_TYPE = {"int": "bigint", "comma_int": "bigint", "float": "double"}


def family_field_types(family: str) -> dict[str, str]:
    """Ordered {field: spark_type} union over the family's rules."""
    out: dict[str, str] = {}
    import re

    for r in RULES:
        if r.family != family:
            continue
        for g in re.compile(r.regex).groupindex:
            t = _CONV_TYPE.get(r.converters.get(g, ""), "string")
            prev = out.get(g)
            out[g] = t if prev in (None, t) else "string"  # type conflict -> string
    return out


def typed_view(parsed: DataFrame, family: str) -> DataFrame:
    """Promote `fields` map entries to typed columns for one family."""
    df = parsed.where(F.col("family") == family)
    for fname, typ in family_field_types(family).items():
        col = F.element_at(F.col("fields"), fname)
        df = df.withColumn(fname, col.cast(typ) if typ != "string" else col)
    return df.drop("fields")


def sink_view(spark: SparkSession, sinks_path: str, family: str) -> DataFrame:
    """Typed view over one family's routed sink: the sink files are
    family-sorted within each (source, bucket) dir, so the family filter
    prunes by parquet row groups, not by directory."""
    return typed_view(read_sink(spark, sinks_path, family), family)
