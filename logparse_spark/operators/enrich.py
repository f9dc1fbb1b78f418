"""P4 enrich: broadcast hash joins against small dimensions.

Moral successor of the reference's ``parse_log(lines, **extras)`` caller
extras (systemlog.py §parse_log [R-H]) — the reference injected static
node metadata per file; we join it relationally.

Scale: both dims are tiny (nodes: one row per node; rules_dim: one row
per rule) — ``F.broadcast`` pins BroadcastHashJoin so enrichment NEVER
shuffles the 10^12-row fact side.  Verified in plans/checks.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparse_spark.rulebook import RULES_DIM_SCHEMA, rules_dim_rows
from logparse_spark.session import local_frame


def rules_dim(spark: SparkSession) -> DataFrame:
    """The compiled rulebook as a dimension table (taxonomy join): one
    row per rule plus the unknown fallback, a ``LocalRelation`` built
    from an Arrow table, so its broadcast runs no Python job."""
    return local_frame(spark, rules_dim_rows(), RULES_DIM_SCHEMA)


def enrich(parsed: DataFrame, nodes: DataFrame, rules: DataFrame) -> DataFrame:
    """parsed events x nodes dim x rule taxonomy -> enriched events.

    Left joins: rows NEVER drop here (unknown sources / rule_id=-1 keep
    flowing — the reference never drops an event).
    """
    out = parsed.join(F.broadcast(nodes), "source", "left")
    out = out.join(
        F.broadcast(rules.select("rule_id", "event_product", "event_category", "event_type")),
        "rule_id",
        "left",
    )
    return out
