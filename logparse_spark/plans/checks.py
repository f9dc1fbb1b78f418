"""Plan checks: turn `.explain()` eyeballing into assertions.

"Would this plan survive a 100x scale-up?" is a property of the
physical plan: broadcast joins stay broadcast, filters reach the scan,
the parse stage has no shuffle.  Tests pin these so a refactor that
silently degrades the plan (e.g. loses a broadcast hint and goes
sort-merge) fails CI, not the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_broadcast_join(df: DataFrame, count: int | None = None) -> None:
    plan = executed_plan(df)
    found = plan.count("BroadcastHashJoin")
    assert found >= 1, f"expected BroadcastHashJoin, plan:\n{plan[:4000]}"
    if count is not None:
        assert found == count, f"expected {count} broadcast joins, found {found}"
    assert "SortMergeJoin" not in plan, f"unexpected SortMergeJoin:\n{plan[:4000]}"


def assert_no_shuffle(df: DataFrame) -> None:
    plan = executed_plan(df)
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), (
        f"unexpected shuffle Exchange in plan:\n{plan[:4000]}"
    )


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    """The parquet scan must carry PushedFilters mentioning `fragment`."""
    plan = executed_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return
    raise AssertionError(f"no PushedFilters containing {fragment!r}:\n{plan[:4000]}")


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def assert_wholestage_codegen(build_df, spark) -> None:
    """`build_df()` is re-planned with AQE off (AQE defers codegen
    annotation until stages materialize, hiding the spans from explain)."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = executed_plan(build_df())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert "WholeStageCodegen" in plan or "*(" in plan, (
        f"no codegen span:\n{plan[:2000]}"
    )


def assert_partial_aggregation(df: DataFrame) -> None:
    """Map-side combine before the shuffle (partial+final hash agg)."""
    plan = executed_plan(df)
    assert "partial_" in plan, f"no partial aggregation:\n{plan[:3000]}"
