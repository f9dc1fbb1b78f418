"""Physical-plan discipline tests: the properties that make the
pipeline survive a 100x scale-up, pinned as assertions."""

from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from logparse_spark import main
from logparse_spark.engine import PARSED_ARROW_SCHEMA, parse_batch_arrow, parse_sequences
from logparse_spark.ledger import Ledger
from logparse_spark.manifests import partition_manifests
from logparse_spark.operators.aggregate import rule_histogram, source_level_rollup
from logparse_spark.operators.enrich import enrich, rules_dim
from logparse_spark.plans import (
    assert_broadcast_join,
    assert_no_shuffle,
    assert_partial_aggregation,
    assert_pushed_filters,
    assert_wholestage_codegen,
)
from logparse_spark.rulebook import compile_rulebook, rules_dim_rows
from logparse_spark.sources.datagen import generate_sequences, nodes_dim

SF = "/root/testdata/sf0.001"


def test_enrich_is_broadcast_only(spark):
    parsed = parse_sequences(generate_sequences(spark, 100))
    out = enrich(parsed, nodes_dim(spark), rules_dim(spark))
    assert_broadcast_join(out, count=2)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _parquet_input(spark, path, n=100):
    generate_sequences(spark, n).write.parquet(path)
    return spark.read.parquet(path)


def test_driver_local_tables_are_local_relations(spark, tmp_path):
    """rules_dim and the empty ledger are planned from local rows: a
    Python-list DataFrame would plan as a LogicalRDD, whose every job
    runs a second Python worker pool."""
    for df in (rules_dim(spark), Ledger(spark, str(tmp_path / "no_ledger")).done()):
        plan = _optimized(df)
        assert plan.startswith("LocalRelation"), plan


def test_rules_dim_rows_survive_the_arrow_conversion(spark):
    got = [tuple(r) for r in rules_dim(spark).collect()]
    want = rules_dim_rows()
    assert got == want
    assert [tuple(map(type, r)) for r in got] == [tuple(map(type, r)) for r in want]


def test_enrich_over_a_parquet_scan_has_no_python_rdd(spark, tmp_path):
    seq = _parquet_input(spark, str(tmp_path / "seq"))
    out = enrich(parse_sequences(seq), nodes_dim(spark), rules_dim(spark))
    assert "LogicalRDD" not in _optimized(out)


def test_resumed_run_builds_its_frontier_as_a_local_relation(spark, tmp_path, monkeypatch):
    """A resume into an output with no ledger: the frontier frame is a
    LocalRelation and nothing the run routes plans a LogicalRDD."""
    built, routed = [], []
    real_local_frame, real_route = main.local_frame, main.route

    def spy_local_frame(*args, **kwargs):
        built.append(real_local_frame(*args, **kwargs))
        return built[-1]

    def spy_route(df, *args, **kwargs):
        routed.append(_optimized(df))
        return real_route(df, *args, **kwargs)

    monkeypatch.setattr(main, "local_frame", spy_local_frame)
    monkeypatch.setattr(main, "route", spy_route)
    seq = _parquet_input(spark, str(tmp_path / "seq"), n=200)
    m = main.run_pipeline(spark, seq, str(tmp_path / "out"), n_buckets=1, resume=True)
    assert m["routed_rows"] == 200
    assert [df.columns for df in built] == [["source", "bucket"]]
    assert _optimized(built[0]).startswith("LocalRelation")
    assert len(routed) == 1 and "LogicalRDD" not in routed[0], routed


def _own_operators(df) -> str:
    """The executed plan without the subtrees of cached relations: a
    cache's plan runs once, when the cache is filled."""
    keep, cached_at = [], None
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        indent = len(line) - len(line.lstrip(" +-:"))
        if cached_at is not None and indent > cached_at:
            continue
        cached_at = indent if "InMemoryRelation" in line else None
        if cached_at is None:
            keep.append(line)
    return "\n".join(keep)


def test_metric_pass_over_the_one_partition_grain_shuffles_only_the_rollup(spark, tmp_path, monkeypatch):
    """The run's one read-back aggregation is the grain, cached as one
    partition: the histogram and the manifests summed from it shuffle
    nothing, and the rollup shuffles only above its Expand."""
    seen = []
    real = main.write_metrics

    def spy(parsed, path, grain=None):
        seen.append((grain.rdd.getNumPartitions(), {
            f.__name__: _own_operators(f(parsed, grain=grain))
            for f in (rule_histogram, source_level_rollup, partition_manifests)}))
        return real(parsed, path, grain=grain)

    monkeypatch.setattr(main, "write_metrics", spy)
    seq = _parquet_input(spark, str(tmp_path / "seq"), n=300)
    main.run_pipeline(spark, seq, str(tmp_path / "out"), n_buckets=2, resume=False)
    [(partitions, plans)] = seen
    assert partitions == 1
    assert all("InMemoryTableScan" in plan for plan in plans.values()), plans
    assert "Exchange" not in plans["rule_histogram"], plans["rule_histogram"]
    assert "Exchange" not in plans["partition_manifests"], plans["partition_manifests"]
    rollup = plans["source_level_rollup"].splitlines()
    [exchange] = [i for i, line in enumerate(rollup) if "Exchange" in line]
    assert any("Expand" in line for line in rollup[exchange:]), rollup


def test_parse_stage_ships_no_broadcast(spark, monkeypatch):
    """Only the batch crosses into the parse stage: each worker compiles
    the rulebook itself, so building and running the stage broadcasts
    nothing; the Spark schema it declares is the Arrow schema its kernel
    builds."""
    seq = generate_sequences(spark, 200)
    calls = []
    real = SparkContext.broadcast
    monkeypatch.setattr(SparkContext, "broadcast",
                        lambda sc, value: calls.append(value) or real(sc, value))
    parsed = parse_sequences(seq)
    assert parsed.count() == 200
    assert calls == []
    batch = seq.limit(20).toArrow().combine_chunks().to_batches()[0]
    built = parse_batch_arrow(batch, compile_rulebook(), PARSED_ARROW_SCHEMA).schema
    assert to_arrow_schema(parsed.schema) == built == PARSED_ARROW_SCHEMA


def test_parse_stage_has_no_shuffle(spark):
    parsed = parse_sequences(generate_sequences(spark, 100))
    assert_no_shuffle(parsed)


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").where(F.col("l_quantity") > 49.0)
    assert_pushed_filters(df, "l_quantity")


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_aggregate_codegen_and_partial_agg(spark):
    def build():
        return (
            spark.read.parquet(f"{SF}/lineitem.parquet")
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("cnt"))
        )

    assert_wholestage_codegen(build, spark)
    assert_partial_aggregation(build())
