"""Physical-plan discipline tests: the properties that make the
pipeline survive a 100x scale-up, pinned as assertions."""

import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from logparse_spark import main
from logparse_spark.engine import PARSED_ARROW_SCHEMA, parse_batch_arrow, parse_sequences
from logparse_spark.ledger import Ledger
from logparse_spark.operators import aggregate
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
    """rules_dim and the ledger's committed quanta, empty or not, are
    planned from local rows: a Python-list DataFrame would plan as a
    LogicalRDD, whose every job runs a second Python worker pool, and
    reading the commit files through Spark runs jobs of its own."""
    ledger = Ledger(spark, str(tmp_path / "ledger"))
    frames = [rules_dim(spark), ledger.done()]
    ledger.commit(pa.table({"source": ["s1"], "bucket": [0], "rows": [3]}), "r1")
    frames.append(ledger.done())
    for df in frames:
        plan = _optimized(df)
        assert plan.startswith("LocalRelation"), plan
    assert [tuple(r) for r in frames[-1].collect()] == [("s1", 0, 3)]


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


def test_metric_pass_is_two_queries_over_the_read_back_and_caches_nothing(spark, tmp_path, monkeypatch):
    """The metric pass runs two Spark queries over the read-back, the
    grain and family_metrics, each collected once with toArrow; the
    histogram, the rollup and the manifests are summed from the
    collected grain on the driver.  Nothing is cached."""
    built, calls = {}, []

    def spy_build(module, name):
        real = getattr(module, name)

        def build(*args, **kwargs):
            built[name] = real(*args, **kwargs)
            return built[name]
        monkeypatch.setattr(module, name, build)

    def spy_call(cls, name):
        real = getattr(cls, name)
        monkeypatch.setattr(cls, name, lambda df, *a, **kw: calls.append((name, df)) or real(df, *a, **kw))

    seq = _parquet_input(spark, str(tmp_path / "seq"), n=300)
    persisted = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    spy_build(main, "grain_counts")
    spy_build(aggregate, "family_metrics")
    for name in ("toArrow", "collect", "count", "toPandas", "cache", "persist"):
        spy_call(type(seq), name)
    out = str(tmp_path / "out")
    m = main.run_pipeline(spark, seq, out, n_buckets=2, resume=False)
    assert m["routed_rows"] == 300
    assert [name for name, _ in calls] == ["toArrow", "toArrow"], calls
    assert calls[0][1] is built["grain_counts"] and calls[1][1] is built["family_metrics"]
    for df in built.values():
        files = df.inputFiles()
        assert files and all(f.startswith(f"file://{out}/sinks/") for f in files), files
        assert "InMemoryRelation" not in df._jdf.queryExecution().executedPlan().toString()
    assert set(dict(spark.sparkContext._jsc.getPersistentRDDs())) <= persisted


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
