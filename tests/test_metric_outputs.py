"""The metric pass's five driver-written outputs — the three metric
tables, the manifests and the ledger: their format, and what a crash
while writing them leaves behind."""

import json
import os
import random

import pyarrow as pa
import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from logparse_spark.engine import parse_sequences
from logparse_spark.ledger import LEDGER_SCHEMA, Ledger
from logparse_spark.main import run_pipeline
from logparse_spark.manifests import manifest_rows, partition_manifests
from logparse_spark.operators.aggregate import grain_counts, rule_histogram, source_level_rollup
from logparse_spark.operators.enrich import enrich, rules_dim
from logparse_spark.operators.route import with_bucket
from logparse_spark.session import _json_lines, arrow_table
from logparse_spark.sources.datagen import generate_sequences, nodes_dim

# the types Spark's writers gave these tables, nullability included
METRIC_SCHEMAS = {
    "rule_histogram": pa.schema([("family", pa.string()), ("rule_id", pa.int32()),
                                 ("cnt", pa.int64())]),
    "source_level_rollup": pa.schema([("source", pa.string()), ("level", pa.string()),
                                      ("cnt", pa.int64())]),
    "family_metrics": pa.schema([
        ("family", pa.string()), pa.field("rows", pa.int64(), nullable=False),
        ("total_tokens", pa.int64()), ("avg_duration_ms", pa.float64()),
        ("p99_duration_ms", pa.int64()), ("bytes_in", pa.int64()), ("bytes_out", pa.int64()),
        ("event_count_sum", pa.int64())]),
}
MANIFEST_KEYS = ["source", "bucket", "routed_rows", "total_tokens", "unknown_rows",
                 "rule_histogram", "checksum"]
SOURCES = ["007", "a/b", "q:r", "naïve", 'say "hi"', "esc\x1bape", "back\\u001bslash"]


GRAIN_SCHEMA = ("source string, bucket int, family string, rule_id int, level string, "
                "cnt bigint not null, tok bigint, chk bigint")
# a NULL level; rule_ids whose string order (-1, 10, 2) is not their
# numeric order; quanta of unknown rows only; a quantum with no tokens
ADVERSARIAL_GRAIN = [
    ("007", 0, "gc", 2, "INFO", 3, 30, 111),
    ("007", 0, "gc", 2, "WARN", 2, 20, 1234),
    ("007", 0, "compaction", 10, "WARN", 1, 7, 222),
    ("007", 0, "unknown", -1, None, 2, 5, 333),
    ("007", 1, "gc", 2, "INFO", 4, 40, 444),
    ("a/b", 0, "compaction", 10, "INFO", 5, 50, 555),
    ("a/b", 0, "gc", 2, "INFO", 1, 11, 666),
    ("a/b", 0, "unknown", -1, "INFO", 7, 70, 2**40),
    ("naïve", 3, "unknown", -1, "ERROR", 2, 9, 777),
    ("naïve", 3, "unknown", -1, None, 1, 1, 888),
    ("esc\x1bape", 1, "flush", 2, None, 6, 60, 999),
    ("esc\x1bape", 2, "flush", 10, "INFO", 1, None, 5),
    ("esc\x1bape", 2, "flush", 10, "DEBUG", 3, None, 6),
]

# enough quanta, in shuffled order, that pyarrow's group_by returns its
# groups out of (source, bucket) order
WIDE_GRAIN = [(f"node-{s:03d}", b, "gc", r, lvl, 1 + s % 3, s, s * 31 + r)
              for s in range(50) for b in (0, 1) for r in (-1, 2, 10, 939)[s % 3:]
              for lvl in ("INFO", "WARN")]
random.Random(7).shuffle(WIDE_GRAIN)

# null sources in many quanta: pyarrow's grouper must keep each whole
NULL_SOURCE_GRAIN = [(None if s % 2 else f"node-{s:03d}", b, "gc", r, lvl, 1 + s % 3, s, s + r)
                     for s in range(12) for b in (0, 1) for r in (-1, 2, 10)
                     for lvl in ("INFO", None)]
random.Random(11).shuffle(NULL_SOURCE_GRAIN)


def _spark_manifests(grain):
    """The manifest rows as Spark SQL aggregates them from the grain."""
    per_rule = grain.groupBy("source", "bucket", "rule_id").agg(
        F.sum("cnt").alias("cnt"), F.sum("tok").alias("tok"), F.sum("chk").alias("chk"))
    return per_rule.groupBy("source", "bucket").agg(
        F.sum("cnt").alias("routed_rows"),
        F.sum("tok").alias("total_tokens"),
        F.sum(F.when(F.col("rule_id") == -1, F.col("cnt")).otherwise(0)).alias("unknown_rows"),
        F.map_from_entries(F.array_sort(F.collect_list(
            F.struct(F.col("rule_id").cast("string"), F.col("cnt"))))).alias("rule_histogram"),
        F.sum("chk").alias("checksum"),
    )


def _with_sources(spark, n, sources):
    return generate_sequences(spark, n, partitions=2).withColumn(
        "source", F.element_at(F.array(*map(F.lit, sources)),
                               F.pmod(F.crc32("doc_id"), F.lit(len(sources))).cast("int") + 1))


def _visible(path):
    return sorted(n for n in os.listdir(path) if not n.startswith((".", "_")))


def _hidden(path):
    return sorted(n for n in os.listdir(path) if n.startswith("."))


def test_json_lines_are_spark_to_json(spark):
    rows = [(s, i, 2**40 + i, {"-1": i, "10": 2}, None if i % 2 else i)
            for i, s in enumerate(SOURCES + ["", "tab\tnew\nline", "\x7f /"])]
    df = spark.createDataFrame(rows, "source string, bucket int, n long, "
                                     "hist map<string, bigint>, maybe long")
    want = [r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()]
    assert [line.rstrip("\n") for line in _json_lines(df.toArrow())] == want


def _rows(table):
    return sorted(table.to_pylist(), key=repr)


@pytest.mark.parametrize("rows", [ADVERSARIAL_GRAIN, WIDE_GRAIN, NULL_SOURCE_GRAIN, []],
                         ids=["adversarial", "wide", "null_sources", "empty"])
def test_driver_derivations_equal_spark_sql(spark, rows):
    """The histogram, the rollup and the manifest rows summed from the
    grain with pyarrow equal Spark SQL's groupBy / rollup /
    map_from_entries(array_sort(collect_list(...))) over the same grain:
    rows (map entries in order) and Arrow schemas."""
    grain = arrow_table(rows, GRAIN_SCHEMA)
    df = spark.createDataFrame(grain, GRAIN_SCHEMA)
    hist = df.groupBy("family", "rule_id").agg(F.sum("cnt").alias("cnt")).toArrow()
    rollup = df.rollup("source", "level").agg(F.sum("cnt").alias("cnt")).toArrow()
    mf = _spark_manifests(df).toArrow()
    for got, want in ((rule_histogram(grain), hist), (source_level_rollup(grain), rollup),
                      (manifest_rows(grain), mf)):
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
    got = manifest_rows(grain)
    assert got.select(["source", "bucket"]).to_pylist() == sorted(  # a null source last
        got.select(["source", "bucket"]).to_pylist(),
        key=lambda r: (r["source"] is None, r["source"] or "", r["bucket"]))
    # the DataFrame call shape: the same rows, planned from local data
    frame = partition_manifests(df, grain=df)
    assert frame._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")
    assert frame.toArrow() == got


def test_outputs_keep_their_format_and_read_back(spark, tmp_path):
    seq = _with_sources(spark, 600, SOURCES)
    out = str(tmp_path / "out")
    run_pipeline(spark, seq, out, n_buckets=2, resume=False)

    for name, schema in METRIC_SCHEMAS.items():
        path = f"{out}/metrics/{name}"
        table = ds.dataset(path, format="parquet").to_table()
        assert table.schema.remove_metadata() == schema, name
        back = spark.read.parquet(path)
        assert back.columns == schema.names and back.count() == table.num_rows > 0, name

    ledger = ds.dataset(f"{out}/ledger", format="parquet").to_table()
    assert ledger.schema.remove_metadata() == to_arrow_schema(StructType.fromDDL(LEDGER_SCHEMA))
    assert ledger.schema.field("bucket").type == pa.int32()
    assert spark.read.parquet(f"{out}/ledger").count() == ledger.num_rows

    # the manifests: Spark's to_json of each row as Spark SQL aggregates
    # it, sorted by (source, bucket)
    direct = with_bucket(enrich(parse_sequences(seq), nodes_dim(spark), rules_dim(spark)), 2)
    mf = _spark_manifests(grain_counts(direct)).orderBy("source", "bucket")
    want = [r[0] for r in mf.select(F.to_json(F.struct(*mf.columns))).collect()]
    [name] = _visible(f"{out}/manifests")
    with open(f"{out}/manifests/{name}", encoding="utf-8") as f:
        got = f.read().splitlines()
    assert got == want
    assert {json.loads(line)["source"] for line in got} == set(SOURCES)
    assert [list(json.loads(line)) for line in got] == [MANIFEST_KEYS] * len(got)
    assert spark.read.json(f"{out}/manifests").count() == len(got) == ledger.num_rows
    assert ds.dataset(f"{out}/manifests", format="json").count_rows() == len(got)


def test_a_crash_at_the_rename_leaves_only_temp_files(spark, tmp_path, monkeypatch):
    """A ledger commit or a metric table whose rename raises leaves only
    a dot-prefixed temp file, which every reader skips; the quanta stay
    pending and a clean re-run commits each once."""
    seq = generate_sequences(spark, 400, partitions=2)
    out = str(tmp_path / "out")
    led = f"{out}/ledger"
    ledger = Ledger(spark, led)
    quanta = sorted(map(tuple, with_bucket(seq, 2).groupBy("source", "bucket").count().collect()))
    real_rename, real_pending = os.rename, Ledger.pending

    def run_crashing_in(dirname, k=None):
        def rename(src, dst):
            if os.path.basename(os.path.dirname(dst)) == dirname:
                raise OSError("crash at the rename")
            return real_rename(src, dst)

        with monkeypatch.context() as m:
            m.setattr(os, "rename", rename)
            if k is not None:  # process only the first k pending quanta
                m.setattr(Ledger, "pending",
                          lambda self, parts: real_pending(self, parts)
                          .orderBy("source", "bucket").limit(k))
            if dirname is None:
                return run_pipeline(spark, seq, out, n_buckets=2)
            with pytest.raises(OSError, match="crash at the rename"):
                run_pipeline(spark, seq, out, n_buckets=2)

    def committed():
        return sorted(map(tuple, ledger.done().select("source", "bucket", "rows").collect()))

    # mid-append, on the first commit: the ledger holds no committed file
    run_crashing_in("ledger")
    assert _visible(led) == [] and _hidden(led)
    assert ledger._commit_files() == [] and committed() == []
    assert ds.dataset(led, format="parquet").count_rows() == 0
    assert spark.read.schema(LEDGER_SCHEMA).parquet(led).count() == 0
    assert ledger.pending(with_bucket(seq, 2)).count() == len(quanta)

    run_crashing_in(None, k=3)
    files = _visible(led)
    assert committed() == quanta[:3]

    # mid-append over committed files: they are all a reader finds
    run_crashing_in("ledger")
    assert _visible(led) == files
    assert committed() == quanta[:3]
    assert spark.read.parquet(led).count() == ds.dataset(led, format="parquet").count_rows() == 3

    # mid-replace: the previous table is gone, its temp file is skipped
    hist = f"{out}/metrics/rule_histogram"
    run_crashing_in("rule_histogram")
    assert _visible(hist) == [] and _hidden(hist)
    assert ds.dataset(hist, format="parquet").count_rows() == 0
    assert spark.read.schema("family string, rule_id int, cnt long").parquet(hist).count() == 0
    assert committed() == quanta[:3]

    # a clean re-run commits every pending quantum exactly once
    m = run_crashing_in(None)
    assert m["routed_rows"] == sum(n for *_, n in quanta[3:])
    assert _visible(hist) == ["part-00000.parquet"] and not _hidden(hist)
    rows = sorted(map(tuple, spark.read.parquet(led).select("source", "bucket", "rows").collect()))
    assert rows == committed() == quanta
    assert ledger.pending(with_bucket(seq, 2)).count() == 0
