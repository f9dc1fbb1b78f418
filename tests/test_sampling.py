"""Deterministic sampling operators vs a DuckDB oracle computing the
IDENTICAL md5-prefix hash, plus determinism and plan-shape pins."""

import duckdb
import pytest

from logparse_spark.operators import sampling as sp


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _duck():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    return con


_HASH_SQL = (
    "CAST(CAST('0x' || substring(md5(doc_id || chr(31) || '{seed}'), 1, 15) "
    "AS BIGINT) AS BIGINT)"
)


def test_stratified_sample_matches_duckdb_oracle(docs):
    k, seed = 3, 42
    got = {r["doc_id"] for r in sp.stratified_sample(docs, "lang", k, seed=seed).collect()}
    want = {
        r[0] for r in _duck().execute(f"""
            SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER (
                    PARTITION BY lang
                    ORDER BY {_HASH_SQL.format(seed=seed)} ASC, doc_id ASC) AS rk
                FROM documents) WHERE rk <= {k}
        """).fetchall()
    }
    assert got == want


def test_stratified_sample_quota(docs):
    out = sp.stratified_sample(docs, "lang", 5)
    per = {r["lang"]: r["cnt"] for r in
           out.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()}
    strata_sizes = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    for lang, n in per.items():
        assert n == min(5, strata_sizes[lang])


def test_stratified_plan_has_window_group_limit(docs):
    # the rank<=k predicate must become a WindowGroupLimit (partial
    # top-k before the shuffle) — same plan property q_sort_limit pins
    plan = (
        sp.stratified_sample(docs, "lang", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


def test_null_keys_excluded_everywhere(spark):
    """NULL-key policy (ADVICE r4): null keys hash to NULL (F.concat
    propagates), so they are excluded from samples — exactly like the
    DuckDB twin's null-propagating `||`."""
    # ADVICE r5: under Spark's ASC nulls-first default a NULL _hash60
    # took rank 1 and DISPLACED a real doc (keys [a,b,c,NULL] with k=2
    # returned [b, NULL])
    strat = spark.createDataFrame(
        [("a", "en"), ("b", "en"), ("c", "en"), (None, "en")],
        "doc_id string, lang string")
    kept = {r["doc_id"] for r in sp.stratified_sample(strat, "lang", 2).collect()}
    assert None not in kept and len(kept) == 2 and kept <= {"a", "b", "c"}
    # and a stratum smaller than k must still never backfill with nulls
    kept4 = {r["doc_id"] for r in sp.stratified_sample(strat, "lang", 4).collect()}
    assert kept4 == {"a", "b", "c"}


def test_stratified_sample_rejects_rk_collision(spark):
    df = spark.createDataFrame([("a", "en", 1)], "doc_id string, lang string, _rk int")
    with pytest.raises(ValueError, match="_rk"):
        sp.stratified_sample(df, "lang", 2)
