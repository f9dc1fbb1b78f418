"""Driver-contract test: entry() smoke + full DuckDB-oracle parity for
every queries()/oracle_sql() pair at sf0.001 (the driver repeats this
at sf0.01).  Uses the STRICT comparator from tools/parity.py: normalized
Arrow dtypes must match exactly and values compare with no tolerance —
the local stand-in for the driver's type-sensitive value hash."""

import sys
from types import SimpleNamespace

import duckdb
import pyarrow as pa
import pytest

import __spark_entry__ as entrymod
from tools.parity import TABLES, table_fingerprint

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    fams = {r["family"] for r in rows}
    assert "gc" in fams and "unknown" in fams


def test_every_oracle_has_query():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert set(entrymod.retired_oracle_sql()) <= set(entrymod.retired_queries())


def test_driver_slot_budget():
    # the driver checks at most 50 queries; exceeding silently truncates
    assert len(entrymod.queries()) <= 50
    assert not set(entrymod.retired_queries()) & set(entrymod.queries())


# retired near-twins (rotated off the 50-slot driver scoreboard in r5)
# keep FULL oracle parity here — same strict comparator, same corpus
@pytest.mark.parametrize(
    "name", sorted(entrymod.queries()) + sorted(entrymod.retired_queries()))
def test_query_parity(spark, duck, name):
    fn = {**entrymod.queries(), **entrymod.retired_queries()}[name]
    sdf = fn(spark, SF)
    stbl = sdf.toArrow()
    oracles = {**entrymod.oracle_sql(), **entrymod.retired_oracle_sql()}
    if name not in oracles:
        assert stbl.num_rows > 0, f"{name}: rows-only query returned 0 rows"
        return
    dtbl = duck.sql(oracles[name]).arrow()
    if isinstance(dtbl, pa.RecordBatchReader):
        dtbl = dtbl.read_all()
    sc, sdt, sv = table_fingerprint(stbl)
    dc, ddt, dv = table_fingerprint(dtbl)
    sc_l, dc_l = [c.lower() for c in sc], [c.lower() for c in dc]
    assert sc_l == dc_l, f"{name}: schema mismatch {sc} vs {dc}"
    bad_types = [(c, sdt[cs], ddt[cd]) for c, cs, cd in zip(sc_l, sc, dc)
                 if sdt[cs] != ddt[cd]]
    assert not bad_types, f"{name}: dtype mismatch {bad_types}"
    assert len(sv) == len(dv), f"{name}: {len(sv)} vs {len(dv)} rows"
    assert sv == dv, f"{name}: values differ"


def test_approx_distinct_bounded_error(spark, duck):
    """VERDICT r5 #4: q_approx_distinct is the one driver query with no
    value-level check (rows-only, approximate by nature).  Close the gap
    in tests with a bounded-error oracle: HLL++ is deterministic for a
    fixed input, and Spark documents approx_count_distinct's default
    relative standard deviation as 0.05 — assert every group's estimate
    is within 3*rsd of DuckDB's exact COUNT(DISTINCT), and the median
    sketch within the value range."""
    got = {r["event_type"]: r for r in
           entrymod.queries()["q_approx_distinct"](spark, SF).collect()}
    exact = {r[0]: (r[1], r[2], r[3]) for r in duck.sql(
        """SELECT event_type, COUNT(DISTINCT user_id),
                  MIN(value), MAX(value)
           FROM events GROUP BY event_type""").fetchall()}
    assert set(got) == set(exact) and got
    rsd = 0.05
    for et, (exact_users, vmin, vmax) in exact.items():
        approx = got[et]["approx_users"]
        assert abs(approx - exact_users) <= max(1, 3 * rsd * exact_users), (
            et, approx, exact_users)
        assert vmin <= got[et]["p50_value"] <= vmax, et


def test_parity_tool_checks_retired_queries_and_refuses_unknown_names(monkeypatch, capsys):
    """tools/parity.py resolves a retired query name (checked against its
    retired oracle) and exits non-zero on a name it does not know,
    before it opens DuckDB or starts Spark."""
    import tools.parity as parity

    class Started(Exception):
        pass

    def started():
        raise Started

    monkeypatch.setattr(parity, "duckdb", SimpleNamespace(connect=started))
    monkeypatch.setattr(sys, "argv", ["parity.py", "sf", "q_pricing_summary", "q_no_such_query"])
    assert parity.main() == 1
    assert "q_no_such_query" in capsys.readouterr().out
    for name in entrymod.retired_queries():
        monkeypatch.setattr(sys, "argv", ["parity.py", "sf", name])
        with pytest.raises(Started):
            parity.main()
