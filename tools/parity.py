"""Local replica of the driver's correctness gate — STRICT edition.

Round-1 lesson (VERDICT.md "What's wrong" #1): the driver's hash is
sensitive to the *physical result type*, not just the values — Spark
``sum(decimal(18,2))`` -> decimal(28,2) hash-mismatched DuckDB's
DECIMAL(38,2) even with equal values.  This gate therefore compares:

  1. row count,
  2. sorted column names,
  3. normalized Arrow column types (decimal precision/scale, int width,
     timestamp tz-ness all significant; string/large_string unified),
  4. exact canonical values (Decimal compared as exact scaled strings,
     floats bit-exact, timestamps ISO-formatted including tz).

Usage:  python tools/parity.py [sf_dir] [query ...]

A named query may be a driver query (``queries()``) or a retired one
(``retired_queries()``, checked against ``retired_oracle_sql()``); any
other name fails the run before Spark starts.
"""

from __future__ import annotations

import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pyarrow as pa

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from logparse_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_type(t: pa.DataType) -> pa.DataType:
    """Unify Arrow encodings that differ without semantic meaning.

    Deliberately PRESERVED distinctions (the driver sees them): decimal
    precision+scale, integer width, timestamp tz presence, date vs ts.
    """
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_large_binary(t):
        return pa.binary()
    if pa.types.is_dictionary(t):
        return norm_type(t.value_type)
    if (pa.types.is_large_list(t) or pa.types.is_list(t)
            or pa.types.is_fixed_size_list(t)):
        return pa.list_(norm_type(t.value_type))
    if pa.types.is_timestamp(t):
        return pa.timestamp("us", tz="UTC" if t.tz else None)
    if pa.types.is_date(t):
        return pa.date32()
    if pa.types.is_decimal(t):
        return pa.decimal128(t.precision, t.scale)
    return t


def canon(v):
    """Exact canonical value — NO tolerance, NO type coercion."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("f64", v)
    if isinstance(v, datetime):
        return ("ts", v.isoformat())
    if isinstance(v, date):
        return ("date", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("bin", bytes(v).hex())
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def table_fingerprint(tbl: pa.Table):
    """(sorted cols, normalized dtypes by col, sorted canonical rows)."""
    cols = sorted(tbl.column_names)
    dtypes = {c: str(norm_type(tbl.schema.field(c).type)) for c in tbl.column_names}
    data = {c: tbl.column(c).to_pylist() for c in tbl.column_names}
    rows = [tuple(canon(data[c][i]) for c in cols) for i in range(tbl.num_rows)]
    rows.sort(key=lambda t: tuple(repr(x) for x in t))
    return cols, dtypes, rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    retired = entrymod.retired_queries()
    qs = entrymod.queries() | {n: f for n, f in retired.items() if n in only}
    oracles = entrymod.oracle_sql() | entrymod.retired_oracle_sql()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"FAILURES: unknown queries {', '.join(unknown)}")
        return 1
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    spark = get_spark(app_name="parity", cores=8, shuffle_partitions=8)

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            stbl = sdf.toArrow()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({stbl.num_rows} rows)")
            if stbl.num_rows == 0:
                failures.append(name)
                print(f"FAIL {name}: 0 rows on rows-only query")
            continue
        try:
            dtbl = con.sql(oracles[name]).arrow()
            if isinstance(dtbl, pa.RecordBatchReader):
                dtbl = dtbl.read_all()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue
        sc, sdt, sv = table_fingerprint(stbl)
        dc, ddt, dv = table_fingerprint(dtbl)
        sc_l, dc_l = [c.lower() for c in sc], [c.lower() for c in dc]
        if sc_l != dc_l:
            failures.append(name)
            print(f"FAIL {name}: schema {sc} != {dc}")
            continue
        bad_types = [
            (c, sdt[cs], ddt[cd])
            for c, cs, cd in zip(sc_l, sc, dc)
            if sdt[cs] != ddt[cd]
        ]
        if bad_types:
            failures.append(name)
            print(f"FAIL {name}: dtype mismatch {bad_types}")
            continue
        if len(sv) != len(dv):
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(sv)} != {len(dv)}")
        elif sv != dv:
            failures.append(name)
            shown = 0
            for ra, rb in zip(sv, dv):
                if ra != rb:
                    print(f"  spark={ra}\n  duck ={rb}")
                    shown += 1
                    if shown >= 3:
                        break
            print(f"FAIL {name}: values differ ({len(sv)} rows)")
        else:
            print(f"PASS {name} ({len(sv)} rows, dtypes exact)")
    spark.stop()
    print(f"\n{'ALL GREEN' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
