"""As-of join: ``asof_join_pandas`` must agree with a hand-computed
expectation, including ties and missing-right keys, and with a
plain-Python latest-prior reference on random rows."""

from datetime import datetime

import pytest

from logparse_spark.operators.asof import asof_join_pandas


def _t(m):
    return datetime(2024, 1, 1, 0, m)


@pytest.fixture()
def sides(spark):
    left = spark.createDataFrame(
        [(1, _t(5), "L1"), (1, _t(10), "L2"), (2, _t(3), "L3"), (3, _t(9), "L4")],
        "k int, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, _t(4), 40.0), (1, _t(10), 100.0), (1, _t(11), 110.0), (2, _t(7), 70.0)],
        "k int, ts timestamp, price double",
    )
    return left, right


EXPECT = {  # (k, left_ts_minute) -> asof price (<= semantics, latest prior)
    (1, 5): 40.0,
    (1, 10): 100.0,  # equal timestamp matches
    (2, 3): None,    # right exists later only
    (3, 9): None,    # no right key at all
}


def _check(rows):
    got = {(r["k"], r["ts"].minute): r["asof_price"] for r in rows}
    assert got == EXPECT, got


def test_asof_pandas(spark, sides):
    left, right = sides
    _check(asof_join_pandas(left, right, "k", "ts", "price").collect())


def test_both_impls_agree_on_larger_data(spark):
    """The join against a plain-Python reference on random rows: per
    key, bisect the sorted right timestamps for the latest one <= the
    left ts (ties match)."""
    import random
    from bisect import bisect_right
    from collections import defaultdict

    rnd = random.Random(7)
    left = spark.createDataFrame(
        [(rnd.randint(1, 5), _t(rnd.randint(0, 59)), f"L{i}") for i in range(200)],
        "k int, ts timestamp, name string",
    ).dropDuplicates(["k", "ts"])
    right = spark.createDataFrame(
        [(rnd.randint(1, 5), _t(rnd.randint(0, 59)), float(i)) for i in range(100)],
        "k int, ts timestamp, price double",
    ).dropDuplicates(["k", "ts"])
    by_key = defaultdict(list)
    for r in right.collect():
        by_key[r["k"]].append((r["ts"], r["price"]))
    for rows in by_key.values():
        rows.sort()
    want = {}
    for r in left.collect():
        rows = by_key[r["k"]]
        i = bisect_right([ts for ts, _ in rows], r["ts"])
        want[(r["k"], r["ts"])] = rows[i - 1][1] if i else None
    got = {(r["k"], r["ts"]): r["asof_price"]
           for r in asof_join_pandas(left, right, "k", "ts", "price").collect()}
    assert got == want
    assert any(v is None for v in want.values()) and any(v is not None for v in want.values())
