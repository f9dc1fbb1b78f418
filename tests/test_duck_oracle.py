"""The generated DuckDB SQL parse replica (logparse_spark.duck_oracle)
must agree with the pure-Python oracle on EVERY rulebook fixture line —
this is what makes the q_pipeline_* driver oracles trustworthy, and it
catches any Python-re construct RE2 can't replicate the moment a rule
is added."""

import re

import duckdb
import pytest

from logparse_spark.duck_oracle import (
    HEADER_SQL_REGEX,
    _re2,
    capture_sql,
    family_case_sql,
    materialize_corpus,
    promoted_case_sql,
    rule_case_sql,
)
from logparse_spark.engine import compile_rulebook, parse_texts
from logparse_spark.oracle import parse_text
from logparse_spark.rulebook import RULES, convert
from tests.test_rules import FIXTURE_LINES, HDR20, HDR21


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def test_sql_rule_match_equals_python_oracle_on_all_fixtures(duck):
    rows = []
    for i, (cls, msg, rule_id, family, _want) in enumerate(FIXTURE_LINES):
        for hdr in (HDR20, HDR21):
            text = hdr.format(thread=f"T:{i}", cls=cls, msg=msg)
            ev = parse_text(text)  # ground truth (== engine, test_rules)
            rows.append((text, ev["rule_id"], ev["family"]))
    duck.execute("CREATE OR REPLACE TABLE fx(text VARCHAR, want_rid INT, want_fam VARCHAR)")
    duck.executemany("INSERT INTO fx VALUES (?, ?, ?)", rows)
    hdr = HEADER_SQL_REGEX.replace("'", "''")
    got = duck.execute(f"""
        WITH hdr AS (
            SELECT text, want_rid, want_fam,
                   regexp_matches(text, '{hdr}') AS hdr_ok,
                   regexp_extract(text, '{hdr}', 2) AS cls,
                   regexp_extract(text, '{hdr}', 3) AS msg
            FROM fx
        )
        SELECT text, want_rid, want_fam, rid, {family_case_sql("rid")} AS fam
        FROM (
            SELECT *, CASE WHEN hdr_ok THEN {rule_case_sql("msg", "cls")}
                           ELSE -1 END AS rid
            FROM hdr
        )
    """).fetchall()
    bad = [(t[:90], w, f, r, fm) for t, w, f, r, fm in got if (w, f) != (r, fm)]
    assert not bad, bad[:10]


def test_materialized_corpus_matches_python_oracle(duck):
    """Spot-check the corpus parquet + header SQL against oracle.py on a
    sample (the full 5000-row histogram equality is the driver query)."""
    path = materialize_corpus(500, 42)
    hdr = HEADER_SQL_REGEX.replace("'", "''")
    got = duck.execute(f"""
        SELECT doc_id, text,
               CASE WHEN regexp_matches(split_part(text, chr(10), 1), '{hdr}')
                    THEN {rule_case_sql("regexp_extract(split_part(text, chr(10), 1), '" + hdr + "', 3)",
                                        "regexp_extract(split_part(text, chr(10), 1), '" + hdr + "', 2)")}
                    ELSE -1 END AS rid
        FROM read_parquet('{path}')
    """).fetchall()
    assert len(got) == 500
    for doc_id, text, rid in got:
        assert parse_text(text)["rule_id"] == rid, (doc_id, text[:90], rid)


def test_promoted_cast_is_null_where_the_engine_is_null(duck):
    """A comma_int-promoted capture the engine cannot promote (a comma
    alone, a value past int64) is NULL in the SQL replica too, not a
    ConversionException that fails the whole oracle query."""
    compacted = ("Compacted 4 sstables to [x].  1,024 bytes to 512 (~50% of original) "
                 "in {dur}ms = 1.5MB/s.  10 total partitions merged to 5.  "
                 "Partition merge counts were {{1:5}}")
    texts = [HDR20.format(thread="CompactionExecutor:1", cls="CompactionTask",
                          msg=compacted.format(dur=d))
             for d in (",", "1234567890123456789012", "1,234")]
    eng = parse_texts(texts, compile_rulebook())
    assert eng["rule_id"] == [11, 11, 11]
    assert eng["promoted"]["duration_ms"] == [None, None, 1234]

    duck.execute("CREATE OR REPLACE TABLE promo(i INT, text VARCHAR)")
    duck.executemany("INSERT INTO promo VALUES (?, ?)", list(enumerate(texts)))
    hdr = HEADER_SQL_REGEX.replace("'", "''")
    got = duck.execute(f"""
        WITH hdr AS (
            SELECT i, regexp_extract(text, '{hdr}', 2) AS cls,
                   regexp_extract(text, '{hdr}', 3) AS msg
            FROM promo
        ), ruled AS (
            SELECT i, msg, {rule_case_sql("msg", "cls")} AS rid FROM hdr
        )
        SELECT rid, {promoted_case_sql("duration_ms", "msg", "rid")}
        FROM ruled ORDER BY i
    """).fetchall()
    assert got == [(11, d) for d in eng["promoted"]["duration_ms"]]


def test_re2_spelling_refuses_a_space_class_inside_brackets():
    assert _re2(r"^a\s+[^\]]\S$") == r"^a[\t\n\v\f\r ]+[^\]][^\t\n\v\f\r ]$"
    for regex in (r"[\s,]", r"[^a\S]", r"[]\s]"):
        with pytest.raises(ValueError):
            _re2(regex)


def test_non_ascii_digits_miss_in_the_engine_as_in_the_sql_replica(duck):
    """`\\d`, `\\w` and `\\s` are ASCII in all three implementations
    (`re.ASCII` in the engine and the oracle, RE2 in the replica, whose
    `\\s`/`\\S` are spelled out because RE2's `\\s` omits the vertical
    tab): a non-ASCII digit in a shipped rule's `\\d` capture or in the
    header's line number, and a `\\v` in a `\\s` run, in a `\\S`
    capture or in the header, give the same rule_id and fields
    everywhere."""
    gc = "GC for {t}: {d} ms for 1 collections, 43 used; max is 8000634880"
    cms = ("ParNew GC in 374ms.{sp}CMS Old Gen: 4265719304 -> 4460986184; "
           "Par Eden Space: 671088640 -> 0")
    cases = {  # rule_id -> texts, the first of which hits that rule
        1: [
            HDR20.format(thread="T:1", cls="GCInspector", msg=gc.format(t="ParNew", d="241")),
            HDR20.format(thread="T:2", cls="GCInspector", msg=gc.format(t="ParNew", d="24٣")),
            HDR21.format(thread="T:3", cls="GCInspector", msg=gc.format(t="ParNew", d="２41")),
            HDR21.format(thread="T:4", cls="GCInspector", msg=gc.format(t="ParNéw", d="241")),
            HDR20.replace("(line 116)", "(line 4٣)").format(
                thread="T:5", cls="GCInspector", msg=gc.format(t="ParNew", d="241")),
            HDR21.replace("WARN ", "WARN\v").format(
                thread="T:6", cls="GCInspector", msg=gc.format(t="ParNew", d="241")),
        ],
        2: [HDR20.format(thread="T:7", cls="GCInspector", msg=cms.format(sp=sp))
            for sp in ("  ", " \v")],
        100: [HDR21.format(thread="T:8", cls="CommitLogReplayer", msg=f"Replaying {f}")
              for f in ("a.log", "a\vb.log")],
    }
    hdr = HEADER_SQL_REGEX.replace("'", "''")
    for rule_id, texts in cases.items():
        eng = parse_texts(texts, compile_rulebook())
        assert eng["rule_id"][0] == rule_id  # the ASCII control line is a hit
        assert [parse_text(t)["rule_id"] for t in texts] == eng["rule_id"]

        rule = next(r for r in RULES if r.rule_id == rule_id)
        groups = list(re.compile(rule.regex).groupindex)
        duck.execute("CREATE OR REPLACE TABLE ascii_cases(i INT, text VARCHAR)")
        duck.executemany("INSERT INTO ascii_cases VALUES (?, ?)", list(enumerate(texts)))
        got = duck.execute(f"""
            WITH hdr AS (
                SELECT i, regexp_matches(text, '{hdr}') AS hdr_ok,
                       regexp_extract(text, '{hdr}', 2) AS cls,
                       regexp_extract(text, '{hdr}', 3) AS msg
                FROM ascii_cases
            ), ruled AS (
                SELECT i, msg, CASE WHEN hdr_ok THEN {rule_case_sql("msg", "cls")}
                                    ELSE -1 END AS rid
                FROM hdr
            )
            SELECT rid, {", ".join(capture_sql(rule, g, "msg") for g in groups)}
            FROM ruled ORDER BY i
        """).fetchall()
        sql_fields = [
            {g: convert(rule.converters[g], v) if g in rule.converters else v
             for g, v in zip(groups, caps)} if rid == rule_id else None
            for rid, *caps in got
        ]
        assert [rid for rid, *_ in got] == eng["rule_id"], rule_id
        assert sql_fields == [f if r == rule_id else None
                              for r, f in zip(eng["rule_id"], eng["fields"])], rule_id
