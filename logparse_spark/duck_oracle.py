"""DuckDB-SQL replica of the parse engine, GENERATED from rulebook.py —
the single source of truth stays single.

Purpose: give the flagship pipeline queries (q_pipeline_histogram /
_topk_rules / _gc_running) EXACT value-checked oracles.  The driver runs
``oracle_sql()`` strings in DuckDB against pre-registered parquet views;
the synthetic corpus only exists inside Spark, so:

1. :func:`materialize_corpus` regenerates the SAME deterministic corpus
   (sources/datagen.py `make_event`, pure Python — no Spark) and writes
   (doc_id, source, text, n_tok) parquet to a stable path the SQL can
   ``read_parquet``.
2. :func:`parsed_cte` emits a WITH-clause that re-implements the full
   parse in SQL: header split (both Cassandra formats), class dispatch,
   ordered first-match over ALL rulebook rules (nested CASE of
   ``regexp_matches``), unknown fallback — semantics mirroring
   oracle.parse_text exactly (RE2 runs each pattern ^-anchored, and a
   match is a hit whatever its optional groups did, as in the engine
   and the oracle).

This is intentionally the THIRD independent implementation of the rule
semantics (engine.py class-grouped Arrow batches, oracle.py per-row re,
this SQL)
— three-way agreement is the strongest correctness evidence the repo
can produce for the parse engine.
"""

from __future__ import annotations

import os
import re

from logparse_spark.rulebook import RULES, Rule

# <checkout>/data: each checkout materializes its own oracle corpus
CORPUS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")


def _q(s: str) -> str:
    """Escape a string for a single-quoted SQL literal."""
    return s.replace("'", "''")


# RE2's \s is [\t\n\f\r ]; Python's ASCII \s also holds the vertical tab
_RE2_SPACE = {r"\s": r"[\t\n\v\f\r ]", r"\S": r"[^\t\n\v\f\r ]"}
# an escape, a class opener (with its ^ and a literal leading ]), a
# class closer, or a run of other characters
_RE_TOKEN = re.compile(r"\\.|\[\^?\]?|\]|[^\\\[\]]+", re.DOTALL)


def _re2(regex: str) -> str:
    r"""``regex`` spelled so RE2 reads it as Python's ``re.ASCII`` does:
    ``\s``/``\S`` become explicit classes.  Raises on ``\s``/``\S``
    inside a ``[...]`` class, where that spelling does not nest."""
    out, in_class = [], False
    for tok in _RE_TOKEN.findall(regex):
        if tok in _RE2_SPACE:
            if in_class:
                raise ValueError(rf"\s or \S inside a character class: {regex!r}")
            tok = _RE2_SPACE[tok]
        elif tok[0] == "[":
            in_class = True
        elif tok == "]":
            in_class = False
        out.append(tok)
    return "".join(out)


# combined line-1 header regex (both formats as ordered alternation):
# group 1 = date, 2 = emitting class, 3 = message
HEADER_SQL_REGEX = _re2(
    r"^[A-Z]+\s+\[[^\]]+\]\s+"
    r"(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})\s+"
    r"(\w+)\.java(?: \(line \d+\) |:\d+ - )(.*)$"
)


def _anchored(regex: str) -> str:
    return _re2(regex if regex.startswith("^") else "^" + regex)


def rules_by_class() -> dict[str, list[Rule]]:
    by: dict[str, list[Rule]] = {}
    for r in RULES:
        by.setdefault(r.source_class, []).append(r)
    return by


def rule_case_sql(msg: str = "msg", cls: str = "cls") -> str:
    """Nested CASE: class dispatch -> ordered first-match rule_id (-1
    fallback) — switch/capture semantics in one SQL expression."""
    parts = [f"CASE {cls}"]
    for c, rules in rules_by_class().items():
        inner = ["CASE"]
        for r in rules:
            inner.append(
                f"WHEN regexp_matches({msg}, '{_q(_anchored(r.regex))}') THEN {r.rule_id}"
            )
        inner.append("ELSE -1 END")
        parts.append(f"WHEN '{_q(c)}' THEN ({' '.join(inner)})")
    parts.append("ELSE -1 END")
    return "\n".join(parts)


def family_case_sql(rule_id: str = "rule_id") -> str:
    whens = " ".join(f"WHEN {r.rule_id} THEN '{_q(r.family)}'" for r in RULES)
    return f"CASE {rule_id} {whens} ELSE 'unknown' END"


def capture_sql(rule: Rule, group: str, msg: str = "msg") -> str:
    """regexp_extract of one named capture group (by positional index —
    DuckDB group 0 is the full match, so groupindex maps directly)."""
    gi = re.compile(rule.regex).groupindex[group]
    return f"regexp_extract({msg}, '{_q(_anchored(rule.regex))}', {gi})"


def promoted_case_sql(target: str, msg: str = "msg", rule_id: str = "rule_id") -> str:
    """CASE over every rule that promotes a captured field into typed
    column `target` — the SQL twin of the engine's promote step
    (engine.py: converted canonical value -> int64).  Both the `int` and
    `comma_int` converters reduce to strip-commas-then-TRY_CAST, NULL
    where the engine's promotion is null (a comma-only capture, a value
    past int64); the rulebook promotes no float fields (asserted)."""
    parts = [f"CASE {rule_id}"]
    for r in RULES:
        hits = [f for f, tgt in r.promote.items() if tgt == target]
        if not hits:
            continue
        assert len(hits) == 1, (r.rule_id, target, hits)
        assert r.converters.get(hits[0]) in ("int", "comma_int"), (r.rule_id, hits)
        ex = capture_sql(r, hits[0], msg)
        parts.append(
            f"WHEN {r.rule_id} THEN TRY_CAST(replace({ex}, ',', '') AS BIGINT)"
        )
    parts.append("ELSE NULL END")
    return "\n".join(parts)


def materialize_corpus(n: int = 5000, seed: int = 42) -> str:
    """Write the deterministic synthetic corpus as parquet DuckDB can
    scan; returns the path (embedded into oracle SQL strings).

    Pure Python + pyarrow — runs in the driver's oracle harness with no
    Spark session.  Content is a pure function of (n, seed); the file is
    written once via atomic rename (idempotent, concurrency-safe).
    """
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparse_spark.sources.datagen import make_event

    # cache key fingerprints every FIELD of every row (generation is pure
    # Python and cheap) so a datagen change — however localized, even one
    # touching only doc_id/source/n_tok — can never leave a stale corpus
    # parquet behind the SQL oracle's back (ADVICE r4: tokens-only CRC
    # missed non-token field changes)
    rows = [make_event(i, seed) for i in range(n)]
    fp_crc = 0
    for r in rows:
        fp_crc = zlib.crc32(
            repr((r[0], bytes(r[1]), r[2], r[3])).encode(), fp_crc
        )
    fp = f"{fp_crc:08x}"
    path = os.path.join(CORPUS_DIR, f"oracle_corpus_{n}_{seed}_{fp}.parquet")
    if os.path.exists(path):
        return path
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], type=pa.string()),
            "source": pa.array([r[3] for r in rows], type=pa.string()),
            "text": pa.array([bytes(r[1]).decode("utf-8") for r in rows],
                             type=pa.string()),
            "n_tok": pa.array([r[2] for r in rows], type=pa.int32()),
        }
    )
    os.makedirs(CORPUS_DIR, exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


def parsed_cte(n: int = 5000, seed: int = 42) -> str:
    """WITH-clause prefix producing `parsed_ev(doc_id, source, n_tok,
    level, ts, rule_id, family, msg)` — the SQL twin of parse_sequences
    over the same deterministic corpus (level is null when no header
    format matches, as in engine.parse_texts)."""
    path = materialize_corpus(n, seed)
    hdr = _q(HEADER_SQL_REGEX)
    return f"""
        WITH raw AS (
            SELECT doc_id, source, n_tok,
                   split_part(text, chr(10), 1) AS line1
            FROM read_parquet('{path}')
        ), hdr AS (
            SELECT doc_id, source, n_tok,
                   regexp_matches(line1, '{hdr}') AS hdr_ok,
                   regexp_extract(line1, '^([A-Z]+)', 1) AS level_raw,
                   regexp_extract(line1, '{hdr}', 1) AS date_str,
                   regexp_extract(line1, '{hdr}', 2) AS cls,
                   regexp_extract(line1, '{hdr}', 3) AS msg
            FROM raw
        ), parsed_ev AS (
            SELECT doc_id, source, n_tok,
                   CASE WHEN hdr_ok THEN level_raw END AS level,
                   CASE WHEN hdr_ok
                        THEN strptime(date_str, '%Y-%m-%d %H:%M:%S,%g')
                   END AS ts,
                   CAST(rid AS INTEGER) AS rule_id,
                   {family_case_sql("rid")} AS family,
                   msg
            FROM (
                SELECT *,
                       CASE WHEN hdr_ok THEN {rule_case_sql("msg", "cls")}
                            ELSE -1 END AS rid
                FROM hdr
            )
        )
    """
