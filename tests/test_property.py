"""Property tests (SURVEY.md §5.2 item 7): arbitrary byte sequences and
near-miss mutations of valid lines must never crash the oracle or the
engine, never drop a row, and mutated-beyond-match lines must route to
`unknown` — the reference's never-drop contract under fuzz.

The engine is fuzzed in-process, without Spark: ``parse_batch_arrow``
runs on arbitrary text and on generated lines with random edits, and
every output column must equal ``oracle.parse_event``'s value, with
``source_line`` and the promoted columns null where the value is outside
the column type.
"""

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from logparse_spark.engine import PARSED_ARROW_SCHEMA, parse_batch_arrow
from logparse_spark.oracle import parse_event, parse_text
from logparse_spark.rulebook import (
    PROMOTED_COLUMNS,
    RULES,
    UNKNOWN_FAMILY,
    UNKNOWN_RULE_ID,
    compile_rulebook,
)
from logparse_spark.sources.datagen import make_event
from logparse_spark.tokenizer import decode, encode

_COMPILED = compile_rulebook()
_PROMOTES = {r.rule_id: r.promote for r in RULES}
_SAME_COLS = ("level", "thread_name", "thread_id", "ts", "source_file", "message",
              "extra", "rule_id", "family", "fields", "tokens", "n_tok")


def _fits(v, bits):
    return v if v is not None and -(1 << bits - 1) <= v < 1 << bits - 1 else None


def _as_int(v: str) -> int | None:
    """A promoted value: ``int(v)``, else ``int(float(v))``, else None."""
    try:
        return int(v)
    except ValueError:
        try:
            return int(float(v))
        except (ValueError, OverflowError):
            return None


def _expected(ev: dict) -> dict:
    """The engine's row for an oracle event: the oracle's values, each in
    its column type (naive ts as UTC, ints outside the type as null)."""
    exp = {k: ev[k] for k in _SAME_COLS}
    exp["source_line"] = _fits(ev["source_line"], 32)
    for col in PROMOTED_COLUMNS:
        exp[col] = None
    for name, col in _PROMOTES.get(ev["rule_id"], {}).items():
        if name in ev["fields"]:
            exp[col] = _fits(_as_int(ev["fields"][name]), 64)
    return exp


def _assert_engine_matches_oracle(texts: list[str]) -> None:
    rows = [(f"d{i}", "node-000", encode(t)) for i, t in enumerate(texts)]
    batch = pa.RecordBatch.from_pydict({
        "doc_id": [r[0] for r in rows],
        "source": [r[1] for r in rows],
        "tokens": pa.array([r[2] for r in rows], type=pa.list_(pa.int32())),
        "n_tok": [len(r[2]) for r in rows],
    })
    got = parse_batch_arrow(batch, _COMPILED, PARSED_ARROW_SCHEMA).to_pylist()
    for (doc_id, source, tokens), g in zip(rows, got):
        g["fields"] = dict(g["fields"])
        if g["ts"] is not None:
            g["ts"] = g["ts"].replace(tzinfo=None)
        exp = _expected(parse_event(doc_id, tokens, source))
        assert {k: g[k] for k in exp} == exp, decode(tokens)


@given(st.binary(max_size=400))
@settings(max_examples=300, deadline=None)
def test_oracle_never_crashes_on_bytes(payload):
    ev = parse_event("fuzz", list(payload), "node-000")
    assert ev["tokens"] == list(payload)  # passthrough even for garbage
    assert ev["family"] is not None
    assert ev["rule_id"] is not None


@given(st.text(max_size=300))
@settings(max_examples=300, deadline=None)
def test_oracle_never_crashes_on_text(text):
    ev = parse_text(text)
    assert ev["message"] is not None
    assert (ev["rule_id"] == UNKNOWN_RULE_ID) == (ev["family"] == UNKNOWN_FAMILY)


@given(st.integers(min_value=0, max_value=10**6), st.integers(min_value=0, max_value=250))
@settings(max_examples=200, deadline=None)
def test_mutated_line_never_drops(rid, cut):
    """Truncate a valid line at an arbitrary byte: parse must still yield
    exactly one event (possibly unknown), tokens preserved."""
    _, tokens, _, source = make_event(rid)
    mutated = tokens[: max(1, min(cut, len(tokens)))]
    ev = parse_event("m", mutated, source)
    assert ev["tokens"] == [int(t) for t in mutated]
    assert ev["n_tok"] == len(mutated)


@given(st.integers(min_value=0, max_value=10**6))
@settings(max_examples=200, deadline=None)
def test_generated_lines_roundtrip(rid):
    """Every generated line is tokenizer-roundtrip-stable and parses to a
    non-crashing event whose family is consistent with rule_id."""
    doc_id, tokens, n_tok, source = make_event(rid)
    text = decode(tokens)
    assert encode(text) == tokens  # ASCII corpus: exact roundtrip
    ev = parse_event(doc_id, tokens, source)
    assert ev["n_tok"] == n_tok
    if ev["rule_id"] != UNKNOWN_RULE_ID:
        assert ev["family"] != UNKNOWN_FAMILY
        assert ev["level"] in ("INFO", "WARN", "ERROR")


@given(st.lists(st.text(max_size=200), min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_engine_matches_oracle_on_text(texts):
    _assert_engine_matches_oracle(texts)


# edits draw on the characters that split engine from oracle semantics:
# non-ASCII digits, numbers past int32/int64, newlines, separators
_EDIT_TEXT = st.sampled_from(
    ["٣", "０", "9", "0", ",", ".", ":", "\n", " ", "]", "x", "1234567890123456789012"])


@given(st.integers(min_value=0, max_value=10**6),
       st.lists(st.tuples(st.floats(0, 1), st.sampled_from("idr"), _EDIT_TEXT),
                min_size=1, max_size=3))
@settings(max_examples=500, deadline=None)
def test_engine_matches_oracle_on_edited_generated_lines(rid, edits):
    text = decode(make_event(rid)[1])
    for where, op, s in edits:
        i = int(where * len(text))
        text = {"i": text[:i] + s + text[i:],
                "d": text[:i] + text[i + 1:],
                "r": text[:i] + s + text[i + 1:]}[op]
    _assert_engine_matches_oracle([text])


_GC = "GC for ParNew: {d} ms for 1 collections, {u} used; max is 8000634880"
_HDR = "INFO  [main] {date} GCInspector.java{src} "
_OK = {"date": "2015-03-30 22:24:34,843", "src": ":116 -"}

_ADVERSARIAL = {
    # a year past pandas' nanosecond range (2262)
    "year_2415": _HDR.format(**{**_OK, "date": "2415-03-30 22:24:34,843"}) + _GC.format(d=241, u=43),
    # a non-ASCII digit in the line number: ASCII \d rejects it, so no
    # header format matches and the whole line is an unknown message
    "line_4_arabic_3": _HDR.format(**{**_OK, "src": " (line 4٣)"}) + _GC.format(d=241, u=43),
    # a message ending in a newline has no continuation lines
    "trailing_newline": _HDR.format(**_OK) + _GC.format(d=241, u=43) + "\n",
    "no_header_trailing_newline": "no header at all\n",
    # 22-digit values in int-converted, promoted fields: past int64
    "int64_overflow": _HDR.format(**_OK) + _GC.format(d="1234567890123456789012", u="9" * 22),
    # a line number past int32, and one past int()'s digit limit
    "line_past_int32": _HDR.format(**{**_OK, "src": " (line 99999999999)"}) + "x",
    "line_5000_digits": _HDR.format(**{**_OK, "src": ":" + "7" * 5000 + " -"}) + "x",
    # invalid dates, and a thread the thread regex cannot split
    "feb_30": _HDR.format(**{**_OK, "date": "2015-02-30 22:24:34,843"}) + "x",
    "second_60": _HDR.format(**{**_OK, "date": "2015-03-30 22:24:60,843"}) + "x",
    "thread_newline": _HDR.format(**_OK).replace("[main]", "[ma\nin]") + "x",
    # captures their converters cannot parse keep their text
    "unparseable_captures": _HDR.format(**_OK).replace("GCInspector", "CompactionTask")
    + "Compacted 4 sstables to [x].  , bytes to 1 (~50% of original) in 7ms = 1..5MB/s.  "
    "3 total partitions merged to 2.  Partition merge counts were {1:2}",
}


@pytest.mark.parametrize("text", _ADVERSARIAL.values(), ids=_ADVERSARIAL.keys())
def test_engine_matches_oracle_on_adversarial_lines(text):
    _assert_engine_matches_oracle([text])
