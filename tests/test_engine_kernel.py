"""Parse-kernel edge shapes, pinned on ``engine.parse_texts`` itself over
small custom rulebooks:

- a rule hit is a regex MATCH; named groups that took no part in it are
  left out of ``fields`` (``oracle.parse_text`` and the DuckDB replica's
  ``regexp_matches`` count it the same way);
- every rule is matched at the start of the message, with or without
  capture groups, anchored or not;
- a promoted float field is ``int(float(v))`` when it fits int64, else
  null.

(The full-rulebook equivalence is carried by test_rules.py's 1:1
fixtures, test_property.py's engine-vs-oracle fuzz and the DuckDB SQL
replica.)
"""

from logparse_spark.engine import parse_texts
from logparse_spark.rulebook import Rule, compile_rulebook


def _line(msg: str, cls: str = "Custom") -> str:
    return f"INFO  [main] 2024-03-01 10:00:00,123 {cls}.java:12 - {msg}"


def _parse(rules: list[Rule], msgs: list[str]) -> dict:
    return parse_texts([_line(m) for m in msgs], compile_rulebook(rules))


def test_optional_group_match_is_a_hit():
    rule = Rule(5000, "Custom", "custom", r"^event (?P<kind>\w+)(?: id=(?P<id>\d+))?",
                converters={"id": "int"}, promote={"id": "count"})
    cols = _parse([rule], ["event start id=007", "event start", "no event here"])
    assert cols["rule_id"] == [5000, 5000, -1]
    assert cols["fields"] == [{"kind": "start", "id": "7"}, {"kind": "start"}, {}]
    assert cols["promoted"]["count"] == [7, None, None]


def test_unanchored_rules_match_only_at_message_start():
    rules = [
        Rule(5001, "Custom", "custom", r"(?P<n>\d+) done", converters={"n": "int"}),
        Rule(5002, "Custom", "custom", r"done"),
    ]
    cols = _parse(rules, ["12 done", "x 12 done", "done now", "not done"])
    assert cols["rule_id"] == [5001, -1, 5002, -1]
    assert cols["fields"] == [{"n": "12"}, {}, {}, {}]


def test_promoted_float_field_truncates_to_int():
    rule = Rule(5003, "Custom", "custom", r"^took (?P<ms>[0-9.e+]+)ms",
                converters={"ms": "float"}, promote={"ms": "count"})
    cols = _parse([rule], ["took 12.9ms", "took 1e30ms", "took 1..5ms"])
    assert cols["fields"] == [{"ms": "12.9"}, {"ms": "1e+30"}, {"ms": "1..5"}]
    assert cols["promoted"]["count"] == [12, None, None]  # 1e30 is past int64


def test_parse_texts_smoke_on_real_rulebook_lines():
    """End-to-end kernel sanity on representative header + body shapes,
    including an unmatched header and a continuation line."""
    lines = [
        "INFO  [main] 2024-03-01 10:00:00,123 StorageService.java:123 - "
        "Starting up server",
        "garbage line with no header",
        "WARN  [ReadStage-2:7] 2024-03-01 10:00:01,000 NoSpamLogger.java:94 - "
        "Out of 1 commit log syncs\ncontinuation detail line",
    ]
    cols = parse_texts(lines, compile_rulebook())
    assert cols["level"][0] == "INFO"
    assert cols["level"][1] is None          # header missed -> unknown path
    assert cols["rule_id"][1] == -1
    assert cols["message"][2].startswith("Out of")
    assert cols["extra"][2] == ["continuation detail line"]
    assert cols["thread_id"][2] == "7"
