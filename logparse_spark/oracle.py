"""Pure-Python per-row oracle: the reference's semantics, one string at
a time, interpreted with ``re`` — a per-row walk over the rulebook,
unlike engine.py's batched, class-grouped kernel, so agreement between
the two is evidence about the semantics, not about shared code.

Stands in for riptano/logparse's ``parse_log`` (SURVEY.md §0); when the
real reference is available, swap ``parse_event`` for its
``systemlog.parse_log`` and re-run the same equality tests.  Shares the
rule table with the Spark path (single source of truth: rulebook.py).
It never raises on a parsed header: an invalid date gives ``ts`` None,
an unparseable thread gives no thread name/id, and a capture its
converter cannot parse keeps its text (``rulebook.convert``).
"""

from __future__ import annotations

import re
from datetime import datetime

from logparse_spark.rulebook import (
    DATE_FORMAT,
    HEADER_FORMATS,
    RULES,
    UNKNOWN_FAMILY,
    UNKNOWN_RULE_ID,
    convert,
)
from logparse_spark.tokenizer import decode

_HEADERS = [re.compile(h, re.DOTALL | re.ASCII) for h in HEADER_FORMATS]
_BY_CLASS: dict[str, list] = {}
for _r in RULES:
    _BY_CLASS.setdefault(_r.source_class, []).append(
        (_r.rule_id, _r.family, re.compile(_r.regex, re.ASCII), _r.converters)
    )


def parse_text(text: str) -> dict:
    """Parse one detokenized event string -> event dict (reference shape)."""
    ev: dict = {
        "level": None, "thread_name": None, "thread_id": None, "ts": None,
        "source_file": None, "source_line": None,
        "message": None, "extra": None,
        "rule_id": UNKNOWN_RULE_ID, "family": UNKNOWN_FAMILY, "fields": {},
    }
    m = None
    for h in _HEADERS:  # capture_line: ordered format alternatives
        m = h.match(text)
        if m:
            break
    if m is None:
        first, _, rest = text.partition("\n")
        ev["message"] = first
        ev["extra"] = rest.split("\n") if rest else None
        return ev
    g = m.groupdict()
    ev["level"] = g["level"]
    tm = re.match(r"^(.*?)(?::(\d+))?$", g["thread"], re.ASCII)
    if tm:  # a thread with an inner newline has no name/id
        ev["thread_name"] = tm.group(1)
        ev["thread_id"] = tm.group(2)
    try:
        ev["ts"] = datetime.strptime(g["date"], DATE_FORMAT)
    except ValueError:  # e.g. 2015-02-30
        pass
    ev["source_file"] = g["source_file"]
    try:
        ev["source_line"] = int(g["source_line"])
    except ValueError:  # more digits than int() accepts
        pass
    first, _, rest = g["message"].partition("\n")
    ev["message"] = first
    ev["extra"] = rest.split("\n") if rest else None

    cls = g["source_file"].replace(".java", "")
    for rule_id, fam, pat, convs in _BY_CLASS.get(cls, ()):  # switch -> ordered rules
        rm = pat.match(first)
        if rm:  # first match wins (rules.py §capture)
            ev["rule_id"] = rule_id
            ev["family"] = fam
            fields = {k: v for k, v in rm.groupdict().items() if v is not None}
            for fname, conv in convs.items():
                if fname in fields:
                    fields[fname] = convert(conv, fields[fname])
            ev["fields"] = fields
            break
    return ev


def parse_event(doc_id: str, tokens, source: str) -> dict:
    """Parse one `sequences` row; tokens pass through (the invariant)."""
    ev = parse_text(decode(tokens))
    ev["doc_id"] = doc_id
    ev["source"] = source
    ev["tokens"] = [int(t) for t in tokens]
    ev["n_tok"] = len(ev["tokens"])
    return ev
