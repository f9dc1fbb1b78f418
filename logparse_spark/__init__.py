"""logparse_spark — a from-scratch PySpark-native rebuild of the
riptano/logparse rule-based log pipeline (parse -> enrich -> route ->
aggregate), designed for a 10^12-row tokenized-sequence table.

Reference semantics: riptano/logparse ``rules.py`` (rule/capture/convert/
update/default/case/switch combinators) and ``systemlog.py``
(capture_line / capture_message / parse_log).  The reference mount was
empty at build time; behavior is reconstructed in SURVEY.md / FIXTURES.md
and pinned by the pure-Python oracle in ``logparse_spark.oracle``.

Architecture is Spark-first, NOT a port:

- the ordered rule table is *data*, not code, compiled once per worker;
- detokenize + ordered-first-match-regex-extract run in ONE
  ``mapInArrow`` stage (Arrow batches, zero-copy ``tokens``, direct
  ``re`` loops over class-masked rows, zero per-row Python UDFs);
- enrichment is a broadcast hash join; routing is a partitioned fan-out
  write; aggregates are plain ``groupBy``/``rollup`` (partial+final,
  whole-stage codegen);
- resume is a partition-granular ledger consumed via left-anti join.
"""

from logparse_spark.session import get_spark
from logparse_spark.rulebook import RULES, compile_rulebook
from logparse_spark.engine import parse_sequences

__all__ = ["get_spark", "RULES", "compile_rulebook", "parse_sequences"]
__version__ = "0.1.0"
