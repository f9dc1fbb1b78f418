"""Raw log-file ingestion: continuation folding + end-to-end through
the engine must equal the oracle applied to hand-folded events."""

import os

from logparse_spark.engine import parse_sequences
from logparse_spark.sources.rawlog import fold_lines, raw_logs_to_sequences

LOG = """INFO [main] 2015-03-30 22:24:34,843 StorageService.java (line 807) Cassandra version: 2.0.12
INFO [ScheduledTasks:1] 2015-03-30 22:24:35,000 GCInspector.java (line 116) GC for ParNew: 241 ms for 1 collections, 4315386160 used; max is 8000634880
ERROR [ReadStage:32] 2015-03-30 22:24:36,000 CassandraDaemon.java (line 199) Exception in thread Thread[ReadStage:32,5,main]
java.lang.AssertionError: boom
\tat org.apache.cassandra.db.X.y(X.java:123)
\tat org.apache.cassandra.db.Z.w(Z.java:456)
WARN [GossipStage:1] 2015-03-30 22:24:37,000 Gossiper.java:989 - InetAddress /10.1.2.3 is now DOWN
"""


def test_fold_lines():
    events = fold_lines(LOG)
    assert len(events) == 4
    assert events[2].count("\n") == 3  # exception + 2 frames folded
    assert events[2].startswith("ERROR")
    assert "\tat org.apache.cassandra.db.Z.w" in events[2]


def test_iter_fold_strips_carriage_returns():
    """CRLF input (binary-ish pipes, lone-\\r files): the trailing \\r must
    not survive into the event text or $-anchored rules stop matching."""
    from logparse_spark.oracle import parse_text
    from logparse_spark.sources.rawlog import iter_fold

    crlf_lines = [line + "\r\n" for line in LOG.splitlines()]
    events = list(iter_fold(crlf_lines))
    assert len(events) == 4
    assert all("\r" not in ev for ev in events)
    assert parse_text(events[1])["rule_id"] == 1  # $-anchored gc rule matches


def test_fold_orphan_continuation_first():
    events = fold_lines("\tat orphan.frame(X.java:1)\nINFO [main] 2015-03-30 22:24:34,843 CassandraDaemon.java (line 1) Logging initialized")
    assert len(events) == 2  # orphan kept as its own (unknown) event


def test_fold_reads_header_digits_as_ascii():
    """The fold's header probe reads `\\d` as ASCII, as the parse does: a
    line whose date holds a non-ASCII digit continues the event before it."""
    first, gc = LOG.splitlines()[:2]
    odd = gc.replace("2015", "２015")
    assert fold_lines(f"{first}\n{odd}") == [f"{first}\n{odd}"]


def test_raw_logs_end_to_end(spark, tmp_path):
    node_dir = tmp_path / "node-042"
    os.makedirs(node_dir)
    (node_dir / "system.log").write_text(LOG)
    seq = raw_logs_to_sequences(spark, str(node_dir / "system.log"))
    parsed = {r["rule_id"]: r for r in parse_sequences(seq).collect()}
    assert len(parsed) == 4
    assert parsed[60]["family"] == "startup"       # version line
    assert parsed[1]["family"] == "gc"
    assert parsed[63]["family"] == "exception"
    assert parsed[63]["extra"] == [
        "java.lang.AssertionError: boom",
        "\tat org.apache.cassandra.db.X.y(X.java:123)",
        "\tat org.apache.cassandra.db.Z.w(Z.java:456)",
    ]
    assert parsed[40]["family"] == "gossip"        # 2.1-format header
    assert all(r["source"] == "node-042" for r in parsed.values())
