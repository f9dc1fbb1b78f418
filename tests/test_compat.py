"""Reference CLI compatibility mode: stdin log text -> JSON event lines,
semantics identical to the engine (shared rulebook)."""

import io
import json
import os
import subprocess
import sys

from logparse_spark.compat import main as compat_main

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LOG = """\
INFO [ScheduledTasks:1] 2015-03-30 22:24:34,843 GCInspector.java (line 116) GC for ParNew: 241 ms for 1 collections, 4315386160 used; max is 8000634880
WARN [ReadStage:32] 2015-03-30 22:24:35,104 CassandraDaemon.java:142 - Exception in thread Thread[ReadStage:32,5,main]
java.lang.AssertionError: boom
\tat org.x.Y.z(Y.java:1)
INFO [main] 2015-03-30 22:24:36,000 NovelClass.java (line 1) nothing matches this
"""


def _parse_lines(text):
    buf_in, buf_out = io.StringIO(text), io.StringIO()
    assert compat_main(buf_in, buf_out) == 0
    return [json.loads(line) for line in buf_out.getvalue().splitlines()]


def test_compat_stream_events():
    evs = _parse_lines(LOG)
    assert len(evs) == 3
    gc, exc, unk = evs
    assert gc["rule_id"] == 1 and gc["family"] == "gc"
    assert gc["duration"] == "241" and gc["event_category"] == "garbage_collection"
    assert gc["ts"] == "2015-03-30 22:24:34.843000"
    assert exc["rule_id"] == 63 and exc["extra"] == [
        "java.lang.AssertionError: boom", "\tat org.x.Y.z(Y.java:1)"]
    assert unk["rule_id"] == -1 and unk["family"] == "unknown"
    assert unk["message"] == "nothing matches this"  # never dropped


def test_compat_capture_never_overwrites_header_keys():
    """A rule-12 'to level=0' line must keep level=INFO in the JSON (the
    capture group is compaction_level; flatten also skips reserved keys)."""
    line = (
        "INFO [CompactionExecutor:4] 2015-03-30 22:24:34,843 CompactionTask.java:116 - "
        "Compacted (aa1aa980-1234-11e8-8053-a55b77abb1bc) 4 sstables to "
        "[/data/ks1/t1/mc-5-big,] to level=0.  1,016,234 bytes to 1,015,000 "
        "(~99% of original) in 1,613ms.  Read Throughput = 630.123KiB/s, "
        "Write Throughput = 629.456KiB/s, Row Throughput = ~2,345/s.  "
        "4,377 total partitions merged to 4,370.  Partition merge counts were {1:4363, 2:7, }"
    )
    evs = _parse_lines(line + "\n")
    assert len(evs) == 1
    ev = evs[0]
    assert ev["rule_id"] == 12
    assert ev["level"] == "INFO"  # NOT '0'
    assert ev["compaction_level"] == "0"


def test_compat_streams_past_an_invalid_date():
    """A header whose date does not exist (Feb 30) still emits its event,
    without `ts`, and the stream goes on."""
    log = (
        "INFO [main] 2015-02-30 22:24:34,843 GCInspector.java (line 116) GC for ParNew: "
        "241 ms for 1 collections, 4315386160 used; max is 8000634880\n"
        "INFO [main] 2015-03-30 22:24:36,000 NovelClass.java (line 1) nothing matches this\n"
    )
    first, second = _parse_lines(log)
    assert "ts" not in first and first["rule_id"] == 1
    assert second["ts"] == "2015-03-30 22:24:36"


def test_rulebook_capture_groups_avoid_reserved_keys():
    """No rule capture group may collide with a header/taxonomy key —
    flattened fields would silently overwrite it in the emitted JSON."""
    import re

    from logparse_spark.compat import RESERVED_EVENT_KEYS
    from logparse_spark.rulebook import RULES

    for rule in RULES:
        groups = set(re.compile(rule.regex).groupindex)
        clash = groups & RESERVED_EVENT_KEYS
        assert not clash, f"rule {rule.rule_id} captures reserved {clash}"


def test_compat_cli_pipe():
    """The actual reference invocation shape: pipe a log through the module."""
    out = subprocess.run(
        [sys.executable, "-m", "logparse_spark.compat", "node-007"],
        input=LOG, capture_output=True, text=True, check=True, cwd=ROOT,
    )
    evs = [json.loads(line) for line in out.stdout.splitlines()]
    assert len(evs) == 3
    assert all(e["source"] == "node-007" for e in evs)
