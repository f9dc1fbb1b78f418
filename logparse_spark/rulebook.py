"""The rule table: riptano/logparse's ``capture_message`` recast as DATA.

Reference parity (reconstructed — see SURVEY.md §0/§2.1 [R-H] and
FIXTURES.md §2):

- ``rules.py §rule/§capture/§convert/§update/§case/§switch`` combinators
  collapse into one declarative :class:`Rule` row: ordered regexes with
  named groups (capture), per-field converters (convert), taxonomy
  constants (update), an emitting-class dispatch key (case/switch).
- ``systemlog.py §capture_line`` becomes the two HEADER_FORMATS below
  (Cassandra 1.2/2.0 ``Source.java (line N)`` vs 2.1+ ``Source.java:N -``).
- ``systemlog.py §capture_message`` becomes RULES, ordered
  first-match-wins within each class.

At runtime each Python worker compiles the table once and interprets it
per Arrow batch inside one ``mapInArrow`` stage: each class's rules run
in order over that class's still-unmatched rows (``re`` match) — see
engine.py.
Captured values convert through :func:`convert`, the one conversion path
of the engine and the oracle.  This module stays pure-Python /
picklable: no Spark imports.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Header formats (systemlog.py §capture_line [R-H]).
# Message group is DOTALL: continuation lines (stack traces) arrive already
# folded into the sequence (one row == one event, BASELINE.json input_hint);
# engine splits first line (rule-match target) from `extra`.
# ---------------------------------------------------------------------------
HEADER_FORMATS: list[str] = [
    # Cassandra 1.2 / 2.0: "LEVEL [thread] date Source.java (line N) msg"
    r"^(?P<level>[A-Z]+)\s+\[(?P<thread>[^\]]+)\]\s+"
    r"(?P<date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})\s+"
    r"(?P<source_file>\w+\.java) \(line (?P<source_line>\d+)\) (?P<message>.*)$",
    # Cassandra 2.1+: "LEVEL [thread] date Source.java:N - msg"
    r"^(?P<level>[A-Z]+)\s+\[(?P<thread>[^\]]+)\]\s+"
    r"(?P<date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})\s+"
    r"(?P<source_file>\w+\.java):(?P<source_line>\d+) - (?P<message>.*)$",
]
DATE_FORMAT = "%Y-%m-%d %H:%M:%S,%f"  # systemlog.py date converter [R-H]

UNKNOWN_RULE_ID = -1
UNKNOWN_FAMILY = "unknown"


# ---------------------------------------------------------------------------
# Converters (rules.py §convert + systemlog.py converters [R-H]).
# Canonical string forms keep the map<string,string> `fields` column
# comparable between the Spark path and the oracle.
# ---------------------------------------------------------------------------
def _canon_int(s: str) -> str:
    return str(int(s))


def _canon_comma_int(s: str) -> str:
    # reference strips thousands separators: '60,016,741' -> 60016741
    return str(int(s.replace(",", "")))


def _canon_float(s: str) -> str:
    return str(float(s))


CONVERTERS = {
    "int": _canon_int,
    "comma_int": _canon_comma_int,
    "float": _canon_float,
}


def convert(conv: str, value: str) -> str:
    """``CONVERTERS[conv](value)``; a capture the converter cannot parse
    (``","`` for comma_int, ``"1..5"`` for float, an int past ``int()``'s
    digit limit) keeps its captured text, so no line fails the parse."""
    try:
        return CONVERTERS[conv](value)
    except ValueError:
        return value


@dataclass(frozen=True)
class Rule:
    """One row of the ordered rule table (one reference `rule(...)` entry)."""

    rule_id: int
    source_class: str  # dispatch key: emitting Java class (case/switch)
    family: str  # routing key (P5 fan-out)
    regex: str  # named-group capture (rules.py §capture)
    converters: dict[str, str] = field(default_factory=dict)  # field -> conv name
    promote: dict[str, str] = field(default_factory=dict)  # field -> typed column
    event_product: str = "cassandra"
    event_category: str = ""
    event_type: str = ""


# ---------------------------------------------------------------------------
# THE rule table (systemlog.py §capture_message [R-H]; fixture corpus
# FIXTURES.md §2).  Order within a class == priority (first match wins).
# ---------------------------------------------------------------------------
RULES: list[Rule] = [
    # --- GCInspector -------------------------------------------------------
    Rule(
        1, "GCInspector", "gc",
        r"^GC for (?P<gc_type>\w+): (?P<duration>\d+) ms for (?P<collections>\d+) "
        r"collections, (?P<used>\d+) used; max is (?P<max>\d+)$",
        converters={"duration": "int", "collections": "int", "used": "int", "max": "int"},
        promote={"duration": "duration_ms", "used": "bytes_in"},
        event_category="garbage_collection", event_type="pause",
    ),
    Rule(
        2, "GCInspector", "gc",
        r"^(?P<gc_type>\w+) GC in (?P<duration>\d+)ms\.\s+CMS Old Gen: "
        r"(?P<old_before>\d+) -> (?P<old_after>\d+); Par Eden Space: "
        r"(?P<eden_before>\d+) -> (?P<eden_after>\d+)$",
        converters={
            "duration": "int", "old_before": "int", "old_after": "int",
            "eden_before": "int", "eden_after": "int",
        },
        promote={"duration": "duration_ms"},
        event_category="garbage_collection", event_type="pause",
    ),
    # --- CompactionTask ----------------------------------------------------
    Rule(
        10, "CompactionTask", "compaction",
        r"^Compacting \[(?P<input_sstables>SSTableReader\(.*)\]$",
        event_category="compaction", event_type="begin",
    ),
    Rule(
        11, "CompactionTask", "compaction",
        r"^Compacted (?P<sstable_count>\d+) sstables to \[(?P<output_sstable>[^\]]*)\]\.\s+"
        r"(?P<input_bytes>[\d,]+) bytes to (?P<output_bytes>[\d,]+) "
        r"\(~(?P<percent_of_original>\d+)% of original\) in (?P<duration>[\d,]+)ms = "
        r"(?P<rate>[\d.]+)MB/s\.\s+(?P<total_partitions>[\d,]+) total partitions merged "
        r"to (?P<partitions_merged>[\d,]+)\.\s+Partition merge counts were "
        r"\{(?P<merge_counts>[^}]*)\}$",
        converters={
            "sstable_count": "int", "input_bytes": "comma_int",
            "output_bytes": "comma_int", "percent_of_original": "int",
            "duration": "comma_int", "rate": "float",
            "total_partitions": "comma_int", "partitions_merged": "comma_int",
        },
        promote={"duration": "duration_ms", "input_bytes": "bytes_in",
                 "output_bytes": "bytes_out"},
        event_category="compaction", event_type="end",
    ),
    # --- flush path --------------------------------------------------------
    Rule(
        20, "ColumnFamilyStore", "flush",
        r"^Enqueuing flush of Memtable-(?P<table>[^@]+)@(?P<hash>\d+)\("
        r"(?P<serialized_bytes>\d+)/(?P<live_bytes>\d+) serialized/live bytes, "
        r"(?P<ops>\d+) ops\)$",
        converters={"hash": "int", "serialized_bytes": "int",
                    "live_bytes": "int", "ops": "int"},
        promote={"serialized_bytes": "bytes_in"},
        event_category="flush", event_type="enqueue",
    ),
    Rule(
        21, "Memtable", "flush",
        r"^Writing Memtable-(?P<table>[^@]+)@(?P<hash>\d+)\("
        r"(?P<serialized_bytes>\d+)/(?P<live_bytes>\d+) serialized/live bytes, "
        r"(?P<ops>\d+) ops\)$",
        converters={"hash": "int", "serialized_bytes": "int",
                    "live_bytes": "int", "ops": "int"},
        promote={"serialized_bytes": "bytes_in"},
        event_category="flush", event_type="begin",
    ),
    Rule(
        22, "Memtable", "flush",
        r"^Completed flushing (?P<filename>\S+) \((?P<file_size>\d+) bytes\) for "
        r"commitlog position ReplayPosition\(segmentId=(?P<segment_id>\d+), "
        r"position=(?P<position>\d+)\)$",
        converters={"file_size": "int", "segment_id": "int", "position": "int"},
        promote={"file_size": "bytes_out"},
        event_category="flush", event_type="end",
    ),
    # --- dropped messages --------------------------------------------------
    Rule(
        30, "MessagingService", "drops",
        r"^(?P<count>\d+) (?P<message_type>\w+) messages dropped in last "
        r"(?P<window_ms>\d+)ms$",
        converters={"count": "int", "window_ms": "int"},
        promote={"count": "count"},
        event_category="messaging", event_type="drops",
    ),
    # --- gossip ------------------------------------------------------------
    Rule(
        40, "Gossiper", "gossip",
        r"^InetAddress /(?P<endpoint>[\d.]+) is now (?P<status>UP|DOWN)$",
        event_category="gossip", event_type="node_status",
    ),
    Rule(
        41, "Gossiper", "gossip",
        r"^FatClient /(?P<endpoint>[\d.]+) has been silent for (?P<silent_ms>\d+)ms, "
        r"removing from gossip$",
        converters={"silent_ms": "int"},
        promote={"silent_ms": "duration_ms"},
        event_category="gossip", event_type="fat_client_removed",
    ),
    # --- StatusLogger pool stats -------------------------------------------
    Rule(
        50, "StatusLogger", "status",
        r"^(?P<pool_name>[A-Za-z_]+)\s{2,}(?P<active>\d+)\s+(?P<pending>\d+)\s+"
        r"(?P<completed>\d+)\s+(?P<blocked>\d+)\s+(?P<all_time_blocked>\d+)$",
        converters={"active": "int", "pending": "int", "completed": "int",
                    "blocked": "int", "all_time_blocked": "int"},
        event_category="status", event_type="threadpool",
    ),
    # --- startup -----------------------------------------------------------
    Rule(
        60, "StorageService", "startup",
        r"^Cassandra version: (?P<version>[\d.]+)$",
        event_category="startup", event_type="version",
    ),
    Rule(
        61, "CassandraDaemon", "startup",
        r"^Heap size: (?P<heap_used>\d+)/(?P<heap_max>\d+)$",
        converters={"heap_used": "int", "heap_max": "int"},
        promote={"heap_used": "bytes_in"},
        event_category="startup", event_type="heap",
    ),
    Rule(
        62, "CassandraDaemon", "startup",
        r"^Logging initialized$",
        event_category="startup", event_type="logging",
    ),
    # --- exception (continuation lines land in `extra`) ---------------------
    Rule(
        63, "CassandraDaemon", "exception",
        r"^Exception in thread Thread\[(?P<exception_thread>[^,\]]+),"
        r"(?P<priority>\d+),main\]$",
        converters={"priority": "int"},
        event_category="error", event_type="exception",
    ),
    # --- network -----------------------------------------------------------
    Rule(
        70, "OutboundTcpConnection", "network",
        r"^Handshaking version with /(?P<endpoint>[\d.]+)$",
        event_category="network", event_type="handshake",
    ),
    # --- hints -------------------------------------------------------------
    Rule(
        80, "HintedHandOffManager", "hints",
        r"^Finished hinted handoff of (?P<rows>\d+) rows to endpoint "
        r"/(?P<endpoint>[\d.]+)$",
        converters={"rows": "int"},
        promote={"rows": "count"},
        event_category="hints", event_type="handoff_end",
    ),
    # --- sstable / commitlog / cache / cql / batch --------------------------
    Rule(
        90, "SSTableReader", "sstable",
        r"^Opening (?P<filename>\S+) \((?P<bytes>\d+) bytes\)$",
        converters={"bytes": "int"},
        promote={"bytes": "bytes_in"},
        event_category="sstable", event_type="open",
    ),
    Rule(
        100, "CommitLogReplayer", "commitlog",
        r"^Replaying (?P<filename>\S+)$",
        event_category="commitlog", event_type="replay",
    ),
    Rule(
        110, "AutoSavingCache", "cache",
        r"^Saved (?P<cache_type>\w+) \((?P<items>\d+) items\) in "
        r"(?P<duration>\d+) ms$",
        converters={"items": "int", "duration": "int"},
        promote={"duration": "duration_ms", "items": "count"},
        event_category="cache", event_type="save",
    ),
    Rule(
        120, "Server", "cql",
        r"^Starting listening for CQL clients on /(?P<addr>[\d.]+):(?P<port>\d+)\.\.\.$",
        converters={"port": "int"},
        event_category="cql", event_type="listen",
    ),
    Rule(
        130, "BatchStatement", "batch",
        r"^Batch of prepared statements for \[(?P<keyspace_table>[^\]]+)\] is of "
        r"size (?P<size>\d+), exceeding specified threshold of (?P<threshold>\d+) "
        r"by (?P<exceed>\d+)\.$",
        converters={"size": "int", "threshold": "int", "exceed": "int"},
        promote={"size": "bytes_in"},
        event_category="batch", event_type="size_warning",
    ),
    # --- breadth rules (reference classes beyond the fixture corpus;
    # systemlog.py §capture_message [R-M], unit-tested via literal lines) ---
    Rule(
        140, "StorageService", "startup",
        r"^JOINING: (?P<joining_status>.*)$",
        event_category="startup", event_type="joining",
    ),
    Rule(
        141, "StorageService", "gossip",
        r"^Node /(?P<endpoint>[\d.]+) state jump to (?P<state>\w+)$",
        event_category="gossip", event_type="state_jump",
    ),
    Rule(
        142, "StorageService", "startup",
        r"^Using saved tokens \[(?P<tokens_list>[^\]]*)\]$",
        event_category="startup", event_type="saved_tokens",
    ),
    Rule(
        150, "CassandraDaemon", "startup",
        r"^JVM vendor/version: (?P<jvm>.*)$",
        event_category="startup", event_type="jvm",
    ),
    Rule(
        151, "CassandraDaemon", "startup",
        r"^Classpath: (?P<classpath>.*)$",
        event_category="startup", event_type="classpath",
    ),
    Rule(
        160, "Memtable", "flush",
        r"^CFS\(Keyspace='(?P<keyspace>[^']+)', ColumnFamily='(?P<table>[^']+)'\) "
        r"liveRatio is (?P<live_ratio>[\d.]+) \(just-counted was (?P<just_counted>[\d.]+)\)\.",
        converters={"live_ratio": "float", "just_counted": "float"},
        event_category="flush", event_type="live_ratio",
    ),
    Rule(
        170, "CompactionController", "compaction",
        r"^Compacting large (?:row|partition) (?P<keyspace_table>\S+):(?P<partition_key>\S+) "
        r"\((?P<bytes>\d+) bytes\) incrementally$",
        converters={"bytes": "int"},
        promote={"bytes": "bytes_in"},
        event_category="compaction", event_type="large_partition",
    ),
    Rule(
        180, "SSTableDeletingTask", "sstable",
        r"^Unable to delete (?P<filename>\S+) \(it will be removed on server restart; "
        r"we'll also retry after GC\)$",
        event_category="sstable", event_type="delete_failed",
    ),
    Rule(
        190, "Gossiper", "gossip",
        r"^Announcing shutdown$",
        event_category="gossip", event_type="shutdown",
    ),
    Rule(
        191, "Gossiper", "gossip",
        r"^Node /(?P<endpoint>[\d.]+) has restarted, now UP$",
        event_category="gossip", event_type="node_restarted",
    ),
    Rule(
        200, "OutboundTcpConnection", "network",
        r"^Cannot handshake version with /(?P<endpoint>[\d.]+)$",
        event_category="network", event_type="handshake_failed",
    ),
    Rule(
        210, "HintedHandOffManager", "hints",
        r"^Started hinted handoff for host: (?P<host_id>\S+) with IP: /(?P<endpoint>[\d.]+)$",
        event_category="hints", event_type="handoff_begin",
    ),
    Rule(
        211, "HintedHandOffManager", "hints",
        r"^Deleting any stored hints for /(?P<endpoint>[\d.]+)$",
        event_category="hints", event_type="hints_deleted",
    ),
    Rule(
        220, "CommitLog", "commitlog",
        r"^No commitlog files found; skipping replay$",
        event_category="commitlog", event_type="no_replay",
    ),
    Rule(
        221, "CommitLogReplayer", "commitlog",
        r"^Log replay complete, (?P<replayed_mutations>\d+) replayed mutations$",
        converters={"replayed_mutations": "int"},
        promote={"replayed_mutations": "count"},
        event_category="commitlog", event_type="replay_complete",
    ),
    Rule(
        230, "SecondaryIndexManager", "index",
        r"^Creating new index : ColumnDefinition\{(?P<definition>.*)\}$",
        event_category="index", event_type="create",
    ),
    Rule(
        231, "SecondaryIndexManager", "index",
        r"^Submitting index build of (?P<index_name>\S+) for data in (?P<sstables>.*)$",
        event_category="index", event_type="build",
    ),
    Rule(
        240, "MigrationManager", "schema",
        r"^Create new table: (?P<table_def>.*)$",
        event_category="schema", event_type="create_table",
    ),
    Rule(
        241, "MigrationManager", "schema",
        r"^Update table '(?P<keyspace_table>[^']+)' From (?P<from_def>.*) To (?P<to_def>.*)$",
        event_category="schema", event_type="update_table",
    ),
    Rule(
        250, "ThriftServer", "cql",
        r"^Listening for thrift clients\.\.\.$",
        event_category="thrift", event_type="listen",
    ),
    Rule(
        260, "SlabPoolCleaner", "flush",
        r"^Flushing largest CFS\(Keyspace='(?P<keyspace>[^']+)', ColumnFamily="
        r"'(?P<table>[^']+)'\) to free up room\. Used total: (?P<used_ratio>[\d.]+)/"
        r"(?P<reclaimable_ratio>[\d.]+), live: (?P<live_ratio>[\d.]+)/"
        r"(?P<live_reclaimable>[\d.]+), flushing: (?P<flushing_ratio>[\d.]+)/"
        r"(?P<flushing_reclaimable>[\d.]+), this: (?P<this_ratio>[\d.]+)/"
        r"(?P<this_reclaimable>[\d.]+)$",
        converters={k: "float" for k in (
            "used_ratio", "reclaimable_ratio", "live_ratio", "live_reclaimable",
            "flushing_ratio", "flushing_reclaimable", "this_ratio", "this_reclaimable")},
        event_category="flush", event_type="slab_flush",
    ),
    Rule(
        270, "AntiEntropyService", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] new session: will sync (?P<nodes>.*) on "
        r"range \((?P<range_start>-?\d+),(?P<range_end>-?\d+)\] for "
        r"(?P<keyspace>\S+)\.\[(?P<tables>[^\]]+)\]$",
        converters={"range_start": "int", "range_end": "int"},
        event_category="repair", event_type="session_start",
    ),
    Rule(
        271, "AntiEntropyService", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] session completed successfully$",
        event_category="repair", event_type="session_end",
    ),
    # =======================================================================
    # Version-variant + long-tail rules (systemlog.py §capture_message
    # [R-H] — the reference's ~300-rule table spans Cassandra 1.2/2.0/
    # 2.1/2.2/3.x formats; each rule below is a re-derived public log
    # shape with a literal fixture line in tests/test_rules.py).
    # Declaration order within a class == first-match priority.
    # =======================================================================
    # --- GCInspector variants ------------------------------------------------
    Rule(
        3, "GCInspector", "gc",
        r"^(?P<gc_type>\w+) GC in (?P<duration>\d+)ms\.\s+CMS Old Gen: "
        r"(?P<old_before>\d+) -> (?P<old_after>\d+); Par Eden Space: "
        r"(?P<eden_before>\d+) -> (?P<eden_after>\d+); Par Survivor Space: "
        r"(?P<surv_before>\d+) -> (?P<surv_after>\d+)$",
        converters={k: "int" for k in (
            "duration", "old_before", "old_after", "eden_before", "eden_after",
            "surv_before", "surv_after")},
        promote={"duration": "duration_ms"},
        event_category="garbage_collection", event_type="pause",
    ),
    Rule(
        4, "GCInspector", "gc",
        r"^G1 (?P<generation>\w+) Generation GC in (?P<duration>\d+)ms\.\s+"
        r"G1 Eden Space: (?P<eden_before>\d+) -> (?P<eden_after>\d+);"
        r"(?P<other_spaces>.*)$",
        converters={"duration": "int", "eden_before": "int", "eden_after": "int"},
        promote={"duration": "duration_ms"},
        event_category="garbage_collection", event_type="pause",
    ),
    Rule(
        5, "GCInspector", "gc",
        r"^Heap is (?P<heap_fraction>[\d.]+) full\..*$",
        converters={"heap_fraction": "float"},
        event_category="garbage_collection", event_type="heap_pressure",
    ),
    Rule(
        6, "GCInspector", "gc",
        # generic 2.1+ "<collector> GC in Nms. <spaces>" fallback — MUST
        # stay after the specific CMS/G1 shapes above
        r"^(?P<gc_type>\w+) GC in (?P<duration>\d+)ms\.\s+(?P<spaces>.+)$",
        converters={"duration": "int"},
        promote={"duration": "duration_ms"},
        event_category="garbage_collection", event_type="pause",
    ),
    # --- StatusLogger full dump ---------------------------------------------
    Rule(
        51, "StatusLogger", "status",
        r"^Pool Name\s+Active\s+Pending\s+Completed\s+Blocked\s+All Time Blocked$",
        event_category="status", event_type="threadpool_header",
    ),
    Rule(
        52, "StatusLogger", "status",
        r"^(?P<cache_type>\w+Cache)\s{2,}(?P<size>\d+)\s+(?P<capacity>\d+)\s+"
        r"(?P<keys_to_save>\S+)$",
        converters={"size": "int", "capacity": "int"},
        event_category="status", event_type="cache",
    ),
    Rule(
        53, "StatusLogger", "status",
        r"^ColumnFamily\s+Memtable ops,data$",
        event_category="status", event_type="memtable_header",
    ),
    Rule(
        54, "StatusLogger", "status",
        r"^(?P<keyspace_table>\S+\.\S+)\s{2,}(?P<ops>[\d,]+),(?P<data>[\d,]+)$",
        converters={"ops": "comma_int", "data": "comma_int"},
        event_category="status", event_type="memtable",
    ),
    # --- compaction variants --------------------------------------------------
    Rule(
        12, "CompactionTask", "compaction",
        # 3.x: task id + level + unit-suffixed throughputs
        r"^Compacted \((?P<task_id>[^)]+)\) (?P<sstable_count>\d+) sstables to "
        r"\[(?P<output_sstable>[^\]]*)\] to level=(?P<compaction_level>\d+)\.\s+"
        r"(?P<input_bytes>[\d,]+) bytes to (?P<output_bytes>[\d,]+) "
        r"\(~(?P<percent_of_original>\d+)% of original\) in (?P<duration>[\d,]+)ms\.\s+"
        r"Read Throughput = (?P<read_rate>[\d.,]+)(?P<read_unit>\w+)/s, "
        r"Write Throughput = (?P<write_rate>[\d.,]+)(?P<write_unit>\w+)/s, "
        r"Row Throughput = ~(?P<row_rate>[\d,]+)/s\.\s+"
        r"(?P<total_partitions>[\d,]+) total partitions merged to "
        r"(?P<partitions_merged>[\d,]+)\.\s+Partition merge counts were "
        r"\{(?P<merge_counts>[^}]*)\}$",
        converters={
            "sstable_count": "int", "compaction_level": "int", "input_bytes": "comma_int",
            "output_bytes": "comma_int", "percent_of_original": "int",
            "duration": "comma_int", "total_partitions": "comma_int",
            "partitions_merged": "comma_int",
        },
        promote={"duration": "duration_ms", "input_bytes": "bytes_in",
                 "output_bytes": "bytes_out"},
        event_category="compaction", event_type="end",
    ),
    Rule(
        15, "CompactionTask", "compaction",
        # 2.1+: begin with task id
        r"^Compacting \((?P<task_id>[^)]+)\) \[(?P<input_sstables>SSTableReader\(.*)\]$",
        event_category="compaction", event_type="begin",
    ),
    Rule(
        13, "LeveledManifest", "compaction",
        # capture named compaction_level, NOT level: captured fields are
        # flattened into the compat JSON next to the header keys, and a
        # group named `level` would silently overwrite the log level
        r"^Adding high-level \(L(?P<compaction_level>\d+)\) (?P<sstable>SSTableReader\(.*\)) "
        r"to candidates$",
        converters={"compaction_level": "int"},
        event_category="compaction", event_type="leveling",
    ),
    Rule(
        14, "CompactionManager", "compaction",
        r"^No files to compact for user defined compaction$",
        event_category="compaction", event_type="noop",
    ),
    # --- flush variants (2.1 / 3.x) -------------------------------------------
    Rule(
        23, "ColumnFamilyStore", "flush",
        r"^Enqueuing flush of (?P<table>[^:]+): (?P<on_heap_bytes>\d+) "
        r"\((?P<on_heap_pct>\d+)%\) on-heap, (?P<off_heap_bytes>\d+) "
        r"\((?P<off_heap_pct>\d+)%\) off-heap$",
        converters={"on_heap_bytes": "int", "on_heap_pct": "int",
                    "off_heap_bytes": "int", "off_heap_pct": "int"},
        promote={"on_heap_bytes": "bytes_in"},
        event_category="flush", event_type="enqueue",
    ),
    Rule(
        27, "ColumnFamilyStore", "flush",
        r"^Initializing (?P<keyspace_table>\S+\.\S+)$",
        event_category="flush", event_type="init",
    ),
    Rule(
        24, "Memtable", "flush",
        r"^Writing Memtable-(?P<table>[^@]+)@(?P<hash>\d+)\("
        r"(?P<serialized>[\d.]+)(?P<unit>[KMG]iB|B) serialized bytes, "
        r"(?P<ops>\d+) ops, (?P<on_heap_pct>\d+)%/(?P<off_heap_pct>\d+)% "
        r"of on/off-heap limit\)$",
        converters={"hash": "int", "ops": "int",
                    "on_heap_pct": "int", "off_heap_pct": "int"},
        event_category="flush", event_type="begin",
    ),
    Rule(
        25, "Memtable", "flush",
        r"^Completed flushing (?P<filename>\S+) \((?P<file_size>[\d.]+)"
        r"(?P<unit>[KMG]iB|B)\) for commitlog position ReplayPosition\("
        r"segmentId=(?P<segment_id>\d+), position=(?P<position>\d+)\)$",
        converters={"segment_id": "int", "position": "int"},
        event_category="flush", event_type="end",
    ),
    Rule(
        26, "Memtable", "flush",
        r"^Completed flushing (?P<filename>\S+) \((?P<file_size>[\d.]+)"
        r"(?P<unit>[KMG]iB|B)\) for commitlog position CommitLogPosition\("
        r"segmentId=(?P<segment_id>\d+), position=(?P<position>\d+)\)$",
        converters={"segment_id": "int", "position": "int"},
        event_category="flush", event_type="end",
    ),
    # --- dropped messages (3.x wording) ---------------------------------------
    Rule(
        31, "MessagingService", "drops",
        r"^(?P<message_type>\w+) messages were dropped in last (?P<window_ms>\d+) ms: "
        r"(?P<internal>\d+) internal and (?P<cross_node>\d+) cross node\. "
        r"Mean internal dropped latency: (?P<internal_latency_ms>\d+) ms and "
        r"Mean cross-node dropped latency: (?P<cross_latency_ms>\d+) ms$",
        converters={k: "int" for k in (
            "window_ms", "internal", "cross_node",
            "internal_latency_ms", "cross_latency_ms")},
        promote={"internal": "count"},
        event_category="messaging", event_type="drops",
    ),
    Rule(
        203, "MessagingService", "network",
        r"^Waiting for messaging service to quiesce$",
        event_category="network", event_type="quiesce",
    ),
    # --- gossip long tail ------------------------------------------------------
    Rule(
        42, "Gossiper", "gossip",
        r"^removing endpoint /(?P<endpoint>[\d.]+)$",
        event_category="gossip", event_type="endpoint_removed",
    ),
    Rule(
        43, "Gossiper", "gossip",
        r"^Removing host: (?P<host_id>\S+)$",
        event_category="gossip", event_type="host_removed",
    ),
    Rule(
        44, "Gossiper", "gossip",
        r"^Gossip stage has (?P<pending>\d+) pending tasks; skipping status check "
        r"\(no nodes will be marked down\)$",
        converters={"pending": "int"},
        event_category="gossip", event_type="stage_backlog",
    ),
    Rule(
        46, "Gossiper", "gossip",
        r"^InetAddress /(?P<endpoint>[\d.]+) is now dead\.$",
        event_category="gossip", event_type="node_status",
    ),
    Rule(
        45, "FailureDetector", "gossip",
        r"^Not marking nodes down due to local pause of (?P<pause_ns>\d+) > "
        r"(?P<threshold_ns>\d+)$",
        converters={"pause_ns": "int", "threshold_ns": "int"},
        event_category="gossip", event_type="local_pause",
    ),
    # --- startup long tail ------------------------------------------------------
    Rule(
        64, "CassandraDaemon", "startup",
        r"^JVM Arguments: \[(?P<jvm_args>.*)\]$",
        event_category="startup", event_type="jvm_args",
    ),
    Rule(
        65, "CassandraDaemon", "startup",
        r"^Hostname: (?P<hostname>\S+)$",
        event_category="startup", event_type="hostname",
    ),
    Rule(
        66, "CassandraDaemon", "startup",
        r"^Waiting for gossip to settle before accepting client requests\.\.\.$",
        event_category="startup", event_type="gossip_settle",
    ),
    Rule(
        67, "CassandraDaemon", "startup",
        r"^No gossip backlog; proceeding$",
        event_category="startup", event_type="gossip_settled",
    ),
    Rule(
        143, "StorageService", "startup",
        r"^Starting up server gossip$",
        event_category="startup", event_type="gossip_start",
    ),
    Rule(
        144, "StorageService", "startup",
        r"^Bootstrap completed! for the tokens \[(?P<tokens_list>[^\]]*)\]$",
        event_category="startup", event_type="bootstrap_complete",
    ),
    Rule(
        145, "StorageService", "startup",
        r"^DRAINING: (?P<drain_status>.*)$",
        event_category="shutdown", event_type="draining",
    ),
    Rule(
        146, "StorageService", "startup",
        r"^DRAINED$",
        event_category="shutdown", event_type="drained",
    ),
    Rule(
        147, "StorageService", "startup",
        r"^Loading persisted ring state$",
        event_category="startup", event_type="ring_state",
    ),
    Rule(
        148, "StorageService", "startup",
        r"^Thrift API version: (?P<thrift_version>[\d.]+)$",
        event_category="startup", event_type="thrift_version",
    ),
    Rule(
        149, "StorageService", "startup",
        r"^CQL supported versions: (?P<versions>\S+) \(default: "
        r"(?P<default_version>[^)]+)\)$",
        event_category="startup", event_type="cql_versions",
    ),
    Rule(
        400, "YamlConfigurationLoader", "startup",
        r"^Loading settings from (?P<config_url>\S+)$",
        event_category="startup", event_type="config_load",
    ),
    Rule(
        401, "YamlConfigurationLoader", "startup",
        r"^Node configuration:\[(?P<config>.*)\]$",
        event_category="startup", event_type="config_dump",
    ),
    Rule(
        410, "DatabaseDescriptor", "startup",
        r"^DiskAccessMode 'auto' determined to be (?P<disk_access_mode>\w+), "
        r"indexAccessMode is (?P<index_access_mode>\w+)$",
        event_category="startup", event_type="disk_access_mode",
    ),
    Rule(
        411, "DatabaseDescriptor", "startup",
        r"^Global memtable (?P<kind>on-heap|off-heap) threshold is enabled at "
        r"(?P<threshold_mb>\d+)MB$",
        converters={"threshold_mb": "int"},
        event_category="startup", event_type="memtable_threshold",
    ),
    # --- cache services ---------------------------------------------------------
    Rule(
        111, "CacheService", "cache",
        r"^Initializing (?P<cache_kind>\w+) cache with capacity of "
        r"(?P<capacity_mb>\d+) MBs\.$",
        converters={"capacity_mb": "int"},
        event_category="cache", event_type="init",
    ),
    Rule(
        113, "CacheService", "cache",
        r"^Scheduling (?P<cache_kind>\w+) cache save to every (?P<period_s>\d+) "
        r"seconds \(going to save (?P<scope>.*) keys\)\.$",
        converters={"period_s": "int"},
        event_category="cache", event_type="schedule_save",
    ),
    Rule(
        112, "AutoSavingCache", "cache",
        r"^reading saved cache (?P<filename>\S+)$",
        event_category="cache", event_type="load_begin",
    ),
    Rule(
        114, "AutoSavingCache", "cache",
        r"^Completed loading \((?P<duration>\d+) ms; (?P<keys>\d+) keys\) "
        r"(?P<cache_type>\w+) cache$",
        converters={"duration": "int", "keys": "int"},
        promote={"duration": "duration_ms", "keys": "count"},
        event_category="cache", event_type="load_end",
    ),
    # --- network long tail -------------------------------------------------------
    Rule(
        201, "OutboundTcpConnection", "network",
        r"^error writing to /(?P<endpoint>[\d.]+)$",
        event_category="network", event_type="write_error",
    ),
    Rule(
        202, "IncomingTcpConnection", "network",
        r"^UnknownColumnFamilyException reading from socket; closing$",
        event_category="network", event_type="unknown_cf",
    ),
    # --- hints (3.x service) -------------------------------------------------------
    Rule(
        212, "HintsService", "hints",
        r"^Paused hints dispatch$",
        event_category="hints", event_type="dispatch_paused",
    ),
    Rule(
        213, "HintsService", "hints",
        r"^Resumed hints dispatch$",
        event_category="hints", event_type="dispatch_resumed",
    ),
    Rule(
        214, "HintsDispatchExecutor", "hints",
        r"^Finished hinted handoff of file (?P<filename>\S+) to endpoint "
        r"/(?P<endpoint>[\d.]+): (?P<host_id>\S+)$",
        event_category="hints", event_type="handoff_end",
    ),
    Rule(
        215, "HintedHandOffManager", "hints",
        r"^Timed out replaying hints to /(?P<endpoint>[\d.]+); aborting "
        r"\((?P<delivered>\d+) delivered\)$",
        converters={"delivered": "int"},
        promote={"delivered": "count"},
        event_category="hints", event_type="handoff_timeout",
    ),
    # --- sstable long tail ----------------------------------------------------------
    Rule(
        181, "IndexSummaryManager", "sstable",
        r"^Redistributing index summaries$",
        event_category="sstable", event_type="index_summary",
    ),
    Rule(
        92, "SSTable", "sstable",
        r"^Deleting sstable: (?P<filename>\S+)$",
        event_category="sstable", event_type="delete",
    ),
    # --- commitlog long tail ----------------------------------------------------------
    Rule(
        222, "CommitLogReplayer", "commitlog",
        r"^Replaying (?P<filename>\S+) \(CL version (?P<cl_version>\d+), "
        r"messaging version (?P<messaging_version>\d+)\)$",
        converters={"cl_version": "int", "messaging_version": "int"},
        event_category="commitlog", event_type="replay",
    ),
    Rule(
        224, "CommitLogReplayer", "commitlog",
        r"^Replaying (?P<filename>\S+) starting at position (?P<position>\d+)$",
        converters={"position": "int"},
        event_category="commitlog", event_type="replay",
    ),
    Rule(
        223, "CommitLogSegmentManager", "commitlog",
        r"^Creating new commit log segment (?P<filename>\S+)$",
        event_category="commitlog", event_type="new_segment",
    ),
    # --- native protocol / thrift servers ----------------------------------------------
    Rule(
        121, "Server", "cql",
        r"^Stop listening for CQL clients$",
        event_category="cql", event_type="stop",
    ),
    Rule(
        122, "Server", "cql",
        r"^Netty using (?P<event_loop>native Epoll event loop|Java NIO event loop)$",
        event_category="cql", event_type="netty_transport",
    ),
    Rule(
        123, "Server", "cql",
        r"^Using Netty Version: \[(?P<netty_version>[^\]]*)\]$",
        event_category="cql", event_type="netty_version",
    ),
    Rule(
        251, "ThriftServer", "cql",
        r"^Binding thrift service to /(?P<addr>[\d.]+):(?P<port>\d+)$",
        converters={"port": "int"},
        event_category="thrift", event_type="bind",
    ),
    Rule(
        252, "ThriftServer", "cql",
        r"^Stop listening to thrift clients$",
        event_category="thrift", event_type="stop",
    ),
    # --- batch warnings -----------------------------------------------------------------
    Rule(
        131, "BatchStatement", "batch",
        r"^Unlogged batch covering (?P<partitions>\d+) partitions detected against "
        r"tables? \[(?P<keyspace_table>[^\]]+)\]\..*$",
        converters={"partitions": "int"},
        promote={"partitions": "count"},
        event_category="batch", event_type="unlogged_warning",
    ),
    # --- read path / tombstones (family: read) ------------------------------------------
    Rule(
        500, "SliceQueryFilter", "read",
        r"^Read (?P<live>\d+) live and (?P<tombstones>\d+) tombstone cells in "
        r"(?P<keyspace_table>\S+) for key: (?P<key>.+?) "
        r"\(see tombstone_warn_threshold\)\. (?P<requested>\d+) columns were "
        r"requested, slices=\[(?P<slices>[^\]]*)\]$",
        converters={"live": "int", "tombstones": "int", "requested": "int"},
        promote={"tombstones": "count"},
        event_category="read", event_type="tombstone_warning",
    ),
    Rule(
        501, "SliceQueryFilter", "read",
        r"^Scanned over (?P<tombstones>\d+) tombstones in (?P<keyspace_table>\S+); "
        r"query aborted \(see tombstone_failure_threshold\)$",
        converters={"tombstones": "int"},
        promote={"tombstones": "count"},
        event_category="read", event_type="tombstone_abort",
    ),
    Rule(
        502, "ReadCommand", "read",
        r"^Read (?P<live>\d+) live rows and (?P<tombstones>\d+) tombstone cells "
        r"for query (?P<query>.*) \(see tombstone_warn_threshold\)$",
        converters={"live": "int", "tombstones": "int"},
        promote={"tombstones": "count"},
        event_category="read", event_type="tombstone_warning",
    ),
    Rule(
        503, "ReadCallback", "read",
        r"^Digest mismatch: (?P<exception>\S+): Mismatch for key (?P<key>.*)$",
        event_category="read", event_type="digest_mismatch",
    ),
    # --- streaming (family: streaming) ---------------------------------------------------
    Rule(
        600, "StreamResultFuture", "streaming",
        r"^\[Stream #(?P<stream_id>[^\]]+)\] Executing streaming plan for "
        r"(?P<operation>.*)$",
        event_category="streaming", event_type="plan_start",
    ),
    Rule(
        604, "StreamResultFuture", "streaming",
        r"^\[Stream #(?P<stream_id>[^\]]+)\] Prepare completed\. Receiving "
        r"(?P<receiving_files>\d+) files\((?P<receiving_bytes>\d+) bytes\), sending "
        r"(?P<sending_files>\d+) files\((?P<sending_bytes>\d+) bytes\)$",
        converters={k: "int" for k in (
            "receiving_files", "receiving_bytes", "sending_files", "sending_bytes")},
        promote={"receiving_bytes": "bytes_in", "sending_bytes": "bytes_out"},
        event_category="streaming", event_type="prepare_complete",
    ),
    Rule(
        601, "StreamResultFuture", "streaming",
        r"^\[Stream #(?P<stream_id>[^\]]+)\] Session with /(?P<endpoint>[\d.]+) "
        r"is complete$",
        event_category="streaming", event_type="session_complete",
    ),
    Rule(
        602, "StreamResultFuture", "streaming",
        r"^\[Stream #(?P<stream_id>[^\]]+)\] All sessions completed$",
        event_category="streaming", event_type="all_complete",
    ),
    Rule(
        603, "StreamSession", "streaming",
        r"^\[Stream #(?P<stream_id>[^\]]+)\] Starting streaming to "
        r"/(?P<endpoint>[\d.]+)$",
        event_category="streaming", event_type="session_start",
    ),
    # --- repair (2.1+ classes) ------------------------------------------------------------
    Rule(
        272, "RepairSession", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] new session: will sync (?P<nodes>.*) "
        r"on range \((?P<range_start>-?\d+),(?P<range_end>-?\d+)\] for "
        r"(?P<keyspace>\S+)\.\[(?P<tables>[^\]]+)\]$",
        converters={"range_start": "int", "range_end": "int"},
        event_category="repair", event_type="session_start",
    ),
    Rule(
        273, "RepairSession", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] Received merkle tree for "
        r"(?P<table>\S+) from /(?P<endpoint>[\d.]+)$",
        event_category="repair", event_type="merkle_received",
    ),
    Rule(
        274, "RepairSession", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] (?P<table>\S+) is fully synced$",
        event_category="repair", event_type="table_synced",
    ),
    Rule(
        275, "RepairSession", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] session completed successfully$",
        event_category="repair", event_type="session_end",
    ),
    Rule(
        276, "RepairRunnable", "repair",
        r"^Starting repair command #(?P<command>\d+), repairing keyspace "
        r"(?P<keyspace>\S+) with repair options \((?P<options>.*)\)$",
        converters={"command": "int"},
        event_category="repair", event_type="command_start",
    ),
    Rule(
        277, "Validator", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] Sending completed merkle tree to "
        r"/(?P<endpoint>[\d.]+) for (?P<keyspace_table>\S+)$",
        event_category="repair", event_type="merkle_sent",
    ),
    # --- schema long tail --------------------------------------------------------------------
    Rule(
        242, "MigrationManager", "schema",
        r"^Drop table '(?P<keyspace_table>[^']+)'$",
        event_category="schema", event_type="drop_table",
    ),
    Rule(
        243, "MigrationManager", "schema",
        r"^Create new Keyspace: (?P<keyspace_def>.*)$",
        event_category="schema", event_type="create_keyspace",
    ),
    Rule(
        244, "MigrationManager", "schema",
        r"^Drop Keyspace '(?P<keyspace>[^']+)'$",
        event_category="schema", event_type="drop_keyspace",
    ),
    Rule(
        245, "MigrationManager", "schema",
        r"^Update Keyspace '(?P<keyspace>[^']+)' From (?P<from_def>.*) To "
        r"(?P<to_def>.*)$",
        event_category="schema", event_type="update_keyspace",
    ),
    Rule(
        232, "SecondaryIndexManager", "index",
        r"^Index build of (?P<index_name>\S+) complete$",
        event_category="index", event_type="build_complete",
    ),
    # --- off-heap memory pressure (3.x NoSpamLogger) --------------------------------------------
    Rule(
        700, "NoSpamLogger", "memory",
        r"^Maximum memory usage reached \((?P<max>[\d.]+)(?P<max_unit>[KMG]iB|B)\), "
        r"cannot allocate chunk of (?P<chunk>[\d.]+)(?P<chunk_unit>[KMG]iB|B)$",
        event_category="memory", event_type="pool_exhausted",
    ),
    # --- batch 3: more public 1.2/2.0/2.1/3.x shapes ---------------------------
    Rule(
        800, "MeteredFlusher", "flush",
        r"^flushing high-traffic column family CFS\(Keyspace='(?P<keyspace>[^']+)', "
        r"ColumnFamily='(?P<table>[^']+)'\) \(estimated (?P<bytes>\d+) bytes\)$",
        converters={"bytes": "int"},
        promote={"bytes": "bytes_in"},
        event_category="flush", event_type="metered_flush",
    ),
    Rule(
        801, "CompactionManager", "compaction",
        r"^Compaction interrupted: (?P<task>.*)$",
        event_category="compaction", event_type="interrupted",
    ),
    Rule(
        822, "CompactionTask", "compaction",
        # 2.1: task id + MB/s rate, no level / throughput breakdown
        r"^Compacted \((?P<task_id>[^)]+)\) (?P<sstable_count>\d+) sstables to "
        r"\[(?P<output_sstable>[^\]]*)\]\.\s+(?P<input_bytes>[\d,]+) bytes to "
        r"(?P<output_bytes>[\d,]+) \(~(?P<percent_of_original>\d+)% of original\) in "
        r"(?P<duration>[\d,]+)ms = (?P<rate>[\d.]+)MB/s\.\s+"
        r"(?P<total_partitions>[\d,]+) total partitions merged to "
        r"(?P<partitions_merged>[\d,]+)\.\s+Partition merge counts were "
        r"\{(?P<merge_counts>[^}]*)\}$",
        converters={
            "sstable_count": "int", "input_bytes": "comma_int",
            "output_bytes": "comma_int", "percent_of_original": "int",
            "duration": "comma_int", "rate": "float",
            "total_partitions": "comma_int", "partitions_merged": "comma_int",
        },
        promote={"duration": "duration_ms", "input_bytes": "bytes_in",
                 "output_bytes": "bytes_out"},
        event_category="compaction", event_type="end",
    ),
    Rule(
        818, "BigTableWriter", "compaction",
        r"^Writing large partition (?P<keyspace>\S+)/(?P<table>[^:]+):"
        r"(?P<partition_key>\S+) \((?P<bytes>\d+) bytes.*\)$",
        converters={"bytes": "int"},
        promote={"bytes": "bytes_out"},
        event_category="compaction", event_type="large_partition",
    ),
    Rule(
        802, "StorageService", "repair",
        r"^Repair session (?P<session_id>\S+) for range \((?P<range_start>-?\d+),"
        r"(?P<range_end>-?\d+)\] finished$",
        converters={"range_start": "int", "range_end": "int"},
        event_category="repair", event_type="session_end",
    ),
    Rule(
        803, "StorageService", "repair",
        r"^Starting repair command #(?P<command>\d+), repairing (?P<ranges>\d+) "
        r"ranges for keyspace (?P<keyspace>\S+) \((?P<options>.*)\)$",
        converters={"command": "int", "ranges": "int"},
        event_category="repair", event_type="command_start",
    ),
    Rule(
        821, "StorageService", "startup",
        r"^Populating token metadata from system tables$",
        event_category="startup", event_type="token_metadata",
    ),
    Rule(
        804, "Memtable", "flush",
        r"^setting live ratio to (?P<bound>minimum|maximum) of "
        r"(?P<bound_value>[\d.]+) instead of (?P<computed>[\d.]+)$",
        converters={"bound_value": "float", "computed": "float"},
        event_category="flush", event_type="live_ratio_clamp",
    ),
    Rule(
        810, "ColumnFamilyStore", "flush",
        # 3.x: unit-suffixed on/off-heap sizes
        r"^Enqueuing flush of (?P<table>[^:]+): (?P<on_heap>[\d.]+)"
        r"(?P<on_unit>[KMG]iB|B) \((?P<on_heap_pct>\d+)%\) on-heap, "
        r"(?P<off_heap>[\d.]+)(?P<off_unit>[KMG]iB|B) \((?P<off_heap_pct>\d+)%\) "
        r"off-heap$",
        converters={"on_heap_pct": "int", "off_heap_pct": "int"},
        event_category="flush", event_type="enqueue",
    ),
    Rule(
        811, "ColumnFamilyStore", "sstable",
        r"^Loading new SSTables for (?P<keyspace>\S+)/(?P<table>\S+)\.\.\.$",
        event_category="sstable", event_type="load_new",
    ),
    Rule(
        805, "CassandraDaemon", "startup",
        r"^Cassandra shutting down\.\.\.$",
        event_category="shutdown", event_type="shutdown",
    ),
    Rule(
        806, "QueryProcessor", "cql",
        r"^Preloaded (?P<count>\d+) prepared statements$",
        converters={"count": "int"},
        promote={"count": "count"},
        event_category="cql", event_type="preload_statements",
    ),
    Rule(
        807, "IndexSummaryRedistribution", "sstable",
        r"^Redistributing index summaries$",
        event_category="sstable", event_type="index_summary",
    ),
    Rule(
        808, "TokenMetadata", "gossip",
        r"^Updating topology for /(?P<endpoint>[\d.]+)$",
        event_category="gossip", event_type="topology_update",
    ),
    Rule(
        809, "SystemKeyspace", "startup",
        r"^No host ID found, created (?P<host_id>\S+) \(Note: This should happen "
        r"exactly once per node\)\.$",
        event_category="startup", event_type="host_id_created",
    ),
    Rule(
        812, "Gossiper", "gossip",
        r"^Sleeping for (?P<sleep_ms>\d+)ms to ensure /(?P<endpoint>[\d.]+) "
        r"does not change$",
        converters={"sleep_ms": "int"},
        promote={"sleep_ms": "duration_ms"},
        event_category="gossip", event_type="remove_sleep",
    ),
    Rule(
        813, "Gossiper", "gossip",
        r"^Node /(?P<endpoint>[\d.]+) is now part of the cluster$",
        event_category="gossip", event_type="node_joined",
    ),
    Rule(
        814, "MigrationTask", "schema",
        r"^Can't send migration request: node /(?P<endpoint>[\d.]+) is down\.$",
        event_category="schema", event_type="migration_blocked",
    ),
    Rule(
        815, "HintedHandOffManager", "hints",
        r"^Checking remote schema before delivering hints$",
        event_category="hints", event_type="schema_check",
    ),
    Rule(
        816, "CassandraRoleManager", "auth",
        r"^Created default superuser role '(?P<role>[^']+)'$",
        event_category="auth", event_type="superuser_created",
    ),
    Rule(
        817, "Auth", "auth",
        r"^Created default superuser '(?P<user>[^']+)'$",
        event_category="auth", event_type="superuser_created",
    ),
    Rule(
        819, "MonitoringTask", "read",
        r"^(?P<count>\d+) operations were slow in the last (?P<window_ms>\d+) "
        r"msecs:.*$",
        converters={"count": "int", "window_ms": "int"},
        promote={"count": "count"},
        event_category="read", event_type="slow_operations",
    ),
    Rule(
        820, "StatusLogger", "status",
        r"^MessagingService\s+n/a\s+(?P<pending>\d+)/(?P<dropped>\d+)$",
        converters={"pending": "int", "dropped": "int"},
        event_category="status", event_type="messaging",
    ),
    Rule(
        824, "SolrCore", "solr",
        r"^\[(?P<core>\S+)\] CLOSING SolrCore (?P<instance>\S+)$",
        event_product="solr", event_category="solr", event_type="core_close",
    ),
    Rule(
        825, "AbstractSolrSecondaryIndex", "solr",
        r"^Truncating index (?P<core>\S+)$",
        event_product="solr", event_category="solr", event_type="truncate",
    ),
    # --- batch 4: startup checks, anticompaction, streaming repair, misc ------
    Rule(
        830, "StartupChecks", "startup",
        r"^jemalloc shared library could not be preloaded to speed up memory "
        r"allocations$",
        event_category="startup", event_type="jemalloc_missing",
    ),
    Rule(
        831, "SigarLibrary", "startup",
        r"^Could not initialize SIGAR library (?P<detail>.*)$",
        event_category="startup", event_type="sigar_missing",
    ),
    Rule(
        832, "CLibrary", "startup",
        r"^JNA mlockall successful$",
        event_category="startup", event_type="mlockall",
    ),
    Rule(
        833, "CLibrary", "startup",
        r"^Unable to lock JVM memory \((?P<errno>\w+)\)\..*$",
        event_category="startup", event_type="mlockall_failed",
    ),
    Rule(
        834, "CassandraDaemon", "startup",
        r"^Could not resolve local host$",
        event_category="startup", event_type="resolve_failed",
    ),
    Rule(
        835, "CassandraDaemon", "gossip",
        r"^Gossip not settled after (?P<polls>\d+) polls\..*$",
        converters={"polls": "int"},
        event_category="gossip", event_type="settle_timeout",
    ),
    Rule(
        836, "ColumnFamilyStore", "compaction",
        r"^Unable to cancel in-progress compactions for (?P<table>[^.]+)\..*$",
        event_category="compaction", event_type="cancel_failed",
    ),
    Rule(
        846, "ColumnFamilyStore", "flush",
        r"^Flushing SecondaryIndex (?P<index>.*)$",
        event_product="dse", event_category="flush", event_type="index_flush",
    ),
    Rule(
        837, "CompactionManager", "compaction",
        r"^Starting anticompaction for (?P<keyspace>\S+)\.(?P<table>\S+) on "
        r"(?P<selected>\d+)/(?P<total>\d+) sstables$",
        converters={"selected": "int", "total": "int"},
        event_category="compaction", event_type="anticompaction_start",
    ),
    Rule(
        838, "CompactionManager", "compaction",
        r"^Completed anticompaction successfully$",
        event_category="compaction", event_type="anticompaction_end",
    ),
    Rule(
        839, "StreamingRepairTask", "repair",
        r"^\[streaming task #(?P<task_id>[^\]]+)\] Performing streaming repair of "
        r"(?P<ranges>\d+) ranges with /(?P<endpoint>[\d.]+)$",
        converters={"ranges": "int"},
        event_category="repair", event_type="streaming_repair",
    ),
    Rule(
        840, "StreamResultFuture", "streaming",
        r"^\[Stream #(?P<stream_id>[^\]]+)\] Received streaming plan for "
        r"(?P<operation>.*)$",
        event_category="streaming", event_type="plan_received",
    ),
    Rule(
        841, "CommitLog", "commitlog",
        r"^Log replay complete, (?P<replayed_mutations>\d+) replayed mutations$",
        converters={"replayed_mutations": "int"},
        promote={"replayed_mutations": "count"},
        event_category="commitlog", event_type="replay_complete",
    ),
    Rule(
        842, "MessagingService", "network",
        r"^Starting Messaging Service on port (?P<port>\d+).*$",
        converters={"port": "int"},
        event_category="network", event_type="listen",
    ),
    Rule(
        843, "StorageService", "gossip",
        r"^Removing tokens \[(?P<tokens_list>[^\]]*)\] for /(?P<endpoint>[\d.]+)$",
        event_category="gossip", event_type="tokens_removed",
    ),
    Rule(
        844, "BatchlogManager", "batch",
        r"^Replaying batch (?P<batch_id>\S+)$",
        event_category="batch", event_type="replay",
    ),
    Rule(
        845, "JVMStabilityInspector", "exception",
        r"^Exiting due to error while processing commit log during "
        r"initialization\..*$",
        event_category="error", event_type="fatal_exit",
    ),
    Rule(
        847, "DseModule", "startup",
        r"^Loading DSE module$",
        event_product="dse", event_category="startup", event_type="module_load",
    ),
    # --- DSE / Solr (solr.py [R-M]) ----------------------------------------
    Rule(
        300, "DseDaemon", "startup",
        r"^DSE version: (?P<dse_version>[\d.]+)$",
        event_product="dse", event_category="startup", event_type="dse_version",
    ),
    Rule(
        301, "DseDaemon", "startup",
        r"^Waiting for other nodes to become alive\.\.\.$",
        event_product="dse", event_category="startup", event_type="wait_nodes",
    ),
    Rule(
        302, "DseDaemon", "startup",
        r"^DSE startup complete\.$",
        event_product="dse", event_category="startup", event_type="dse_ready",
    ),
    Rule(
        310, "SolrCore", "solr",
        r"^\[(?P<core>\S+)\] Opening new SolrCore at (?P<path>\S+)$",
        event_product="solr", event_category="solr", event_type="core_open",
    ),
    Rule(
        311, "SolrCore", "solr",
        r"^\[(?P<core>\S+)\] webapp=(?P<webapp>\S+) path=(?P<path>\S+) "
        r"params=\{(?P<params>[^}]*)\} hits=(?P<hits>\d+) status=(?P<status>\d+) "
        r"QTime=(?P<qtime>\d+)$",
        converters={"hits": "int", "status": "int", "qtime": "int"},
        promote={"qtime": "duration_ms", "hits": "count"},
        event_product="solr", event_category="solr", event_type="query",
    ),
    Rule(
        320, "AbstractSolrSecondaryIndex", "solr",
        r"^Reindexing (?P<count>\d+) commit log updates for core (?P<core>\S+)$",
        converters={"count": "int"},
        promote={"count": "count"},
        event_product="solr", event_category="solr", event_type="reindex",
    ),
    Rule(
        321, "AbstractSolrSecondaryIndex", "solr",
        r"^Executing hard commit on index (?P<core>\S+)$",
        event_product="solr", event_category="solr", event_type="hard_commit",
    ),
    # --- batch 5: ring membership / decommission ---------------------------
    Rule(
        900, "StorageService", "gossip",
        r"^LEAVING: (?P<leaving_status>.*)$",
        event_category="membership", event_type="leaving",
    ),
    Rule(
        901, "StorageService", "gossip",
        r"^MOVING: (?P<moving_status>.*)$",
        event_category="membership", event_type="moving",
    ),
    Rule(
        902, "StorageService", "gossip",
        r"^Announcing that I have left the ring for (?P<delay_ms>\d+)ms$",
        converters={"delay_ms": "int"},
        event_category="membership", event_type="left_ring",
    ),
    Rule(
        903, "StorageService", "gossip",
        r"^Removing token (?P<token>-?\d+) for /(?P<endpoint>[\d.]+)$",
        event_category="membership", event_type="token_removed",
    ),
    Rule(
        904, "StorageService", "repair",
        r"^Repair session (?P<session_id>\S+) failed with error (?P<error>.*)$",
        event_category="repair", event_type="session_failed",
    ),
    Rule(
        905, "Gossiper", "gossip",
        r"^removing expire time for endpoint : /(?P<endpoint>[\d.]+)$",
        event_category="gossip", event_type="expire_cleared",
    ),
    Rule(
        906, "Gossiper", "gossip",
        r"^Assassinating /(?P<endpoint>[\d.]+) immediately$",
        event_category="gossip", event_type="assassinate",
    ),
    # --- batch 5: schema / truncate -----------------------------------------
    Rule(
        907, "ColumnFamilyStore", "schema",
        r"^Truncating (?P<keyspace_table>\S+\.\S+)$",
        event_category="schema", event_type="truncate_begin",
    ),
    Rule(
        908, "ColumnFamilyStore", "schema",
        r"^Truncate of (?P<keyspace_table>\S+\.\S+) is complete$",
        event_category="schema", event_type="truncate_end",
    ),
    Rule(
        909, "MigrationManager", "schema",
        # 1.2 naming of the 2.0+ "Drop table" message (rule 242)
        r"^Drop ColumnFamily '(?P<keyspace_table>[^']+)'$",
        event_category="schema", event_type="drop_table",
    ),
    Rule(
        910, "MigrationManager", "schema",
        r"^Create new ColumnFamily: (?P<table_def>.*)$",
        event_category="schema", event_type="create_table",
    ),
    Rule(
        911, "QueryProcessor", "cql",
        r"^Column definitions for (?P<keyspace_table>\S+) changed, "
        r"invalidating related prepared statements$",
        event_category="cql", event_type="prepared_invalidated",
    ),
    Rule(
        912, "ViewManager", "schema",
        r"^Not submitting build tasks for views in keyspace (?P<keyspace>\S+) "
        r"as storage service is not initialized$",
        event_category="schema", event_type="view_build_skipped",
    ),
    # --- batch 5: repair (1.2 AntiEntropyService + 2.x Differencer + 3.x) ---
    Rule(
        913, "RepairSession", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] Requesting merkle trees for "
        r"(?P<table>\S+) \(to \[(?P<endpoints>[^\]]*)\]\)$",
        event_category="repair", event_type="merkle_request",
    ),
    Rule(
        914, "RepairSession", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] Cannot proceed on repair because "
        r"a neighbor \(/(?P<endpoint>[\d.]+)\) is dead: session failed$",
        event_category="repair", event_type="session_failed",
    ),
    Rule(
        915, "Differencer", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] Endpoints /(?P<endpoint_a>[\d.]+) "
        r"and /(?P<endpoint_b>[\d.]+) are consistent for (?P<table>\S+)$",
        event_category="repair", event_type="consistent",
    ),
    Rule(
        916, "Differencer", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] Endpoints /(?P<endpoint_a>[\d.]+) "
        r"and /(?P<endpoint_b>[\d.]+) have (?P<ranges>\d+) range\(s\) out of "
        r"sync for (?P<table>\S+)$",
        converters={"ranges": "int"},
        event_category="repair", event_type="out_of_sync",
    ),
    Rule(
        917, "ActiveRepairService", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] Not a global repair, will not "
        r"do anticompaction$",
        event_category="repair", event_type="anticompaction_skipped",
    ),
    Rule(
        918, "StreamingRepairTask", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] streaming task succeed, "
        r"returning response to /(?P<endpoint>[\d.]+)$",
        event_category="repair", event_type="stream_task_done",
    ),
    Rule(
        919, "RepairRunnable", "repair",
        r"^Repair command #(?P<command>\d+) finished in (?P<duration_text>.*)$",
        converters={"command": "int"},
        event_category="repair", event_type="command_finished",
    ),
    Rule(
        920, "RepairRunnable", "repair",
        # 3.11 variant of rule 276: command id carries a session uuid
        r"^Starting repair command #(?P<command>\d+) \((?P<session_id>[^)]+)\), "
        r"repairing keyspace (?P<keyspace>\S+) with repair options "
        r"\((?P<options>.*)\)$",
        converters={"command": "int"},
        event_category="repair", event_type="command_start",
    ),
    Rule(
        921, "AntiEntropyService", "repair",
        # 1.2 classing of the merkle-tree messages (2.0 moved them to
        # RepairSession/Validator; (ks,cf) tuple instead of ks.cf)
        r"^\[repair #(?P<session_id>[^\]]+)\] Sending completed merkle tree "
        r"to /(?P<endpoint>[\d.]+) for \((?P<keyspace>[^,]+),(?P<table>[^)]+)\)$",
        event_category="repair", event_type="merkle_sent",
    ),
    Rule(
        922, "AntiEntropyService", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] Received merkle tree for "
        r"(?P<table>\S+) from /(?P<endpoint>[\d.]+)$",
        event_category="repair", event_type="merkle_received",
    ),
    Rule(
        923, "AntiEntropyService", "repair",
        r"^\[repair #(?P<session_id>[^\]]+)\] (?P<table>\S+) is fully synced$",
        event_category="repair", event_type="table_synced",
    ),
    # --- batch 5: streaming failures ----------------------------------------
    Rule(
        924, "StreamResultFuture", "streaming",
        r"^\[Stream #(?P<stream_id>[^\]]+)\] Stream failed$",
        event_category="streaming", event_type="failed",
    ),
    Rule(
        925, "StreamSession", "streaming",
        r"^\[Stream #(?P<stream_id>[^\]]+)\] Streaming error occurred$",
        event_category="streaming", event_type="error",
    ),
    # --- batch 5: memory / JVM stability -------------------------------------
    Rule(
        926, "Ref", "memory",
        r"^LEAK DETECTED: a reference \((?P<reference>[^)]+)\) to (?P<target>.*) "
        r"was not released before the reference was garbage collected$",
        event_category="memory", event_type="leak",
    ),
    Rule(
        927, "JVMStabilityInspector", "exception",
        r"^JVM state determined to be unstable\.\s+Exiting forcefully due "
        r"to:.*$",
        event_category="error", event_type="fatal_exit",
    ),
    # --- batch 5: startup checks / environment -------------------------------
    Rule(
        928, "StartupChecks", "startup",
        r"^JMX is not enabled to receive remote connections\. Please see "
        r"cassandra-env\.sh for more info\.$",
        event_category="startup", event_type="jmx_local_only",
    ),
    Rule(
        929, "StartupChecks", "startup",
        r"^OpenJDK is not recommended\. Please upgrade to the newest Oracle "
        r"Java release$",
        event_category="startup", event_type="jdk_warning",
    ),
    Rule(
        930, "StartupChecks", "startup",
        r"^Directory (?P<directory>\S+) doesn't exist$",
        event_category="startup", event_type="missing_directory",
    ),
    Rule(
        931, "StartupChecks", "startup",
        r"^Maximum number of memory map areas per process \(vm\.max_map_count\) "
        r"(?P<current>\d+) is too low, recommended value: (?P<recommended>\d+), "
        r"you can change it with sysctl\.$",
        converters={"current": "int", "recommended": "int"},
        event_category="startup", event_type="max_map_count_low",
    ),
    Rule(
        932, "SigarLibrary", "startup",
        r"^Sigar could not be initialized, test for checking degraded mode "
        r"omitted\.$",
        event_category="startup", event_type="sigar_missing",
    ),
    Rule(
        933, "SigarLibrary", "startup",
        r"^Checked OS settings and found them configured for optimal "
        r"performance\.$",
        event_category="startup", event_type="os_ok",
    ),
    Rule(
        934, "SigarLibrary", "startup",
        r"^Cassandra server running in degraded mode\..*$",
        event_category="startup", event_type="degraded_mode",
    ),
    Rule(
        935, "NativeLibrary", "startup",
        # 3.x rename of CLibrary (rules 832/833)
        r"^JNA mlockall successful$",
        event_category="startup", event_type="mlockall",
    ),
    Rule(
        936, "NativeLibrary", "startup",
        r"^Unable to lock JVM memory \((?P<errno>\w+)\)\..*$",
        event_category="startup", event_type="mlockall_failed",
    ),
    Rule(
        937, "CassandraDaemon", "startup",
        # 3.11 unit-suffixed variant of rule 61
        r"^Heap size: (?P<heap_used>[\d.]+)(?P<used_unit>[KMG]iB)/"
        r"(?P<heap_max>[\d.]+)(?P<max_unit>[KMG]iB)$",
        event_category="startup", event_type="heap",
    ),
    Rule(
        938, "CassandraRoleManager", "auth",
        r"^Skipped default superuser setup: some nodes were not ready$",
        event_category="auth", event_type="superuser_skipped",
    ),
    # --- batch 5: gc (1.2 format) --------------------------------------------
    Rule(
        939, "GCInspector", "gc",
        r"^GC for (?P<gc_type>\w+): (?P<duration>\d+) ms, (?P<reclaimed>\d+) "
        r"reclaimed leaving (?P<used>\d+) used; max is (?P<max>\d+)$",
        converters={"duration": "int", "reclaimed": "int", "used": "int",
                    "max": "int"},
        promote={"duration": "duration_ms", "used": "bytes_in"},
        event_category="garbage_collection", event_type="pause",
    ),
    # --- batch 5: status / caches / commitlog --------------------------------
    Rule(
        940, "StatusLogger", "status",
        r"^Cache Type\s+Size\s+Capacity\s+KeysToSave.*$",
        event_category="status", event_type="header",
    ),
    Rule(
        941, "AutoSavingCache", "cache",
        r"^Harmless error reading saved cache (?P<filename>\S+)$",
        event_category="cache", event_type="read_error",
    ),
    Rule(
        942, "CommitLogReplayer", "commitlog",
        r"^Skipped (?P<count>\d+) mutations from unknown \(probably removed\) "
        r"CF with id (?P<cf_id>\S+)$",
        converters={"count": "int"},
        promote={"count": "count"},
        event_category="commitlog", event_type="skipped_mutations",
    ),
    Rule(
        943, "CommitLogAllocator", "commitlog",
        r"^No segments in reserve; creating a fresh one$",
        event_category="commitlog", event_type="new_segment",
    ),
    Rule(
        944, "SystemKeyspace", "startup",
        r"^Detected version upgrade from (?P<from_version>\S+) to "
        r"(?P<to_version>\S+), snapshotting system keyspace$",
        event_category="startup", event_type="version_upgrade",
    ),
    # --- batch 5: network / messaging -----------------------------------------
    Rule(
        945, "MessagingService", "network",
        r"^MessagingService has terminated the accept\(\) thread$",
        event_category="network", event_type="accept_terminated",
    ),
    Rule(
        946, "StorageProxy", "cql",
        r"^Mutation of (?P<bytes>\d+) bytes is too large for the maximum size "
        r"of (?P<max_bytes>\d+)$",
        converters={"bytes": "int", "max_bytes": "int"},
        promote={"bytes": "bytes_in"},
        event_category="cql", event_type="mutation_too_large",
    ),
    Rule(
        947, "CustomTThreadPoolServer", "cql",
        r"^Error occurred during processing of message\.$",
        event_category="cql", event_type="thrift_error",
    ),
    # --- batch 5: sstable / compaction variants -------------------------------
    Rule(
        948, "SSTableReader", "sstable",
        # 3.x unit-suffixed variant of rule 90
        r"^Opening (?P<filename>\S+) \((?P<size>[\d.]+)(?P<unit>[KMG]iB|B)\)$",
        event_category="sstable", event_type="open",
    ),
    Rule(
        949, "LeveledManifest", "compaction",
        r"^L0 is too far behind, performing size-tiering.*$",
        event_category="compaction", event_type="l0_fallback",
    ),
    # --- batch 5: hints / batch / reads ----------------------------------------
    Rule(
        950, "HintsDispatchExecutor", "hints",
        # 3.x partial-delivery variant of rule 214
        r"^Finished hinted handoff of file (?P<filename>\S+) to endpoint "
        r"/(?P<endpoint>[\d.]+): (?P<host_id>\S+), partially$",
        event_category="hints", event_type="delivered_partial",
    ),
    Rule(
        951, "BatchlogManager", "batch",
        r"^Finished replayAllFailedBatches$",
        event_category="batch", event_type="replay_done",
    ),
    Rule(
        952, "MonitoringTask", "read",
        r"^Some operations were slow, details available at debug level "
        r"\(debug\.log\)$",
        event_category="read", event_type="slow_summary",
    ),
    Rule(
        953, "SliceQueryFilter", "read",
        # 2.0 wording: "tombstoned" (2.1+ says "tombstone", rule 500)
        r"^Read (?P<live>\d+) live and (?P<tombstones>\d+) tombstoned cells in "
        r"(?P<keyspace_table>\S+) for key: (?P<key>\S+) \(see "
        r"tombstone_warn_threshold\)\..*$",
        converters={"live": "int", "tombstones": "int"},
        promote={"tombstones": "count"},
        event_category="read", event_type="tombstone_warn",
    ),
    # --- batch 5: DSE / Solr breadth ------------------------------------------
    Rule(
        954, "CqlSlowLogWriter", "cql",
        r"^Recording statements with duration of (?P<duration>\d+) in slow "
        r"log$",
        converters={"duration": "int"},
        promote={"duration": "duration_ms"},
        event_product="dse", event_category="cql", event_type="slow_query",
    ),
    Rule(
        955, "PluginManager", "startup",
        r"^Activating plugin: (?P<plugin>\S+)$",
        event_product="dse", event_category="startup", event_type="plugin",
    ),
    Rule(
        956, "DseConfig", "startup",
        r"^Load of settings is done\.$",
        event_product="dse", event_category="startup", event_type="config_loaded",
    ),
    Rule(
        957, "DseConfig", "startup",
        r"^CQL slow log is enabled$",
        event_product="dse", event_category="startup", event_type="slowlog_enabled",
    ),
    Rule(
        958, "SolrDispatchFilter", "solr",
        r"^SolrDispatchFilter\.init\(\)$",
        event_product="solr", event_category="solr", event_type="filter_init",
    ),
    Rule(
        959, "SolrDispatchFilter", "solr",
        r"^SolrDispatchFilter\.init\(\) done$",
        event_product="solr", event_category="solr", event_type="filter_ready",
    ),
    Rule(
        960, "CoreContainer", "solr",
        r"^New CoreContainer (?P<container_id>\d+)$",
        event_product="solr", event_category="solr", event_type="container",
    ),
    Rule(
        961, "SolrCore", "solr",
        r"^\[(?P<core>\S+)\] Closing main searcher on request\.$",
        event_product="solr", event_category="solr", event_type="searcher_close",
    ),
    Rule(
        962, "SolrIndexSearcher", "solr",
        r"^Opening (?P<searcher>Searcher@\S+(?:\[[^\]]*\])?) (?P<mode>\w+)$",
        event_product="solr", event_category="solr", event_type="searcher_open",
    ),
    Rule(
        963, "UpdateHandler", "solr",
        r"^start commit\{(?P<options>[^}]*)\}$",
        event_product="solr", event_category="solr", event_type="commit_start",
    ),
    Rule(
        964, "UpdateHandler", "solr",
        r"^end_commit_flush$",
        event_product="solr", event_category="solr", event_type="commit_end",
    ),
    # --- batch 6: native transport / daemon errors ---------------------------
    Rule(
        965, "Message", "cql",
        r"^Unexpected exception during request; channel = "
        r"\[(?P<channel>[^\]]*)\]$",
        event_category="cql", event_type="request_error",
    ),
    Rule(
        966, "Message", "cql",
        r"^Unexpected exception during request.*$",
        event_category="cql", event_type="request_error",
    ),
    Rule(
        967, "CassandraDaemon", "exception",
        r"^Exception encountered during startup: (?P<error>.*)$",
        event_category="error", event_type="startup_exception",
    ),
    Rule(
        968, "CassandraDaemon", "exception",
        r"^Exception encountered during startup$",
        event_category="error", event_type="startup_exception",
    ),
    # --- batch 6: scrub / token conflicts / hints ----------------------------
    Rule(
        969, "Scrubber", "compaction",
        r"^Scrubbing (?P<sstable>SSTableReader\(.*\)) \((?P<bytes>\d+) bytes\)$",
        converters={"bytes": "int"},
        promote={"bytes": "bytes_in"},
        event_category="compaction", event_type="scrub_begin",
    ),
    Rule(
        970, "Scrubber", "compaction",
        r"^Scrub of (?P<sstable>SSTableReader\(.*\)) complete: "
        r"(?P<rows>\d+) rows in new sstable and (?P<empty_rows>\d+) empty "
        r"\(tombstoned\) rows dropped$",
        converters={"rows": "int", "empty_rows": "int"},
        promote={"rows": "count"},
        event_category="compaction", event_type="scrub_end",
    ),
    Rule(
        971, "HintedHandOffManager", "hints",
        r"^Endpoint /(?P<endpoint>[\d.]+) died before hint delivery, "
        r"aborting$",
        event_category="hints", event_type="endpoint_died",
    ),
    Rule(
        972, "StorageService", "gossip",
        r"^Nodes /(?P<endpoint_a>[\d.]+) and /(?P<endpoint_b>[\d.]+) have the "
        r"same token (?P<token>-?\d+)\.\s+/(?P<new_owner>[\d.]+) is the new "
        r"owner$",
        event_category="membership", event_type="token_conflict",
    ),
    # --- batch 6: commitlog / snitch ----------------------------------------
    Rule(
        973, "CommitLog", "commitlog",
        # multi-segment replay is logged as ONE joined line by CommitLog
        # (the per-segment lines are CommitLogReplayer, rules 100/222/224)
        r"^Replaying (?P<filenames>\S+\.log(?:, \S+\.log)+)$",
        event_category="commitlog", event_type="replay_begin",
    ),
    Rule(
        974, "GossipingPropertyFileSnitch", "startup",
        r"^Unable to load cassandra-topology\.properties; compatibility mode "
        r"disabled$",
        event_category="startup", event_type="snitch_compat_off",
    ),
    # --- batch 6: Solr core lifecycle ----------------------------------------
    Rule(
        975, "SolrConfig", "solr",
        r"^Using Lucene MatchVersion: (?P<lucene_version>\S+)$",
        event_product="solr", event_category="solr", event_type="lucene_version",
    ),
    Rule(
        976, "IndexSchema", "solr",
        r"^Reading Solr Schema from (?P<schema_file>\S+)$",
        event_product="solr", event_category="solr", event_type="schema_read",
    ),
    Rule(
        977, "CoreContainer", "solr",
        r"^registering core: (?P<core>\S+)$",
        event_product="solr", event_category="solr", event_type="core_register",
    ),
    Rule(
        978, "SolrCore", "solr",
        r"^\[(?P<core>\S+)\] Registered new searcher "
        r"(?P<searcher>Searcher@\S+(?:\[[^\]]*\])?).*$",
        event_product="solr", event_category="solr", event_type="searcher_registered",
    ),
    # --- batch 7: startup env / schema migration / auth caches ---------------
    Rule(
        979, "Mx4jTool", "startup",
        r"^Will not load MX4J, mx4j-tools\.jar is not in the classpath$",
        event_category="startup", event_type="mx4j_absent",
    ),
    Rule(
        980, "LegacySchemaMigrator", "schema",
        r"^Moving (?P<count>\d+) keyspaces from legacy schema tables to the "
        r"new schema keyspace \(system_schema\)$",
        converters={"count": "int"},
        promote={"count": "count"},
        event_category="schema", event_type="legacy_migration",
    ),
    Rule(
        981, "AuthCache", "auth",
        r"^\(Re\)initializing (?P<cache_name>\w+) \(validity period/update "
        r"interval/max entries\) \((?P<validity_ms>\d+)/"
        r"(?P<update_interval_ms>\d+)/(?P<max_entries>\d+)\)$",
        converters={"validity_ms": "int", "update_interval_ms": "int",
                    "max_entries": "int"},
        event_category="auth", event_type="cache_init",
    ),
    Rule(
        982, "CacheService", "cache",
        r"^Initializing (?P<cache_kind>\w+) cache with capacity of "
        r"(?P<capacity_mb>\d+) MBs and provider (?P<provider>\S+)$",
        converters={"capacity_mb": "int"},
        event_category="cache", event_type="init",
    ),
    # --- batch 7: bootstrap / cleanup / compaction strategy ------------------
    Rule(
        983, "StorageService", "bootstrap",
        r"^Generated random tokens\. tokens are \[(?P<tokens_list>[^\]]*)\]$",
        event_category="membership", event_type="tokens_generated",
    ),
    Rule(
        984, "StorageService", "bootstrap",
        r"^This node will not auto bootstrap because it is configured to be "
        r"a seed node\.$",
        event_category="membership", event_type="seed_no_bootstrap",
    ),
    Rule(
        985, "CompactionManager", "compaction",
        r"^Cleanup cannot run before a node has joined the ring$",
        event_category="compaction", event_type="cleanup_rejected",
    ),
    Rule(
        986, "CompactionStrategyManager", "compaction",
        r"^Recreating compaction strategy - disk boundaries are out of date "
        r"for (?P<keyspace>[^.]+)\.(?P<table>\S+)\.$",
        event_category="compaction", event_type="strategy_recreated",
    ),
    Rule(
        987, "OutboundTcpConnection", "network",
        r"^OutboundTcpConnection using coalescing strategy "
        r"(?P<strategy>\S+)$",
        event_category="network", event_type="coalescing_strategy",
    ),
    # --- batch 7: DSE Search core resources ----------------------------------
    Rule(
        988, "SolrCoreResourceManager", "solr",
        r"^Trying to load resource (?P<resource>\S+) for core (?P<core>\S+) "
        r"by querying from local node with CL (?P<cl>\S+)$",
        event_product="solr", event_category="solr", event_type="resource_load",
    ),
    Rule(
        989, "SolrCoreResourceManager", "solr",
        r"^Successfully loaded resource (?P<resource>\S+) for core "
        r"(?P<core>\S+)$",
        event_product="solr", event_category="solr", event_type="resource_loaded",
    ),
    # --- batch 8: StatusLogger 2-col row / 1.2 flush / Solr startup ----------
    Rule(
        990, "StatusLogger", "status",
        # the CompactionManager section row has only (active, pending);
        # the n/a-active variant is rule 997 — the rulebook forbids
        # optional capture groups (engine mask + DuckDB replica assume
        # every group captures on match), and keeping 'n/a' out of the
        # capture keeps `active` int-typed across the status typed view
        r"^CompactionManager\s{2,}(?P<active>\d+)\s+(?P<pending>\d+)$",
        converters={"active": "int", "pending": "int"},
        event_category="status", event_type="pool",
    ),
    Rule(
        991, "Memtable", "flush",
        # 1.2 format: no trailing "for commitlog position ..." clause
        r"^Completed flushing (?P<filename>\S+) \((?P<file_size>\d+) bytes\)$",
        converters={"file_size": "int"},
        promote={"file_size": "bytes_out"},
        event_category="flush", event_type="end",
    ),
    Rule(
        992, "SolrResourceLoader", "solr",
        r"^new SolrResourceLoader for directory: '(?P<directory>[^']*)'$",
        event_product="solr", event_category="solr", event_type="loader_new",
    ),
    Rule(
        993, "SolrResourceLoader", "solr",
        r"^JNDI not configured for solr \(NoInitialContextEx\)$",
        event_product="solr", event_category="solr", event_type="jndi_absent",
    ),
    Rule(
        994, "SolrResourceLoader", "solr",
        r"^solr home defaulted to '(?P<solr_home>[^']*)' \(could not find "
        r"system property or JNDI\)$",
        event_product="solr", event_category="solr", event_type="home_defaulted",
    ),
    Rule(
        995, "RequestHandlers", "solr",
        r"^created (?P<handler_name>\S+): (?P<handler_class>\S+)$",
        event_product="solr", event_category="solr", event_type="handler_created",
    ),
    Rule(
        996, "SolrCore", "solr",
        # variant of rule 310 with an explicit dataDir clause
        r"^\[(?P<core>\S+)\] Opening new SolrCore at (?P<path>[^,]+), "
        r"dataDir=(?P<data_dir>\S+)$",
        event_product="solr", event_category="solr", event_type="core_open",
    ),
    Rule(
        997, "StatusLogger", "status",
        # n/a-active twin of rule 990 (see there)
        r"^CompactionManager\s{2,}n/a\s+(?P<pending>\d+)$",
        converters={"pending": "int"},
        event_category="status", event_type="pool",
    ),
    # --- batch 9: version-variant tail (SURVEY.md §2.1 O9; the 3.x class
    # renames CLibrary->NativeLibrary, Server->NativeTransportService,
    # YamlConfigurationLoader->Config, CommitLogAllocator->
    # CommitLogSegmentManager, plus well-attested 1.2-3.x startup/ops
    # lines and public Solr 4.x core-lifecycle lines) --------------------------
    Rule(
        1000, "CassandraDaemon", "startup",
        r"^Not starting RPC server as requested\. Use JMX "
        r"\(StorageService->startRPCServer\(\)\) or nodetool \(enablethrift\) "
        r"to start it$",
        event_category="startup", event_type="rpc_disabled",
    ),
    Rule(
        1001, "CassandraDaemon", "startup",
        r"^Not starting native transport as requested\. Use JMX "
        r"\(StorageService->startNativeTransport\(\)\) or nodetool "
        r"\(enablebinary\) to start it$",
        event_category="startup", event_type="native_disabled",
    ),
    Rule(
        1002, "CassandraDaemon", "startup",
        r"^Scheduling approximate time-check task with a precision of "
        r"(?P<precision_ms>\d+) milliseconds$",
        converters={"precision_ms": "int"},
        event_category="startup", event_type="time_check_task",
    ),
    Rule(
        1003, "CassandraDaemon", "cache",
        # 1.2/2.0 key-cache preload completion (lowercase in the source)
        r"^completed pre-loading \((?P<keys>\d+) keys\) key cache\.$",
        converters={"keys": "int"},
        event_category="cache", event_type="preload",
    ),
    Rule(
        1004, "CLibrary", "startup",
        r"^JNA not found\. Native methods will be disabled\.$",
        event_category="startup", event_type="jna_absent",
    ),
    Rule(
        1005, "CLibrary", "startup",
        r"^JNA link failure, one or more native method will be unavailable\.$",
        event_category="startup", event_type="jna_link_failure",
    ),
    Rule(
        1006, "NativeLibrary", "startup",
        # 2.2+ class name for rule 1004's line
        r"^JNA not found\. Native methods will be disabled\.$",
        event_category="startup", event_type="jna_absent",
    ),
    Rule(
        1007, "NativeTransportService", "cql",
        # 3.x: the Netty lines moved from Server to NativeTransportService
        r"^Netty using (?P<event_loop>native Epoll event loop|Java NIO event loop)$",
        event_category="cql", event_type="netty_event_loop",
    ),
    Rule(
        1008, "NativeTransportService", "cql",
        r"^Using Netty Version: \[(?P<netty_version>[^\]]*)\]$",
        event_category="cql", event_type="netty_version",
    ),
    Rule(
        1009, "Config", "startup",
        # 3.x: the yaml dump moved from YamlConfigurationLoader to Config
        r"^Node configuration:\[(?P<config>.*)\]$",
        event_category="startup", event_type="configuration",
    ),
    Rule(
        1010, "StartupChecks", "startup",
        r"^jemalloc seems to be preloaded from (?P<path>\S+)$",
        event_category="startup", event_type="jemalloc_preloaded",
    ),
    Rule(
        1011, "StartupChecks", "startup",
        r"^Cassandra 3\.0 and later require Java 8u40 or later\.$",
        event_category="startup", event_type="jvm_too_old",
    ),
    Rule(
        1012, "StorageService", "gossip",
        r"^Starting shadow gossip round to check for endpoint collision$",
        event_category="gossip", event_type="shadow_round",
    ),
    Rule(
        1013, "TokenMetadata", "gossip",
        # bulk twin of rule 808's per-endpoint topology update
        r"^Updating topology for all endpoints that have changed$",
        event_category="gossip", event_type="topology_update",
    ),
    Rule(
        1014, "QueryProcessor", "cql",
        r"^Initialized prepared statement caches with (?P<native_mb>\d+) MB "
        r"\(native\) and (?P<thrift_mb>\d+) MB \(Thrift\)$",
        converters={"native_mb": "int", "thrift_mb": "int"},
        event_category="cql", event_type="prepared_cache_init",
    ),
    Rule(
        1015, "ColumnFamilyStore", "sstable",
        # the no-op outcome of rule 811's `nodetool refresh` flow
        r"^No new SSTables were found for (?P<keyspace>\S+)/(?P<table>\S+)$",
        event_category="sstable", event_type="refresh_empty",
    ),
    Rule(
        1016, "MessagingService", "drops",
        # 3.0 short form: rule 31's line without the 3.11 latency tail
        r"^(?P<message_type>\w+) messages were dropped in last "
        r"(?P<window_ms>\d+) ms: (?P<internal>\d+) internal and "
        r"(?P<cross_node>\d+) cross node$",
        converters={k: "int" for k in ("window_ms", "internal", "cross_node")},
        promote={"internal": "count"},
        event_category="messaging", event_type="drops",
    ),
    Rule(
        1017, "Ec2Snitch", "startup",
        r"^EC2Snitch using region: (?P<region>\S+), zone: (?P<zone>\S+)\.$",
        event_category="startup", event_type="snitch",
    ),
    Rule(
        1018, "CassandraDaemon", "startup",
        # 3.x emits rule 928's JMX notice from CassandraDaemon
        r"^JMX is not enabled to receive remote connections\. Please see "
        r"cassandra-env\.sh for more info\.$",
        event_category="startup", event_type="jmx_local_only",
    ),
    Rule(
        1019, "CommitLogSegmentManager", "commitlog",
        # 2.1+ class name for rule 943's line
        r"^No segments in reserve; creating a fresh one$",
        event_category="commitlog", event_type="new_segment",
    ),
    Rule(
        1020, "DatabaseDescriptor", "startup",
        r"^Back-pressure is (?P<state>enabled|disabled) with strategy "
        r"(?P<strategy>.*)\.$",
        event_category="startup", event_type="back_pressure",
    ),
    Rule(
        1021, "SolrDeletionPolicy", "solr",
        r"^SolrDeletionPolicy\.onInit: commits: num=(?P<num>\d+)$",
        converters={"num": "int"},
        event_product="solr", event_category="solr", event_type="deletion_policy_init",
    ),
    Rule(
        1022, "SolrDeletionPolicy", "solr",
        r"^newest commit generation = (?P<generation>\d+)$",
        converters={"generation": "int"},
        event_product="solr", event_category="solr", event_type="commit_generation",
    ),
    Rule(
        1023, "IndexSchema", "solr",
        r"^default search field in schema is (?P<search_field>\S+)$",
        event_product="solr", event_category="solr", event_type="default_search_field",
    ),
    Rule(
        1024, "IndexSchema", "solr",
        r"^unique key field: (?P<unique_key>\S+)$",
        event_product="solr", event_category="solr", event_type="unique_key",
    ),
    Rule(
        1025, "UpdateHandler", "solr",
        r"^No uncommitted changes\. Skipping IW\.commit\.$",
        event_product="solr", event_category="solr", event_type="commit_skipped",
    ),
]

FAMILIES: list[str] = sorted({r.family for r in RULES} | {UNKNOWN_FAMILY})

# Typed columns promoted out of the sparse `fields` map (queryable fast
# path); each is int64 (`engine.PARSED_ARROW_SCHEMA`, BIGINT in the
# DuckDB replica).
PROMOTED_COLUMNS: tuple[str, ...] = ("duration_ms", "bytes_in", "bytes_out", "count")


def compile_rulebook(rules: list[Rule] | None = None) -> dict:
    """Compile the declarative table into plain dicts of strings (the
    engine recompiles each regex once per worker).

    ``by_class`` preserves declaration order per class: the reference's
    `switch` dispatch (prune to the emitting class's rules) + ordered
    first-match-wins within the class (rules.py §switch/§capture [R-H]).
    """
    rules = RULES if rules is None else rules
    by_class: dict[str, list[dict]] = {}
    for r in rules:
        by_class.setdefault(r.source_class, []).append(
            {
                "rule_id": r.rule_id,
                "family": r.family,
                "regex": r.regex,
                "converters": r.converters,
                "promote": r.promote,
            }
        )
    return {"by_class": by_class, "headers": HEADER_FORMATS}


def rules_dim_rows() -> list[tuple]:
    """Rows for the `rules_dim` enrichment table (taxonomy join).

    Includes the unknown fallback (systemlog.py tail rule [R-M]): no rule
    matched -> still emitted, never dropped.
    """
    rows = [
        (r.rule_id, i, r.source_class, r.family, r.regex,
         r.event_product, r.event_category, r.event_type)
        for i, r in enumerate(RULES)
    ]
    rows.append((UNKNOWN_RULE_ID, len(RULES), "", UNKNOWN_FAMILY, "",
                 "cassandra", "unknown", "unknown"))
    return rows


RULES_DIM_SCHEMA = (
    "rule_id INT, priority INT, source_class STRING, family STRING, "
    "regex STRING, event_product STRING, event_category STRING, event_type STRING"
)
