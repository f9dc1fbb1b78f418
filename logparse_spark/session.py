"""SparkSession factory tuned for the pipeline.

Scale notes (100 TB / 1000 executors): every config here is either
cluster-neutral (AQE, Arrow, UTC) or derived from core count at runtime.
Nothing hard-codes local-mode assumptions except the ``master`` default,
which applies only when no launcher chose one (``get_spark``).
"""

from __future__ import annotations

import json
import os
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def _launch_master() -> str | None:
    """The master spark-submit gave the JVM this driver was started by,
    or None under plain ``python``, where PySpark starts the JVM itself
    from the builder's conf (a master chosen there is never overridden)."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master", None)


def get_spark(
    app_name: str = "logparse-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the pipeline's standard confs.

    - AQE on (runtime shuffle coalesce + skew-join split; the sink
      write's hot-source split is route's clustering shuffle).
    - Arrow on with a bounded batch size so the mapInArrow parse stage
      streams fixed-size batches instead of whole partitions.
    - Session timezone pinned UTC: fixture timestamps are naive UTC and
      the DuckDB oracle compares naive values.
    - The JVM<->Python worker channel is a Unix domain socket, always.
    - The output committer is Spark's default (v1): committer v2 was
      measured slower on the sink write and leaves partial output
      visible when a job fails.
    - The master is ``SPARK_MASTER``, else the launch's (spark-submit's
      ``--master``), else ``local[cores]``.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = (os.environ.get("SPARK_MASTER") or _launch_master()
              or (f"local[{cores}]" if cores else "local[*]"))
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # parquet scan granularity: at 100 TB this keeps ~128MB splits;
        # harmless at test scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # JVM<->Python-worker channel over a UNIX domain socket instead
        # of loopback TCP (Spark 4.1 feature, default off).  Worker
        # links are same-host by construction on any deployment, so UDS
        # is cluster-neutral; it removes TCP congestion control from a
        # kernel-internal pipe.  Measured need, r7: with the host's
        # loopback under bbr, the arrow parse stage repeatedly WEDGED
        # mid-task — worker blocked in tcp_sendmsg (sk_stream_wait_
        # memory), JVM reader epolling with a 33 MB full receive queue,
        # rto backed off to 104 s (cwnd:1, backoff:9, lost segments on
        # lo) — a bidirectional flow-control stall that UDS cannot
        # enter (no cwnd, no retransmission on AF_UNIX).  Two full
        # 20M-row pipeline runs hung at the same shape without it; with
        # it, repeated runs complete.
        .config("spark.python.unix.domain.socket.enabled", "true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def arrow_table(rows: list[tuple], schema: str) -> pa.Table:
    """Driver-held rows (tuples in ``schema``'s DDL column order) as an
    Arrow table typed by ``schema``."""
    arrow = to_arrow_schema(StructType.fromDDL(schema))
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-held rows (tuples in ``schema``'s DDL column order) as a
    DataFrame planned as a ``LocalRelation``.

    The rows go through an Arrow table typed by ``schema``.
    ``createDataFrame`` of a Python list (or ``[]``) plans a
    ``LogicalRDD`` over a pickled PythonRDD instead: every job that reads
    it, a broadcast build included, runs through a second Python worker
    daemon and pool beside the parse stage's ``mapInArrow`` one.  On the
    3,000-row perfbench corpus at local[4] that cost a process's first
    pipeline run ~1.8 s of route time and every run ~170 MB of RSS.
    """
    return spark.createDataFrame(arrow_table(rows, schema), schema)


# json.dumps spells a control character's escape in lowercase hex
# (\u001b), Spark's to_json in uppercase (\u001B).  An escaped backslash
# is matched as a whole, so the text after it is never read as an escape.
_JSON_ESCAPE = re.compile(r"\\(?:\\|u00[0-9a-f]{2})")


def _json_lines(table: pa.Table) -> list[str]:
    """Each row as Spark's ``to_json(struct(*cols))`` writes it: compact,
    non-ASCII characters as they are, null fields left out, a map as an
    object in its entry order.  Covers the string, integer and map
    columns a manifest row has."""
    maps = {f.name for f in table.schema if pa.types.is_map(f.type)}
    lines = []
    for row in table.to_pylist():
        text = json.dumps({k: dict(v) if k in maps else v for k, v in row.items() if v is not None},
                          ensure_ascii=False, separators=(",", ":"))
        lines.append(_JSON_ESCAPE.sub(
            lambda m: "\\u" + m[0][2:].upper() if m[0][1] == "u" else m[0], text) + "\n")
    return lines


def local_path(spark: SparkSession, path: str) -> str:
    """The local directory ``path`` names, for the driver's own file
    calls (the sink swap, ``_meta.json``, the ledger, the metric tables
    and manifests) beside Spark's reads and writes of the same
    tree: ``path`` itself when it has no scheme, or the path of a
    ``file:`` URI without an authority (``file:/p``, ``file:///p``).
    Spark resolves a path without a scheme against ``fs.defaultFS``, so
    that must be ``file:`` as well; anything else (another scheme, a
    ``file://host/...`` authority, another default file system) raises
    ValueError.  As in Hadoop's ``Path``, a scheme is the text before a
    colon that comes before the first slash."""
    default_fs = spark._jsparkSession.sessionState().newHadoopConf().get(
        "fs.defaultFS", "file:///")
    colon, slash = path.find(":"), path.find("/")
    if default_fs.startswith("file:"):
        if colon == -1 or -1 < slash < colon:
            return path
        if path.startswith("file:///"):
            return path[len("file://"):]
        if path.startswith("file:/") and not path.startswith("file://"):
            return path[len("file:"):]
    raise ValueError(
        f"{path} is not on the local file system (fs.defaultFS {default_fs}); "
        "the driver writes the sinks' swap, _meta.json, the ledger, "
        "the metric tables and the manifests with local file calls")


def write_local(table: pa.Table, path: str, fmt: str = "parquet",
                append: bool = False) -> None:
    """Write a driver-held Arrow table as one file in the directory
    ``path``, without a Spark job: the run's metric tables, manifests and
    ledger commits are driver-sized, and on a 4-core host a Spark write
    of a one-row frame costs ~75 ms (overwrite) to ~125 ms (append),
    this well under a millisecond.

    ``fmt`` is ``"parquet"``, typed (nullability included) as the table
    is, or ``"json"``: JSON lines in the form of Spark's ``to_json``
    (``_json_lines``).  The file is written under a dot-prefixed temp
    name, which Spark, pyarrow datasets and ``Ledger`` all skip, and then
    renamed.  ``append`` renames it to the same name without the dot.
    Otherwise every other entry of ``path`` is removed first (the
    previous output, an older writer's markers, temp files a crash left)
    and the file is renamed to ``part-00000.<fmt>``: a reader sees the
    old output, none, or the new one, never a partial file, and a crash
    leaves at most the temp file.  Renaming onto the previous file would
    close even that gap, but ext4 (``auto_da_alloc``) flushes the new
    file's data on a rename that replaces one: ~50 ms a file measured.

    ``path`` is a directory on the local file system (``local_path``),
    as ``Ledger._commit_files`` and ``main.resolve_n_buckets`` also assume.
    """
    os.makedirs(path, exist_ok=True)
    tmp_name = f".part-{uuid.uuid4().hex}.{fmt}"
    tmp = os.path.join(path, tmp_name)
    if fmt == "json":
        with open(tmp, "w", encoding="utf-8") as f:
            f.writelines(_json_lines(table))
    else:
        pq.write_table(table, tmp)
    if not append:
        for other in os.listdir(path):
            if other != tmp_name:
                os.remove(os.path.join(path, other))
    os.rename(tmp, os.path.join(path, tmp_name[1:] if append else f"part-00000.{fmt}"))
