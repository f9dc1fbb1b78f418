"""P5 route: fan-out by matched-rule family into per-family sinks.

Reference parity: the reference yields one event stream; its `north_rule`
extension routes rows by family with an `unknown` sink so no row is ever
dropped (systemlog.py tail rule [R-M]).

Design: ONE single-pass write partitioned by the resume quantum
``(source, bucket)``, with ``family`` an in-file column sorted within
each file.  A family sink is a ``family = x`` filter that parquet
row-group statistics prune, so the fan-out costs one file per
``(source, bucket)`` dir rather than one per ``(family, source,
bucket)`` dir.  The unit a resumed write replaces is then the ledger's
resume quantum: re-running a pending ``(source, bucket)`` replaces every
file of its one dir, so a row whose family changed between runs leaves
no stale copy behind -> idempotent resume (P9).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparse_spark.session import local_path

SINK_PARTITIONS = ["source", "bucket"]

# the characters Spark's ExternalCatalogUtils.escapePathName writes as
# %XX in a partition dir name (its non-Windows set)
_PATH_ESCAPED = frozenset([chr(c) for c in range(1, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^"))


def _escape(value: str | None) -> str:
    """A partition value as Spark names its dir; null and "" land in
    Spark's default partition."""
    if not value:
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in value)


def quantum_dir(sinks_path: str, source: str, bucket: int) -> str:
    """The sink dir route() writes for one (source, bucket) quantum."""
    return f"{sinks_path}/source={_escape(source)}/bucket={bucket}"


def _check_sink_layout(sinks_dir: str) -> None:
    """Refuse a dynamic overwrite into a tree laid out by the old
    ``(family, source, bucket)`` partitioning: the rewritten
    ``(source, bucket)`` dirs would sit beside ``family=*`` dirs still
    holding the same rows, so every resumed row would read back twice.
    A static write removes every dir it did not stage, so it may
    replace any layout."""
    if os.path.isdir(sinks_dir) and any(
            d.startswith("family=") for d in os.listdir(sinks_dir)):
        raise ValueError(
            f"{sinks_dir} holds family=* partition dirs from the old "
            "(family, source, bucket) sink layout; a dynamic overwrite would "
            "duplicate every rewritten row - rerun fresh (resume=False) or "
            "write to a new output dir"
        )


def _drop_unstaged(staged: str, dest: str, depth: int = 2) -> None:
    """Remove every entry of the sink tree ``dest`` that ``staged`` does
    not hold as a dir down to the ``source=*/bucket=*`` quantum level:
    stale quanta, the ``family=*`` dirs of the old layout, old markers.
    A quantum dir both trees hold stays for :func:`_swap_in`."""
    for name in os.listdir(dest):
        path, new = os.path.join(dest, name), os.path.join(staged, name)
        if not os.path.isdir(path):
            os.remove(path)
        elif not os.path.isdir(new):
            shutil.rmtree(path)
        elif depth > 1:
            _drop_unstaged(new, path, depth - 1)


def _swap_in(staged: str, dest: str, depth: int = 2) -> None:
    """Move the staged tree ``staged`` into the sink tree ``dest``.  An
    entry ``dest`` lacks is renamed into place: the whole tree when the
    sinks do not exist yet, else a new ``source=*`` or quantum dir, or a
    marker.  A quantum dir that exists keeps its inode: its entries are
    unlinked and the staged ones renamed in, so no old file survives.
    On a discard-mounted file system, freeing a dir whose blocks are on
    disk costs tens of ms, so the dirs stay; the replaced files' unlink
    cost lands here, on a resume and on a fresh run over an existing
    output alike.  Measured at local[4] over a synced output of
    perfbench's 3,000-row corpus (50 quanta): route 2.62 s, against
    2.31 s into an empty dir, the same gap Spark's delete of the old
    tree cost (2.43 / 2.25 s; BENCH/fresh_staged_commit_ab.json).  What
    is left of ``staged`` is the caller's to remove."""
    if not os.path.exists(dest):
        os.rename(staged, dest)
    elif depth == 0:
        for name in os.listdir(dest):
            os.remove(os.path.join(dest, name))
        for name in os.listdir(staged):
            os.rename(os.path.join(staged, name), os.path.join(dest, name))
    elif os.path.isdir(staged):
        for name in os.listdir(staged):
            _swap_in(os.path.join(staged, name), os.path.join(dest, name), depth - 1)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Stable doc_id bucket — the ledger/resume granularity key."""
    return df.withColumn("bucket", F.pmod(F.crc32(F.col("doc_id")), F.lit(n_buckets)).cast("int"))


def _route_clustering(scan_bytes: int) -> tuple[int, bool | str]:
    """(write_salt, cluster_mode) for the sink write, by MEASURED input
    size.  <= 512 MB: pinned-salt shuffle, one file per dir (AQE
    rebalance coalescing collapses the write parallelism a wide
    partitionBy fan-out needs — measured 27.5 s -> 109.7 s on the
    20k-row run).  > 512 MB measured: "rebalance" — files-per-dir must
    track each dir's BYTES, not a global constant (a fixed salt gives
    the hottest source's dirs arbitrarily-large files and every cold dir
    needless ones); AQE splits hot dirs at advisoryPartitionSizeInBytes
    and packs the cold tail.  UNKNOWN size (0: non-file inputs) takes
    the protective salt — failing toward extra small files and a
    parallel write, never toward a serialized tiny-input rebalance."""
    if scan_bytes > 512 << 20:
        return 1, "rebalance"
    return (1 if scan_bytes > 0 else 2), True


def route(df: DataFrame, sinks_path: str, n_buckets: int = 4,
          write_salt: int = 2, cluster: bool | str = True,
          overwrite_mode: str = "dynamic") -> None:
    """Write the fan-out sinks in one pass, partitioned by (source, bucket).

    Every row lands in exactly one family sink: its ``(source, bucket)``
    dir, in the family run of a file sorted by (source, bucket, family).
    `fields` (map) and `extra` (array) columns are parquet-native; the
    binding `tokens` column lands in every sink bit-identically.

    Callers pick `write_salt`/`cluster` with :func:`_route_clustering`
    from the measured input bytes.

    File-count discipline: without clustering, EVERY task writes a file
    into EVERY (source, bucket) dir it sees -> O(tasks x dirs) small
    files.  `cluster=True` repartitions on the partition keys (+ a
    doc_id salt so one hot dir never pins a single task) into 2x
    defaultParallelism partitions, which bounds files per dir to
    `write_salt` and total files to dirs x salt — at 100 TB this is the
    difference between a working table and a small-files meltdown.  The
    explicit partition count keeps AQE from coalescing the exchange
    toward a handful of 64 MB write tasks (measured 13% slower at
    local[32] on 2M rows).  So there is no unclustered write: `cluster`
    is True or "rebalance", and any other value raises ValueError.

    `cluster="rebalance"` replaces the fixed salt with AQE's REBALANCE
    shuffle on the partition keys: runtime statistics split any dir
    whose bytes exceed `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    into ~advisory-sized writers and pack the cold tail several dirs
    per task — i.e. files-per-dir tracks each dir's BYTES instead of a
    global constant, with no pre-pass over the data.  (Granularity
    caveat: AQE splits a skewed SHUFFLE partition by mapper range, so a
    cold dir co-hashed into a split slot pays one small file per slice
    — bounded by that slot's split count, never by the task count; at
    production advisory sizes this is a small constant on top of one
    file per dir.)  A fixed salt is wrong in both directions at large
    scale: the hottest source's dirs get `write_salt` arbitrarily-large
    files while every cold dir pays `write_salt` tiny ones (the datagen
    v2-layout lesson, BENCH/RESULTS_r5.md §5b).  Below ~512 MB the salt
    path stays because AQE's coalescing caps write parallelism exactly
    when the whole input fits in a handful of advisory chunks.
    `write_salt` is ignored in rebalance mode.

    Commit: every write is a static write into the sibling dir
    ``<sinks_path>__staging`` (which truncates a stale one a crashed run
    left), and the driver then swaps the staged tree in
    (:func:`_swap_in`) and removes what is left of it.  A crash during
    the write leaves the sinks untouched; a crash in the swap leaves a
    quantum empty or partly swapped, which the caller's ledger must
    still list as pending (``run_pipeline`` commits after the swap).
    `overwrite_mode` says how much the commit replaces.  "dynamic"
    (default; resumed runs) replaces exactly the (source, bucket) dirs
    the rows fall in, which makes PARTIAL reruns idempotent (P9 resume).
    "static" (fresh runs) replaces the whole tree: before the swap it
    removes every entry of the sinks that is not a staged quantum
    (:func:`_drop_unstaged`), so a crash in the swap cannot leave a
    stale quantum behind.  Neither mode uses Spark's overwrite of the
    sinks themselves: a static one deletes the live tree when the write
    job starts, so a failed job loses every row, and a dynamic one
    deletes each replaced dir, which on a discard-mounted file system
    costs tens of ms per quantum.  The write passes
    ``partitionOverwriteMode=static`` as a per-write option; the session
    conf is left alone.  `sinks_path` must be on the local file system
    (``session.local_path``), and a dynamic write into a tree of the old
    (family, source, bucket) layout raises ValueError, both before any
    Spark job.
    """
    if overwrite_mode not in ("static", "dynamic"):
        raise ValueError(f"overwrite_mode must be 'static' or 'dynamic', not {overwrite_mode!r}")
    if cluster is not True and cluster != "rebalance":
        raise ValueError(f"cluster must be True or 'rebalance', not {cluster!r}")
    # local_path's result names the same dir for Spark (fs.defaultFS is file:)
    sinks_dir = local_path(df.sparkSession, sinks_path).rstrip("/")
    staging = sinks_dir + "__staging"
    if overwrite_mode == "dynamic":
        _check_sink_layout(sinks_dir)
    if "bucket" not in df.columns:
        df = with_bucket(df, n_buckets)
    if cluster == "rebalance":
        df = df.hint("rebalance", *SINK_PARTITIONS)
    else:
        # salt hash MUST be independent of the bucket hash: bucket is
        # crc32(doc_id) % n_buckets, so crc32(doc_id) % write_salt is
        # CONSTANT within a dir whenever write_salt divides n_buckets —
        # i.e. the salt was inert and the hottest dir was written by one
        # task.  Salting a distinct string decorrelates the two.
        df = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism * 2,
            *[F.col(c) for c in SINK_PARTITIONS],
            F.pmod(F.crc32(F.concat(F.col("doc_id"), F.lit("#w"))), F.lit(write_salt)),
        )
    # contiguous family runs per file keep read_sink(family) prunable;
    # the sort also satisfies the writer's required (source, bucket)
    # ordering, so the plan holds one local sort, not two
    (df.sortWithinPartitions(*SINK_PARTITIONS, "family")
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "static")
     .partitionBy(*SINK_PARTITIONS)
     .parquet(staging))
    if overwrite_mode == "static" and os.path.isdir(sinks_dir):
        _drop_unstaged(staging, sinks_dir)
    _swap_in(staging, sinks_dir)
    # the markers and emptied dirs a swap into existing sinks leaves
    shutil.rmtree(staging, ignore_errors=True)


def _data_files(sinks_path: str) -> list[str]:
    """Paths of the sink tree's data files (no _SUCCESS/.crc markers)."""
    return [os.path.join(root, f) for root, _, fs in os.walk(sinks_path)
            for f in fs if not f.startswith(("_", "."))]


def read_sink(spark: SparkSession, sinks_path: str, family: str | None = None) -> DataFrame:
    """The routed rows, or one family's sink: a filter on the in-file
    `family` column that row-group statistics prune.

    The read schema is explicit: the data columns of one data file's
    footer plus ``source string, bucket int``.  Partition values come
    back as written — with type inference a source named "007" would
    read back as the integer 7."""
    files = _data_files(sinks_path)
    if not files:
        raise FileNotFoundError(f"no sink data files under {sinks_path}")
    schema = spark.read.parquet(files[0]).schema.add("source", "string").add("bucket", "integer")
    df = spark.read.schema(schema).option("basePath", sinks_path).parquet(sinks_path)
    return df.where(F.col("family") == family) if family else df

