"""spark-submit entrypoint (P10): the full parse -> enrich -> route ->
aggregate pipeline with lineage manifests and ledger-based idempotent
resume.

    spark-submit --py-files dist/logparse_spark.zip logparse_spark/main.py \
        --input /data/sequences --out /data/pipeline_out

(the zip from ``python tools/package.py``; spark-submit has no ``-m``).
The master is the launch's (``--master``), as ``session.get_spark``
leaves it.

``--out`` is a directory on the driver's local file system
(``session.local_path``); any other output raises before the run starts.

Local / sandbox:

    python -m logparse_spark.main --rows 200000 --out /tmp/lp_out --cores 32

Driver-side logic is deliberately thin: build the plan declaratively,
run ONE distributed write (the sinks) and ONE distributed read-back
aggregation of what it wrote (the metric grain), collect that grain
once, and derive the histogram, the rollup and the per-quantum manifest
rows (at most sources x buckets) from it on the driver with pyarrow.
The one other query over the read-back is ``family_metrics`` (its p99
needs the raw durations).  The metric tables, the manifests and the
ledger commit are written from Arrow on the driver
(``session.write_local``).  No .collect() over data.
"""

from __future__ import annotations

import argparse
import json
import os
import time
import uuid
from urllib.parse import unquote, urlparse

import pyarrow.compute as pc
from pyspark.sql import functions as F

from logparse_spark.engine import parse_sequences
from logparse_spark.ledger import Ledger
from logparse_spark.manifests import manifest_rows, save_manifests
from logparse_spark.operators.aggregate import grain_counts, write_metrics
from logparse_spark.operators.enrich import enrich, rules_dim
from logparse_spark.operators.route import _route_clustering, quantum_dir, route, with_bucket
from logparse_spark.session import get_spark, local_frame, local_path
from logparse_spark.sources.datagen import nodes_dim, write_sequences


# the counts run_pipeline returns: sums over the run's manifest rows
_TOTALS = ("routed_rows", "total_tokens", "unknown_rows")


def _input_bytes(df) -> int:
    """Best-effort scanned-input size (local paths; 0 when unknowable).
    ``inputFiles()`` gives percent-encoded URIs (a space as ``%20``), so
    a ``file:`` URI's path is decoded; other schemes count 0."""
    try:
        total = 0
        for f in df.inputFiles():
            uri = urlparse(f)
            p = unquote(uri.path)
            if uri.scheme == "file" and os.path.isfile(p):
                total += os.path.getsize(p)
        return total
    except Exception:  # noqa: BLE001 - non-file sources
        return 0


def resolve_n_buckets(scan_bytes: int, out: str, n_buckets: int | None = None) -> int:
    """Adaptive resume-granularity bucket count, stable per output dir.

    The (source, bucket) resume quantum only needs to be STABLE PER
    OUTPUT, not a global constant (VERDICT r5): a 20k-row run writing
    a sink layout sized for 100 TB pays a file-commit floor per sink
    dir (measured ~14 s at 32 cores for 3,432 files).  Sizing rule: one
    bucket per ~512 MB of measured compressed input, rounded up to a
    power of two, clamped to [1, 1024] — at 100 TB that is the 1024 cap
    (50 sources x 1024 buckets ≈ 2 GB resume quanta), at sandbox sizes
    it is 1-4; unknown size (non-file sources) takes the protective 4.

    Stability: this is the one reader and writer of
    ``<out>/ledger/_meta.json``.  Whatever it resolves — an explicit
    ``n_buckets`` or the sized count — is persisted when the file is
    absent, and a persisted count is ALWAYS reused, so resumes into the
    same output keep the ledger key space and the sink dir layout
    consistent even as the input grows.  An explicit ``n_buckets`` that
    contradicts the persisted count raises: recomputing pending against
    a different key space than the committed ledger rows would
    duplicate or skip quanta silently.
    """
    import math

    meta_path = os.path.join(out, "ledger", "_meta.json")
    if os.path.isfile(meta_path):
        with open(meta_path) as f:
            persisted = int(json.load(f)["n_buckets"])
        if n_buckets is not None and n_buckets != persisted:
            raise ValueError(
                f"n_buckets={n_buckets} conflicts with the bucket count "
                f"persisted for this output dir ({persisted}, "
                f"{meta_path}); the ledger resume key space must stay "
                "stable per output - pass n_buckets=None to reuse it, "
                "or write to a fresh output dir"
            )
        return persisted
    if n_buckets is not None:
        n = n_buckets
    elif scan_bytes <= 0:
        n = 4
    else:
        target = scan_bytes / (512 << 20)
        n = 1 if target <= 1 else min(1024, 1 << math.ceil(math.log2(target)))
    os.makedirs(os.path.dirname(meta_path), exist_ok=True)
    with open(meta_path, "w") as f:
        json.dump({"n_buckets": n, "resolved_from_bytes": scan_bytes}, f)
    return n


def run_pipeline(
    spark,
    sequences_df,
    out: str,
    n_buckets: int | None = None,
    resume: bool = True,
) -> dict:
    """Run the full pipeline; returns the run's counts and timings.

    Both modes commit the sinks the same way (``route``: a staged write,
    then a driver-side swap).  A fresh run (``resume=False``) first
    clears the ledger's commits (``Ledger.reset``), before any sink
    changes, then replaces the whole tree; a resumed run replaces the
    files of exactly its pending dirs.  Every number the run reports
    derives from a column-pruned read-back of the `(source, bucket)`
    sink dirs this run wrote: the whole tree, or the pending dirs.  Two
    Spark queries read it: the metric grain (``grain_counts``),
    collected once with ``toArrow``, and ``family_metrics``.  Nothing is
    cached.  The histogram, the rollup and the per-quantum manifest rows
    are summed from the collected grain with pyarrow.  The driver writes
    the metric tables, the manifests and the ledger commit, and sums the
    manifest rows for the returned `routed_rows` / `total_tokens` /
    `unknown_rows`.

    `out` is resolved once (``session.local_path``), before any Spark
    job or write, and that one local root holds every output: the
    sinks, ``ledger/`` with ``_meta.json``, ``metrics/`` and
    ``manifests/``.  An output that is not on the local file system
    raises ValueError.
    """
    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()
    out = local_path(spark, out)

    scan_bytes = _input_bytes(sequences_df)
    n_buckets = resolve_n_buckets(scan_bytes, out, n_buckets)
    # "" and null land in one sink dir (Spark's default partition) and
    # read back as null: one source value keeps them one quantum
    df = with_bucket(sequences_df.withColumn("source", F.nullif("source", F.lit(""))), n_buckets)
    ledger = Ledger(spark, f"{out}/ledger")
    sinks = f"{out}/sinks"
    read_paths = [sinks]
    if not resume:
        ledger.reset()  # before any sink changes: a crash from here on leaves every quantum pending
    else:
        # pending is ledger-small (<= sources x buckets): collect, then
        # broadcast-semi-join, which keeps the big side shuffle-free
        pending_rows = sorted(map(tuple, ledger.pending(df).collect()),
                              key=lambda q: (q[0] is not None, q))
        if not pending_rows:
            return {
                **dict.fromkeys(_TOTALS, 0),
                "wall_sec": time.time() - t0, "run_id": run_id,
                "route_sec": 0.0, "metrics_sec": 0.0,
            }
        pending = local_frame(spark, pending_rows, "source string, bucket int")
        # the semi-join prunes no partition (a LocalRelation build side
        # gets no dynamic partition pruning); a static source filter
        # prunes the scan to the pending sources' dirs (perfbench's
        # resumed tail, seed 1701: 4 of 6 parse tasks, 85 of 3,000 rows)
        sources = {s for s, _ in pending_rows}
        keep = F.col("source").isin(sorted(sources - {None}))
        if None in sources:
            keep |= F.col("source").isNull()
        df = df.where(keep)
        same = df["source"].eqNullSafe(pending["source"]) & (df["bucket"] == pending["bucket"])
        df = df.join(F.broadcast(pending), same, "left_semi")
        # the metric read-back names the pending dirs: a (source, bucket)
        # filter over the whole tree measured ~1 s slower on the 3k-row
        # perfbench resumed tail (4 cores)
        read_paths = [quantum_dir(sinks, s, b) for s, b in pending_rows]

    parsed = parse_sequences(df)
    enriched = enrich(parsed, nodes_dim(spark), rules_dim(spark))
    # parse's fixed output schema drops bucket; re-derive (pure crc32 JVM
    # expression) so routing and the metric grain share it
    enriched = with_bucket(enriched, n_buckets)
    write_salt, cluster_mode = _route_clustering(scan_bytes)

    t_route = time.time()
    # fresh runs (resume off) replace the whole tree, resumed runs only
    # their pending quanta's files; both commit by a staged write + swap
    route(enriched, sinks, n_buckets=n_buckets,
          cluster=cluster_mode, write_salt=write_salt,
          overwrite_mode="dynamic" if resume else "static")  # the one big action
    route_sec = round(time.time() - t_route, 2)

    # the explicit schema keeps partition values as written (no type
    # inference: source "007" stays "007") and reads an empty tree
    narrow = enriched.select(
        "doc_id", "source", "bucket", "family", "rule_id", "level",
        "n_tok", "duration_ms", "bytes_in", "bytes_out", "count",
    ).schema
    metric_src = (spark.read.schema(narrow).option("basePath", sinks)
                  .parquet(*read_paths))
    t_metrics = time.time()
    grain = grain_counts(metric_src).toArrow()
    write_metrics(metric_src, f"{out}/metrics", grain=grain)
    # one row per quantum this run wrote (<= the pending set); an empty
    # run has none and sums to 0s
    manifests = manifest_rows(grain)
    save_manifests(manifests, f"{out}/manifests")
    ledger.commit(manifests.select(["source", "bucket", "routed_rows"])
                  .rename_columns(["source", "bucket", "rows"]), run_id)
    metrics_sec = round(time.time() - t_metrics, 2)

    return {
        **{k: pc.sum(manifests[k]).as_py() or 0 for k in _TOTALS},
        "wall_sec": time.time() - t0, "run_id": run_id,
        "route_sec": route_sec, "metrics_sec": metrics_sec,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="logparse_spark pipeline")
    ap.add_argument("--input", help="path to sequences parquet (else synthetic)")
    ap.add_argument("--raw-logs", help="glob of raw system.log text files "
                    "(the reference's `python systemlog.py < system.log` mode)")
    ap.add_argument("--rows", type=int, default=100_000, help="synthetic row count")
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--buckets", type=int, default=None,
                    help="resume-granularity bucket count (default: auto "
                         "by input bytes, persisted per output dir)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    spark = get_spark(cores=args.cores)
    out = local_path(spark, args.out)
    if args.raw_logs:
        from logparse_spark.sources.rawlog import raw_logs_to_sequences

        seq = raw_logs_to_sequences(spark, args.raw_logs)
    elif args.input:
        seq = spark.read.parquet(args.input)
        if "bucket" in seq.columns:
            seq = seq.drop("bucket")  # recomputed from doc_id (layout-independent)
    else:
        data_path = f"{out}/sequences"
        if not os.path.isdir(data_path):
            write_sequences(spark, data_path, args.rows, seed=args.seed,
                            n_buckets=args.buckets or 4)
        seq = spark.read.parquet(data_path).drop("bucket")

    metrics = run_pipeline(
        spark, seq, out, n_buckets=args.buckets,
        resume=not args.no_resume,
    )
    print(json.dumps(metrics, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
