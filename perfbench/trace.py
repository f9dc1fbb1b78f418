"""The traced run: per-layer times measured from outside the program.

After the untraced samples and one untraced reference run, the session
restarts with Spark's event log on, runs one traced sample under job
group ``main``, then times
cumulative pipeline prefixes on the same input, each under its own job
group:

    ledger     Ledger.pending on the workload's starting ledger
    scan       parquet scan                    -> noop sink
    engine     + parse_sequences               -> noop sink
    enrich     + operators.enrich              -> noop sink
    route      operators.route of a localCheckpoint of the enriched frame
    aggregate  grain_counts + write_metrics    on that checkpoint
    manifests  write_manifests                 on the same checkpoint
    ledger     Ledger.commit                   of the partition manifests

At the benchmark's input size ``run_pipeline`` persists its enriched
frame during the route write and runs its metric pass on that cache, so
the last three layers read the checkpoint too.  The route call pins
one file per sink directory; ``check_route`` fails the traced run when
the route layer wrote a different number of files or directories than
the traced ``run_pipeline`` call did, so the layer table never silently
times a path the program no longer runs.

A layer's self time is its prefix minus the previous prefix (scan,
engine, enrich) or its own call (the rest).  The ``engine.*_s`` kernel
split comes from ``parse_batch_arrow`` timed in this process on one warm
20k-row batch generated from the same seed.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import eventlog
from perfbench.corpus import parquet_files, written_since

JOB_GROUPS = ("main", "scan", "engine", "enrich", "route", "aggregate", "manifests", "ledger")
GROUP_FIELDS = ("tasks", "executor_cpu_s", "scheduler_delay_s", "shuffle_write_bytes", "spill_bytes")
SELF_TIMES = ("ledger.pending_s", "scan.s", "engine.s", "enrich.s", "route.s",
              "aggregate.s", "manifests.s", "ledger.commit_s")


def eventlog_confs(events_dir: str) -> dict[str, str]:
    os.makedirs(events_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # per-task peaks of used heap, storage and execution memory
        "spark.executor.metrics.pollingInterval": "100ms",
    }


def layer_prefixes(spark, wl, n_buckets: int, out: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from logparse_spark.engine import parse_sequences
    from logparse_spark.ledger import Ledger
    from logparse_spark.manifests import partition_manifests, write_manifests
    from logparse_spark.operators.aggregate import grain_counts, write_metrics
    from logparse_spark.operators.enrich import enrich, rules_dim
    from logparse_spark.operators.route import route, with_bucket
    from logparse_spark.sources.datagen import nodes_dim

    sc = spark.sparkContext

    def timed(group: str, fn) -> float:
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    wl.layer_tree(out)
    sinks = os.path.join(out, "sinks")
    ledger = Ledger(spark, os.path.join(out, "ledger"))
    df = with_bucket(wl.corpus.frame(spark), n_buckets)
    pending: list[tuple] = []
    r: dict[str, float] = {}
    r["ledger.pending_s"] = timed("ledger", lambda: pending.extend(map(tuple, ledger.pending(df).collect())))
    r["ledger.pending_partitions"] = len(pending)
    if wl.resume:
        frontier = spark.createDataFrame(sorted(pending), "source string, bucket int")
        df = df.join(F.broadcast(frontier), ["source", "bucket"], "left_semi")

    parsed = parse_sequences(df)
    enriched = with_bucket(enrich(parsed, nodes_dim(spark), rules_dim(spark)), n_buckets)
    scan = timed("scan", lambda: noop(df))
    parse = timed("engine", lambda: noop(parsed))
    enrich_s = timed("enrich", lambda: noop(enriched))
    r["scan.s"], r["engine.s"], r["enrich.s"] = scan, parse - scan, enrich_s - parse

    sc.setJobGroup("checkpoint", "checkpoint")
    ck = enriched.localCheckpoint(eager=True)
    before = parquet_files(sinks)
    # one file per sink dir (check_route holds run_pipeline to the same);
    # static commit on a fresh run, dynamic on resume
    r["route.s"] = timed("route", lambda: route(
        ck, sinks, n_buckets=n_buckets, cluster=True, write_salt=1,
        overwrite_mode="dynamic" if wl.resume else "static"))
    written = written_since(before, sinks)
    r["route.files"] = len(written)
    r["route.dirs"] = len({os.path.dirname(p) for p in written})
    r["route.bytes"] = sum(size for _, size in written.values())

    grain = grain_counts(ck).cache()
    r["aggregate.s"] = timed("aggregate", lambda: write_metrics(
        ck, os.path.join(out, "metrics"), grain=grain))
    r["manifests.s"] = timed("manifests", lambda: write_manifests(
        ck, os.path.join(out, "manifests"), grain=grain))
    r["ledger.commit_s"] = timed("ledger", lambda: ledger.commit(
        partition_manifests(ck, grain=grain)
        .select("source", "bucket", F.col("routed_rows").alias("rows")), "perfbench-layers"))
    sc.setJobGroup("idle", "idle")
    grain.unpersist()
    ck.unpersist()
    return r


def check_route(layers: dict[str, float], sample) -> list[str]:
    """The route layer must write the file layout ``run_pipeline`` wrote
    in the traced sample."""
    got = (layers["route.files"], layers["route.dirs"])
    want = (sample.sink_files, sample.sink_dirs)
    if got == want:
        return []
    return [f"traced route layer wrote {got[0]} files in {got[1]} dirs, run_pipeline "
            f"{want[0]} in {want[1]}: trace.layer_prefixes no longer matches its routing"]


def kernel_times(seed: int, arrow_schema, rows: int = 20_000, reps: int = 2) -> dict[str, float]:
    """parse_batch_arrow on one warm batch of ``rows`` generated rows,
    split into decode, parse_texts and the rest (Arrow output build)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from logparse_spark.engine import decode_tokens_arrow, parse_batch_arrow, parse_texts
    from logparse_spark.rulebook import compile_rulebook
    from logparse_spark.sources.datagen import generate_pdf

    batch = pa.RecordBatch.from_pandas(generate_pdf(np.arange(rows), seed), preserve_index=False)
    compiled = compile_rulebook()
    runs = []
    for i in range(reps + 1):  # the first pass warms the regex cache
        t0 = time.perf_counter()
        texts = decode_tokens_arrow(batch.column("tokens"))
        t1 = time.perf_counter()
        parse_texts(pd.Series(texts, dtype=object), compiled)
        t2 = time.perf_counter()
        parsed = parse_batch_arrow(batch, compiled, arrow_schema)
        t3 = time.perf_counter()
        if i:
            runs.append((t1 - t0, t2 - t1, t3 - t2))
    decode, texts_s, batch_s = (statistics.median(x) for x in zip(*runs))
    rule_ids = parsed.column("rule_id").to_numpy(zero_copy_only=False)
    return {
        "engine.batch_s": batch_s,
        "engine.decode_s": decode,
        "engine.parse_texts_s": texts_s,
        "engine.arrow_build_s": batch_s - decode - texts_s,
        "engine.unknown_frac": float(np.mean(rule_ids == -1)),
    }


def spark_metrics(events_dir: str) -> dict[str, float]:
    """Event-log totals per job group.  GC time is summed over all groups:
    per group it is often exactly zero on the small ones.  The memory
    peaks are those of the traced ``run_pipeline`` call (group ``main``)."""
    summary = eventlog.summarize_dir(events_dir)
    zero = dict.fromkeys((*eventlog.FIELDS, *eventlog.PEAKS), 0)
    out = {"spark.gc_s": sum(v["gc_s"] for v in summary.values())}
    for group in JOB_GROUPS:
        vals = summary.get(group, zero)
        for k in GROUP_FIELDS:
            out[f"spark.{group}.{k}"] = vals[k]
    main = summary.get("main", zero)
    for k in eventlog.PEAKS:
        out["memory." + k.replace("_bytes", "_mb")] = main[k] / (1 << 20)
    out["route.write_s"] = summary.get("route", zero)["result_stage_s"]
    out["route.shuffle_bytes"] = summary.get("route", zero)["shuffle_write_bytes"]
    return out


def layer_table(layers: dict[str, float], untraced_wall: float) -> str:
    rows = [f"{'layer':<20}{'self_s':>10}{'share':>9}"]
    for k in SELF_TIMES:
        rows.append(f"{k:<20}{layers[k]:>10.3f}{layers[k] / untraced_wall:>9.1%}")
    rows.append(f"{'sum of layers':<20}{layers['layers.sum_s']:>10.3f}{layers['layers.coverage']:>9.1%}")
    rows.append(f"{'untraced ref wall_s':<20}{untraced_wall:>10.3f}")
    rows.append(f"{'traced wall_s':<20}{layers['main.wall_s']:>10.3f}")
    rows.append(f"{'tracing overhead_s':<20}{layers['trace.overhead_s']:>10.3f}")
    return "\n".join(rows)
