"""Benchmark harness.

Default mode (what the driver runs):
    python bench.py
      -> ONE JSON line {"metric", "value" (total sec), "unit": "sec",
         "queries": {name: sec}, "sf", plus pipeline throughput extras}

Headline load = the flagship pipeline (parse -> enrich -> route ->
aggregate over synthetic tokenized sequences, sinks + metrics written)
plus the heavier relational/training-data queries over
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Scaling mode (the N vs 4N executor proxy, BENCH/BASELINE.md):
    python bench.py --scaling
      -> runs the pipeline at local[4/8/16/32] on the SAME
         pre-materialized input, reports rows/s per leg and the
         efficiency of every 4x pair; writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# benchmarked subset of the driver-contract queries (the heavy ones)
BENCH_QUERIES = [
    "q_pricing_summary",
    "q_shuffle_join",
    "q_broadcast_join",
    "q_window_analytic",
    "q_range_join",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_clusters",
    "q_dedup_simhash",
    "q_embed_neardup",
    "q_sim_topk",
    "q_sim_topk_ivf",
    "q_asof_join",
    "q_udtf_sentences",
    "q_text_tokens",
    "q_text_langid",
]


def host_probe(probe_dir: str = "/tmp") -> dict:
    """Cheap shared-host storm detector, run while OUR Spark is stopped
    (so any busy CPU / slow disk it sees belongs to a neighbor tenant):
    /proc/stat busy fraction over 300 ms, one 4 MB fsync'd write to the
    bench's output filesystem, and the 1-min loadavg (informational —
    it decays too slowly to separate neighbors from our own just-
    finished legs)."""

    def _cpu():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[3] + vals[4], sum(vals)  # idle+iowait, total

    i0, t0 = _cpu()
    time.sleep(0.3)
    i1, t1 = _cpu()
    busy = 1.0 - (i1 - i0) / max(1, t1 - t0)
    pb = os.path.join(probe_dir, f".lp_probe_{os.getpid()}")
    tw = time.perf_counter()
    with open(pb, "wb") as f:
        f.write(b"\0" * 4_000_000)
        f.flush()
        os.fsync(f.fileno())
    disk_ms = (time.perf_counter() - tw) * 1000
    os.remove(pb)
    return {
        "cpu_busy_frac": round(busy, 3),
        "disk_probe_ms": round(disk_ms, 1),
        "load1": round(os.getloadavg()[0], 1),
    }


# a probe point is "clean" when neighbors hold <25% of the box's CPU and
# the shared disk absorbs a 4 MB fsync in <200 ms (clean-host calibration:
# ~0-5% busy, 5-30 ms)
def _probe_clean(p: dict) -> bool:
    return p["cpu_busy_frac"] <= 0.25 and p["disk_probe_ms"] <= 200.0


def _settle(max_wait_s: float = 120.0, target_ms: float = 50.0,
            probe_dir: str = "/tmp") -> dict:
    """Drain writeback and wait (bounded, untimed) for a QUALITY window
    — fsync probe under `target_ms`, the CLAUDE.md quality bar — before
    a timed leg starts.  Measured pattern this addresses: the first
    timed run after a corpus write / warm-up rides the tail of that
    writeback and lands 2-4x inflated (118/71/35.8 s settling in one
    session) even though each run os.sync()s first; ten untimed seconds
    of settling are cheaper than discarding a 2-minute contaminated
    run.  Returns the last probe (callers may record it)."""
    deadline = time.time() + max_wait_s
    while True:
        os.sync()
        p = host_probe(probe_dir=probe_dir)
        if p["disk_probe_ms"] <= target_ms or time.time() >= deadline:
            return p
        time.sleep(10)


def _median_of_clean(times: list[float], factor: float = 1.4) -> tuple[float, list[float]]:
    """Median of the runs within `factor` x the fastest run; the rest are
    storm-contaminated outliers, returned for disclosure (never hidden).
    One neighbor storm therefore cannot define the reported number, and
    the discard rule is explicit and value-printed rather than silent."""
    lo = min(times)
    clean = [t for t in times if t <= factor * lo]
    discarded = [t for t in times if t > factor * lo]
    return statistics.median(clean), discarded


def _floor_efficiencies(results: dict, ordered: list) -> dict:
    """Floor-subtracted N->4N efficiencies: how the data-proportional
    part (big-run median minus the same leg's measured tiny-run floor)
    scales.  Shared by scaling_bench and cluster_bench so the
    subtraction rule cannot drift between them."""
    out = {}
    for lo in ordered:
        for hi in ordered:
            if hi != 4 * lo:
                continue
            flo, fhi = results[lo]["floor_sec"], results[hi]["floor_sec"]
            if flo is None or fhi is None:
                continue
            c_lo = results[lo]["median_sec"] - flo
            c_hi = results[hi]["median_sec"] - fhi
            if c_lo > 0 and c_hi > 0:
                out[f"{lo}->{hi}"] = round(c_lo / (4 * c_hi), 3)
    return out


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def pipeline_rows(sf: float) -> int:
    return max(20_000, int(2_000_000 * sf / 0.1))


# bump when write_sequences' physical LAYOUT changes (row content is
# separately crc-pinned): v2 = r5 salt decorrelation (8 real splits per
# (source,bucket) dir, was 8/n_buckets aliased splits); v3 = frequency-
# aware per-source salt (v2's uniform 8 multiplied files ~4x past the
# hot-source intent and tripled the parse stage's task count — measured
# 30 s -> 45 s pipeline at sf0.1).  Without a layout version in the
# cache key, a layout fix is silently inert for every pre-existing
# corpus (found by review in r5).
_CORPUS_LAYOUT_VERSION = 3


def ensure_corpus(spark, n: int, n_buckets: int = 4, versioned: bool = False) -> str:
    """Materialize the synthetic sequences corpus once (not timed)."""
    from logparse_spark.sources.datagen import write_sequences

    tag = "_versioned" if versioned else ""
    path = os.path.join(DATA_DIR, f"bench_seq_{n}{tag}_v{_CORPUS_LAYOUT_VERSION}")
    marker = os.path.join(path, "_SUCCESS_LOCAL")
    if not os.path.exists(marker):
        write_sequences(spark, path, n, n_buckets=n_buckets, versioned=versioned)
        open(marker, "w").close()
    return path


def run_pipeline_once(spark, corpus_path: str, out: str) -> tuple[float, int]:
    from logparse_spark.main import run_pipeline

    seq = spark.read.parquet(corpus_path).drop("bucket")
    shutil.rmtree(out, ignore_errors=True)
    # drain OUR OWN writeback backlog before the timed window: each run
    # leaves ~3.4k dirty sink/metric files, and the NEXT run's commit
    # fsyncs otherwise queue behind them (measured: the 4 MB fsync probe
    # goes 27 ms -> 650 ms across back-to-back runs without this, and
    # recovers to ~25 ms with it).  os.sync() is untimed by design — the
    # bench measures the pipeline, not the janitor.
    os.sync()
    t0 = time.time()
    # n_buckets=None -> auto by input bytes (r6 floor fix: a 20k-row
    # floor run resolves to 1 bucket instead of writing a 100TB-sized
    # sink layout; the 5M corpus resolves by bytes)
    metrics = run_pipeline(spark, seq, out, n_buckets=None, resume=False)
    dt = time.time() - t0
    return dt, int(metrics["routed_rows"])


def time_query(spark, fn, sf_dir: str) -> float:
    t0 = time.time()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()  # force full execution
    return time.time() - t0


def default_bench(runs: int = 3) -> dict:
    """Storm-resistant driver bench: every timed leg (the pipeline and
    each headline query) runs `runs` times after one warm-up and reports
    the median of the clean runs — runs slower than 1.4x the leg's
    fastest are disclosed as discarded outliers, so a single shared-host
    neighbor storm cannot define the round's binding number (VERDICT r3
    #1: r3's driver invocation landed on a storm and recorded a 20%
    phantom regression).  host_probe() brackets the whole bench while
    our Spark is stopped; `host_clean` certifies both probe points."""
    from logparse_spark.session import get_spark

    import __spark_entry__ as entrymod

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", runs))
    pre = host_probe()
    sf = _sf_of(SF_DIR)
    spark = get_spark(
        app_name="bench", cores=CPUS,
        # tc=2 pairs each JVM task thread with its Python worker — stable
        # and faster for the arrow-stage-heavy pipeline (see scaling_bench)
        extra={"spark.sql.files.maxPartitionBytes": "16m", "spark.task.cpus": "2"},
    )
    n = pipeline_rows(sf)
    corpus = ensure_corpus(spark, n)

    out = "/tmp/lp_bench_out"
    # one discarded warm-up (page cache + JIT), then settle to a
    # quality window (untimed) so run 0 doesn't ride the corpus-write /
    # warm-up writeback tail, then the timed runs
    run_pipeline_once(spark, corpus, out + "_warm")
    settle_probe = _settle()
    pipe_runs, routed = [], 0
    for i in range(runs):
        dt, routed = run_pipeline_once(spark, corpus, f"{out}_{i}")
        pipe_runs.append(dt)
    pipe_sec, pipe_disc = _median_of_clean(pipe_runs)

    # retired near-twins (e.g. q_dedup_minhash, rotated off the driver's
    # 50-slot scoreboard in r5) stay benchmarked under their old names so
    # per-query numbers remain comparable across rounds
    qs = {**entrymod.retired_queries(), **entrymod.queries()}
    qtimes: dict[str, float] = {"pipeline_e2e": round(pipe_sec, 3)}
    all_runs: dict[str, list[float]] = {"pipeline_e2e": [round(t, 3) for t in pipe_runs]}
    discarded: dict[str, list[float]] = {}
    if pipe_disc:
        discarded["pipeline_e2e"] = [round(t, 3) for t in pipe_disc]
    for name in BENCH_QUERIES:
        ts = [time_query(spark, qs[name], SF_DIR) for _ in range(runs)]
        med, disc = _median_of_clean(ts)
        qtimes[name] = round(med, 3)
        all_runs[name] = [round(t, 3) for t in ts]
        if disc:
            discarded[name] = [round(t, 3) for t in disc]
    spark.stop()
    post = host_probe()

    total = round(sum(qtimes.values()), 3)
    return {
        "metric": "end_to_end_sec (flagship pipeline + headline queries; "
                  f"median-of-clean over {runs} runs each)",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        "sf": sf,
        "pipeline_rows": routed,
        "pipeline_rows_per_sec": round(routed / pipe_sec, 1),
        "cpus": CPUS,
        "runs_per_leg": runs,
        "query_runs": all_runs,
        "discarded_runs": discarded,
        "host": {"pre": pre, "post_warmup_settle": settle_probe, "post": post},
        "host_clean": _probe_clean(pre) and _probe_clean(post),
    }


def scaling_bench(legs=(4, 8, 16, 32), runs: int = 3, n: int | None = None,
                  mode: str = "disk", floor_rows: int | None = 20_000) -> dict:
    """Same job, same input, several parallelism levels -> scaling
    efficiency for every 4x core pair (the N vs 4N executor proxy).

    Every leg runs with spark.task.cpus=2 — one JVM task thread plus its
    dedicated Python worker per 2 cores.  This models a real executor
    (each task's arrow worker gets a core instead of time-slicing
    against the JVM); measured, task.cpus=1 at high core counts
    oversubscribes the box 2:1 and destabilizes runs (43/92/190 s
    spread), while tc=2 is stable and faster.

    mode='disk': outputs + shuffle on the single shared /tmp disk (the
    production-shaped leg).  mode='tmpfs': outputs AND spark.local.dir
    on /dev/shm — the COMPUTE-ONLY leg that removes the one shared disk
    from the picture, isolating how the pipeline itself scales (the
    host memory-bandwidth band is then the ceiling, not the spindle).

    Floor decomposition: per leg, the same warm session also times the
    pipeline on a tiny `floor_rows` corpus — almost pure per-run fixed
    cost (driver planning, scheduling, commit protocol, manifest/ledger
    writes) that does NOT shrink with cores or grow with input.
    `efficiencies_floor_subtracted` reports how the data-proportional
    part scales once that measured floor is removed — the adjustment a
    100 TB input performs physically (a 30 s sandbox run is ~20% fixed
    floor; a one-hour production run is ~0%).
    """
    import shutil as _sh

    from logparse_spark.session import get_spark

    n = n or pipeline_rows(_sf_of(SF_DIR))
    # materialize once with a neutral session
    s0 = get_spark(app_name="bench-datagen", cores=max(legs))
    corpus = ensure_corpus(s0, n)
    floor_corpus = ensure_corpus(s0, floor_rows) if floor_rows else None
    s0.stop()

    if mode == "tmpfs":
        out_base = "/dev/shm/lp_scale"
        extra_mode = {"spark.local.dir": "/dev/shm/lp_scale/spark-local"}
    else:
        out_base = "/tmp/lp_scale"
        extra_mode = {}

    results = {}
    probes = []
    for cores in legs:
        # pre-leg storm probe, taken while no Spark of ours is running:
        # every leg's JSON is self-validating (VERDICT r3 #6)
        probe = host_probe(probe_dir="/dev/shm" if mode == "tmpfs" else "/tmp")
        probes.append(probe)
        s = get_spark(
            app_name=f"bench-{cores}-{mode}", cores=cores, shuffle_partitions=cores,
            # split size sized so every leg has >= 3 tasks/core in flight
            extra={"spark.sql.files.maxPartitionBytes": "16m",
                   "spark.task.cpus": "2", **extra_mode},
        )
        # warm-up (discarded), then settle out of its writeback tail
        run_pipeline_once(s, corpus, f"{out_base}_{cores}_warm")
        _settle(probe_dir="/dev/shm" if mode == "tmpfs" else "/tmp")
        times = []
        routed = 0
        for i in range(runs):
            dt, routed = run_pipeline_once(s, corpus, f"{out_base}_{cores}_{i}")
            times.append(dt)
        floor_times = []
        if floor_corpus:
            for i in range(runs):
                ft, _ = run_pipeline_once(s, floor_corpus, f"{out_base}_{cores}_floor_{i}")
                floor_times.append(ft)
        s.stop()
        if mode == "tmpfs":  # don't squat tmpfs between legs
            for d in (f"{out_base}_{cores}_warm",
                      *(f"{out_base}_{cores}_{i}" for i in range(runs)),
                      *(f"{out_base}_{cores}_floor_{i}" for i in range(runs))):
                _sh.rmtree(d, ignore_errors=True)
        med, disc = _median_of_clean(times)
        floor_med = _median_of_clean(floor_times)[0] if floor_times else None
        results[cores] = {
            "median_sec": round(med, 2),
            "floor_sec": round(floor_med, 2) if floor_med is not None else None,
            "floor_runs_sec": [round(t, 2) for t in floor_times],
            "runs_sec": [round(t, 2) for t in times],
            "discarded_sec": [round(t, 2) for t in disc],
            "rows_per_sec": round(routed / med, 1),
            "rows": routed,
            "host": probe,
        }
    ordered = sorted(results)
    efficiencies = {
        f"{lo}->{hi}": round(
            results[hi]["rows_per_sec"] / ((hi / lo) * results[lo]["rows_per_sec"]), 3
        )
        for lo in ordered
        for hi in ordered
        if hi == 4 * lo  # the N vs 4N pairs
    }
    return {
        "mode": mode, "legs": results, "efficiencies": efficiencies,
        "efficiencies_floor_subtracted": _floor_efficiencies(results, ordered),
        "floor_rows": floor_rows, "rows": n,
        # clean iff every pre-leg probe saw an idle host (<25% neighbor
        # CPU, <200 ms 4MB-fsync) — the whole run's numbers are then
        # storm-free by measurement, not assertion
        "host_clean": all(_probe_clean(p) for p in probes),
    }


def versioned_bench(runs: int = 3, n: int | None = None) -> dict:
    """Flagship pipeline on the mixed-fleet VERSIONED corpus vs the
    bit-frozen default corpus — same session, same row count
    (VERDICT r5 #5).  The versioned corpus pins a deterministic version
    family per source (per-family template subsets + version-correct
    header formats), so this exercises all 300 rules under a realistic
    version mix in the HOT PATH — guarding against the parse stage
    having been inadvertently tuned to the frozen corpus's rule mix.
    Reports throughput AND unknown-rate side by side."""
    from logparse_spark.main import run_pipeline
    from logparse_spark.session import get_spark

    pre = host_probe()
    n = n or pipeline_rows(_sf_of(SF_DIR))
    spark = get_spark(
        app_name="bench-versioned", cores=CPUS,
        extra={"spark.sql.files.maxPartitionBytes": "16m", "spark.task.cpus": "2"},
    )
    corpora = {"frozen": ensure_corpus(spark, n),
               "versioned": ensure_corpus(spark, n, versioned=True)}
    for name, path in corpora.items():  # warm-ups (discarded)
        run_pipeline_once(spark, path, f"/tmp/lp_vb_{name}_warm")
    _settle()
    res = {}
    for name, path in corpora.items():
        seq = spark.read.parquet(path).drop("bucket")
        times, routed, unknown = [], 0, 0
        for i in range(runs):
            o = f"/tmp/lp_vb_{name}_{i}"
            shutil.rmtree(o, ignore_errors=True)
            os.sync()
            t0 = time.time()
            m = run_pipeline(spark, seq, o, n_buckets=None, resume=False)
            times.append(time.time() - t0)
            routed, unknown = int(m["routed_rows"]), int(m["unknown_rows"])
        med, disc = _median_of_clean(times)
        res[name] = {
            "median_sec": round(med, 2),
            "runs_sec": [round(t, 2) for t in times],
            "discarded_sec": [round(t, 2) for t in disc],
            "rows": routed,
            "rows_per_sec": round(routed / med, 1),
            "unknown_rows": unknown,
            "unknown_rate": round(unknown / max(1, routed), 5),
        }
    spark.stop()
    post = host_probe()
    return {
        "mode": "versioned-vs-frozen", "rows": n, "legs": res,
        "throughput_ratio_versioned_over_frozen": round(
            res["versioned"]["rows_per_sec"] / res["frozen"]["rows_per_sec"], 3),
        "cpus": CPUS, "runs_per_leg": runs,
        "host": {"pre": pre, "post": post},
        "host_clean": _probe_clean(pre) and _probe_clean(post),
    }


def cluster_bench(workers=(1, 4), cores_per_worker: int = 8, mem_mb: int = 8192,
                  runs: int = 3, n: int | None = None,
                  floor_rows: int | None = 20_000) -> dict:
    """The N vs 4N legs with REAL separate executor processes.

    ``local-cluster[w, c, mem]`` starts an in-process standalone
    master/worker pair that launches w genuine executor JVMs (own heaps,
    own Python workers, executor-to-executor shuffle fetches over
    loopback TCP) — the closest sandbox analog to a real cluster, and it
    exercises the serializer/shuffle-service paths the local[N] proxy
    skips.  1 worker x 8 cores vs 4 workers x 8 cores is the same
    4x-resources contrast as the local legs but with the executor
    process boundary in place.

    Floor decomposition (VERDICT r4 #4): per leg, the SAME warm session
    also times the pipeline on a tiny `floor_rows` corpus.  That run is
    almost pure per-job fixed cost — driver planning, stage scheduling,
    Python-worker round-trips per executor, commit protocol, manifest/
    ledger writes — i.e. the serial+per-executor floor F_w that does NOT
    shrink with input size.  `efficiencies_floor_subtracted` then
    reports (T_1 - F_1) / (4 x (T_4 - F_4)): how the data-proportional
    part of the job scales once the fixed floor (which a 100 TB input
    amortizes to nothing, but a 30 s sandbox run does not) is removed —
    the same no-free-parameter decomposition r3 used for the tmpfs legs.
    """
    import sys

    from logparse_spark.session import get_spark

    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    n = n or pipeline_rows(_sf_of(SF_DIR))
    s0 = get_spark(app_name="bench-datagen", cores=32)
    corpus = ensure_corpus(s0, n)
    floor_corpus = ensure_corpus(s0, floor_rows) if floor_rows else None
    s0.stop()

    results = {}
    probes = []
    for w in workers:
        probe = host_probe()
        probes.append(probe)
        cores = w * cores_per_worker
        s = get_spark(
            app_name=f"bench-cluster-{w}x{cores_per_worker}",
            cores=cores, shuffle_partitions=cores,
            extra={
                "spark.master": f"local-cluster[{w},{cores_per_worker},{mem_mb}]",
                "spark.executor.memory": f"{mem_mb}m",
                "spark.driver.memory": "8g",
                # executors are separate processes: they inherit neither
                # sys.path nor cwd, so point them at the repo explicitly
                "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.abspath(__file__)),
                "spark.sql.files.maxPartitionBytes": "16m",
                "spark.task.cpus": "2",
            },
        )
        run_pipeline_once(s, corpus, f"/tmp/lp_cluster_{w}_warm")
        _settle()
        times, routed = [], 0
        for i in range(runs):
            dt, routed = run_pipeline_once(s, corpus, f"/tmp/lp_cluster_{w}_{i}")
            times.append(dt)
        floor_times = []
        if floor_corpus:
            for i in range(runs):
                ft, _ = run_pipeline_once(s, floor_corpus, f"/tmp/lp_cluster_{w}_floor_{i}")
                floor_times.append(ft)
        s.stop()
        med, disc = _median_of_clean(times)
        floor_med = _median_of_clean(floor_times)[0] if floor_times else None
        results[w] = {
            "median_sec": round(med, 2),
            "floor_sec": round(floor_med, 2) if floor_med is not None else None,
            "floor_runs_sec": [round(t, 2) for t in floor_times],
            "runs_sec": [round(t, 2) for t in times],
            "discarded_sec": [round(t, 2) for t in disc],
            "rows_per_sec": round(routed / med, 1),
            "rows": routed,
            "executors": w,
            "cores_total": cores,
            "host": probe,
        }
    ordered = sorted(results)
    efficiencies = {
        f"{lo}->{hi}": round(
            results[hi]["rows_per_sec"] / ((hi / lo) * results[lo]["rows_per_sec"]), 3
        )
        for lo in ordered for hi in ordered if hi == 4 * lo
    }
    return {
        "mode": "local-cluster", "legs": results, "efficiencies": efficiencies,
        "efficiencies_floor_subtracted": _floor_efficiencies(results, ordered),
        "floor_rows": floor_rows,
        "rows": n, "cores_per_worker": cores_per_worker, "mem_mb": mem_mb,
        "host_clean": all(_probe_clean(p) for p in probes),
    }


def _mode_tables(res: dict) -> str:
    legs = sorted(int(k) for k in res["legs"])

    def leg(c):
        return res["legs"].get(c) or res["legs"][str(c)]

    rows_tbl = "\n".join(
        f"| local[{c}] | {leg(c)['median_sec']} | "
        f"{leg(c)['rows_per_sec']:,} | {leg(c)['runs_sec']} | "
        f"{leg(c).get('floor_sec') or '—'} |"
        for c in legs
    )
    fs = res.get("efficiencies_floor_subtracted", {})
    eff_tbl = "\n".join(
        f"| {pair.replace('->', ' -> ')} cores (4x) | {eff} | {fs.get(pair, '—')} |"
        for pair, eff in res["efficiencies"].items()
    )
    return f"""
| parallelism | median wall (s) | throughput (rows/s) | runs (s) | measured fixed floor (s) |
|---|---|---|---|---|
{rows_tbl}

| N -> 4N pair | raw efficiency thr(4N)/(4 x thr(N)) | floor-subtracted |
|---|---|---|
{eff_tbl}
"""


def write_scaling_report(by_mode: dict) -> None:
    os.makedirs("BENCH", exist_ok=True)
    rows = next(iter(by_mode.values()))["rows"]
    sections = []
    titles = {
        "disk": "## Production-shaped legs (outputs + shuffle on the single shared /tmp disk)",
        "tmpfs": "## Compute-only legs (outputs AND spark.local.dir on tmpfs /dev/shm — the shared disk removed)",
    }
    for mode in ("disk", "tmpfs"):
        if mode in by_mode:
            sections.append(titles[mode] + "\n" + _mode_tables(by_mode[mode]))
    body = "\n".join(sections)
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(f"""# BENCH — scaling proxy (N vs 4N executors)

Sandbox proxy for the north-rule two-cluster-size criterion: the SAME
pipeline job (parse -> enrich -> route -> aggregate, sinks + metrics +
manifests + ledger written) on the SAME pre-materialized
{rows:,}-row synthetic sequences corpus, at several local[N]
parallelism levels (1 warm-up discarded, median of timed runs).

{body}

Target: >= 0.8.  Reading the pairs: on a single box all "executors"
share one memory-bandwidth/LLC domain AND one disk, so the proxy
understates real cluster scaling at high core counts — a 1000-executor
cluster brings a disk and a memory controller per host.  The tmpfs legs
are the controlled experiment for the disk half of that claim: they run
the identical job with every byte of output and shuffle kept in memory,
so any 8->32 efficiency gap that REMAINS there is compute/bandwidth,
and the disk-vs-tmpfs delta at 32 cores is the measured disk tail.
The host's measured memory-bandwidth scaling band for the same core
pair is 0.63-0.78 (BENCH/RESULTS_r2.md) — a compute-only efficiency
inside that band means the pipeline scales as well as this box's
memory system physically allows.

"Measured fixed floor" (since r5): the same warm session also times the
pipeline on a 20k-row corpus — almost pure per-run fixed cost (driver
planning, scheduling, commit protocol, manifest/ledger writes) that
neither shrinks with cores nor grows with input.  The floor-subtracted
column reports how the data-proportional part scales once that floor is
removed — the adjustment a 100 TB input performs physically (a ~30 s
sandbox run is 40-60% fixed floor; a one-hour production run is ~0%).
The strongest evidence is the REAL-executor pair
(BENCH/scaling_cluster_r6.json, local-cluster[1,8] vs [4,8], separate
executor JVMs + loopback shuffle, settle-gated clean window, 5M-row
corpus, every leg >= 60 s per the protocol, zero discarded runs):
raw 1->4 efficiency **0.784**, floor-subtracted **0.855** — on legs
long enough that the fixed floor is only 8-15% of wall.  (r5, same
code on 24-63 s legs: raw 0.635 / floor-subtracted 0.936.)  See
BENCH/RESULTS_r6.md for the decomposition.

Confs: AQE on, shuffle.partitions = cores, spark.task.cpus = 2 (one JVM
thread + one dedicated Python worker per 2 cores — the executor model;
tc=1 oversubscribes a single box 2:1 and destabilizes runs), Arrow
batch 20k, 16MB scan splits (>=3 tasks/core at every leg), session TZ
UTC.  See bench.py::scaling_bench.
""")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--cluster", action="store_true",
                    help="N vs 4N with real separate executor processes "
                         "(local-cluster[1,8,m] vs local-cluster[4,8,m])")
    ap.add_argument("--versioned", action="store_true",
                    help="flagship pipeline on the mixed-fleet versioned "
                         "corpus vs the frozen corpus (throughput + "
                         "unknown-rate side by side)")
    ap.add_argument("--rows", type=int, default=None)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--mode", choices=["disk", "tmpfs", "both"], default="both",
                    help="scaling legs: disk (production-shaped), tmpfs "
                         "(compute-only: outputs + spark.local.dir on /dev/shm)")
    ap.add_argument("--legs", default="4,8,16,32",
                    help="comma-separated local[N] leg core counts")
    ap.add_argument("--tag", default="",
                    help="suffix for the persisted BENCH/scaling_*.json "
                         "(extra experiments: serial floor, bigger inputs)")
    ap.add_argument("--no-report", action="store_true",
                    help="persist JSON only; BASELINE.md is hand-curated "
                         "from several experiments")
    args = ap.parse_args()
    if args.versioned:
        res = versioned_bench(runs=args.runs, n=args.rows)
        os.makedirs("BENCH", exist_ok=True)
        suffix = f"_{args.tag}" if args.tag else ""
        with open(f"BENCH/versioned{suffix}.json", "w") as f:
            json.dump(res, f)
        print(json.dumps(res))
    elif args.cluster:
        res = cluster_bench(runs=args.runs, n=args.rows)
        os.makedirs("BENCH", exist_ok=True)
        suffix = f"_{args.tag}" if args.tag else ""
        with open(f"BENCH/scaling_cluster{suffix}.json", "w") as f:
            json.dump(res, f)
        print(json.dumps(res))
    elif args.scaling:
        legs = tuple(int(x) for x in args.legs.split(","))
        modes = ["disk", "tmpfs"] if args.mode == "both" else [args.mode]
        suffix = f"_{args.tag}" if args.tag else ""
        by_mode = {}
        for m in modes:
            res = scaling_bench(legs=legs, runs=args.runs, n=args.rows, mode=m)
            os.makedirs("BENCH", exist_ok=True)
            with open(f"BENCH/scaling_{m}{suffix}.json", "w") as f:
                json.dump(res, f)
            by_mode[m] = res
        if not args.no_report:
            # merge with any previously persisted other-mode results so a
            # single-mode rerun refreshes, not erases, the report
            for m in ("disk", "tmpfs"):
                p = f"BENCH/scaling_{m}{suffix}.json"
                if m not in by_mode and os.path.exists(p):
                    by_mode[m] = json.load(open(p))
            write_scaling_report(by_mode)
        print(json.dumps(by_mode))
    else:
        print(json.dumps(default_bench(runs=args.runs)))


if __name__ == "__main__":
    main()
