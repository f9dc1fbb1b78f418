"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload fresh_zipf --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout.  It starts ``local[nproc]``, builds
a seeded corpus with ``sources.datagen.write_sequences``, runs the
workload's checked warm-up (if any), then repeats the workload's timed
``run_pipeline`` call for ``--seconds`` and checks every output against
``logparse_spark.oracle``.  ``--trace 0`` prints the
end-to-end metrics named in BENCHMARK.json; ``--trace 1`` adds a traced
pass and prints the per-layer metrics and the layer table.

Everything it writes goes under the work root (see host.py); a snapshot
of the rest of the checkout taken before and after fails the run if
anything else changed.  Each run leaves a JSON record (resolved confs,
host probes, every raw sample) in ``<work root>/records/``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # before anything is imported from the checkout

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

ROWS = 3_000    # corpus rows, shared by both workloads
SETUPS = 3      # warm session set-ups per run; setup_s is their median
SETTLE_MAX_S = 10  # longest untimed wait for a quiet disk before a timed run


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _sample_record(s) -> dict:
    return {"seconds": s.seconds, "check_s": s.check_s, "rows": s.rows, "ok": s.ok,
            "sink_files": s.sink_files, "sink_dirs": s.sink_dirs,
            "problems": s.problems, "error": s.error, "metrics": s.metrics}


def _settle(record: dict, key: str, run_dir: str) -> None:
    """Drain writeback and wait (bounded, untimed) for the disk to absorb
    a 4 MB fsync quickly before a timed run: the first run after the
    corpus write otherwise rides the tail of its writeback.  The last
    probe goes into the run record."""
    import bench

    record.setdefault("settle_probes", {})[key] = bench._settle(
        max_wait_s=SETTLE_MAX_S, probe_dir=run_dir)


def _measure(wl, seconds: float) -> list:
    """Timed samples until ``seconds`` of wall time have passed and the
    workload has its ``min_samples``."""
    from perfbench.workloads import attempt

    samples = []
    t_end = time.perf_counter() + seconds
    while len(samples) < wl.min_samples or time.perf_counter() < t_end:
        samples.append(attempt(wl.run_once))
    return samples


def _traced_pass(session, wl, run_dir: str, record: dict) -> tuple[dict, list]:
    """One untraced reference run, then the same run traced, then the
    layer prefixes.  The reference run follows the timed samples, so it
    is as warm as the traced run that follows it: their difference is
    the tracing overhead, not the warm-up."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from logparse_spark.engine import parse_sequences
    from perfbench import trace
    from perfbench.corpus import n_buckets_of
    from perfbench.workloads import attempt

    _settle(record, "reference", run_dir)
    reference = attempt(wl.run_once)
    untraced_wall = reference.seconds
    events = os.path.join(run_dir, "events")
    session.start(extra=trace.eventlog_confs(events))
    spark = session.spark
    # the restart stopped the Python workers; respawn them untimed so the
    # traced sample does not pay for it
    spark.sparkContext.setJobGroup("warmup", "warmup")
    parse_sequences(wl.corpus.frame(spark)).write.format("noop").mode("overwrite").save()
    _settle(record, "traced", run_dir)
    spark.sparkContext.setJobGroup("main", "main")
    traced = attempt(wl.run_once)
    layers = trace.layer_prefixes(spark, wl, n_buckets_of(wl.out), os.path.join(run_dir, "layers"))
    traced.problems += trace.check_route(layers, traced)
    arrow_schema = to_arrow_schema(parse_sequences(wl.corpus.frame(spark)).schema)
    session.stop()  # flushes and closes the event log
    layers.update(trace.spark_metrics(events))
    layers.update(trace.kernel_times(wl.corpus.seed, arrow_schema))
    m = traced.metrics
    layers["main.wall_s"] = traced.seconds
    layers["main.route_s"] = float(m.get("route_sec", math.nan))
    layers["main.metrics_s"] = float(m.get("metrics_sec", math.nan))
    layers["main.other_s"] = traced.seconds - layers["main.route_s"] - layers["main.metrics_s"]
    layers["trace.overhead_s"] = traced.seconds - untraced_wall
    layers["layers.sum_s"] = sum(layers[k] for k in trace.SELF_TIMES)
    layers["layers.coverage"] = layers["layers.sum_s"] / untraced_wall
    layers["engine.share"] = layers["engine.s"] / untraced_wall
    print(f"per-layer table ({wl.name}, seed {wl.corpus.seed})\n"
          + trace.layer_table(layers, untraced_wall), flush=True)
    return layers, [reference, traced]


def run(args) -> int:
    from perfbench import host

    if not os.path.isdir(os.path.join(ROOT, "logparse_spark")):
        print("perfbench: no logparse_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    spec = _spec()
    work = host.work_root(ROOT)
    records = os.path.join(work, "records")
    os.makedirs(records, exist_ok=True)
    before = host.tree_snapshot(ROOT, exclude=work)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = host.prepare_process_env(ROOT, run_dir)

    import bench
    from perfbench.corpus import build_corpus
    from perfbench.workloads import WORKLOADS

    cores = host.host_cores()
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "rows": ROWS, "nproc": cores, "env": env,
                    "host_probe_pre": bench.host_probe(probe_dir=run_dir)}
    t_start = time.perf_counter()
    phases = record["phases_s"] = {}

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - t_start

    sampler = host.RssSampler().start()
    session = host.Session(run_dir, cores)
    try:
        cold = session.start()
        # restart before any job: the corpus job's Python workers then
        # survive into the first pipeline run
        setups = [session.start() for _ in range(SETUPS)]
        record.update(session_cold_s=cold, setups_s=setups,
                      resolved_confs=session.resolved_confs())
        phase("session")
        corpus = build_corpus(session.spark, run_dir, ROWS, args.seed)
        phase("corpus")
        wl = WORKLOADS[args.workload](session, corpus, run_dir)
        warm = wl.prepare()
        phase("warmup")
        _settle(record, "measure", run_dir)
        phase("settle")
        sampler.reset()
        jiffies = host.cpu_jiffies()
        samples = _measure(wl, args.seconds)
        peak_mb = sampler.peak_mb()
        record["peak_procs"] = sampler.peak_procs
        record["steal_frac_measure"] = host.steal_frac(jiffies, host.cpu_jiffies())
        phase("measure")
        good = [s for s in samples if s.ok]
        timed = good or [s for s in samples if not math.isnan(s.seconds)]
        if not timed:
            raise RuntimeError("every timed sample raised:\n" + samples[-1].error)
        wall = statistics.median(s.seconds for s in timed)
        layers, traced = {}, []
        if args.trace:
            layers, traced = _traced_pass(session, wl, run_dir, record)
            phase("traced")
            layers.update(host.pss_split(record["peak_procs"]))
            layers["session.cold_s"] = cold
            layers["session.warm_s"] = statistics.median(setups)
    finally:
        session.close()
        sampler.stop()
        record["stragglers_killed"] = host.wait_children_gone()
        os.chdir(ROOT)
        record["host_probe_post"] = bench.host_probe(probe_dir=work)
        shutil.rmtree(run_dir, ignore_errors=True)
        phase("shutdown")

    runs = warm + samples + traced
    failed = sum(not s.ok for s in runs)
    e2e = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        # corpus rows covered per second: resume_tail re-parses only its
        # tail, but its frontier, scan and commit span the whole corpus
        "rows_per_s": statistics.median(ROWS / s.seconds for s in timed),
        "ok_frac": 1 - failed / len(runs),
        "peak_rss_mb": peak_mb,
    }
    record.update(warmups=[_sample_record(s) for s in warm],
                  samples=[_sample_record(s) for s in samples],
                  traced=[_sample_record(s) for s in traced],
                  end_to_end=e2e, per_layer=layers, failed_frac=failed / len(runs),
                  wall_samples=len(timed))
    changed = host.snapshot_diff(before, host.tree_snapshot(ROOT, exclude=work))
    record["checkout_changes"] = changed
    path = os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"perfbench: record {path}", file=sys.stderr)
    for s in runs:
        if not s.ok:
            print(f"perfbench: failed run: {s.problems or s.error}", file=sys.stderr)
    if changed:
        print("perfbench: the run changed the checkout outside the work root:\n  "
              + "\n  ".join(changed[:20]), file=sys.stderr)
        return 3

    values = layers if args.trace else e2e
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    print(f"wall_s median of {len(timed)} samples: {[round(s.seconds, 3) for s in samples]}", flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(runs), "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["fresh_zipf", "resume_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
