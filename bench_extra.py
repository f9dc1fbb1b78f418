"""Extra measurement harness for optimization rounds (bench.py is FROZEN
for driver measurement; everything exploratory lives here).

Modes:
  python bench_extra.py --queries q_a,q_b --runs 3 [--sf-dir DIR] [--tag T]
      -> noop-sink per-query timing (same session confs as bench.py's
         default_bench: local[$SPARK_GRAFT_CPUS], task.cpus=2, 16MB
         splits), JSON to BENCH/extra_<tag>.json
  python bench_extra.py --explain --queries ... --out-dir plans/r07 --suffix before
      -> .explain("formatted") per query to <out-dir>/<q>_<suffix>.txt
  python bench_extra.py --pipeline --runs 2
      -> flagship pipeline timing with run_pipeline's internal
         route_sec/metrics_sec split surfaced
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import (  # noqa: E402
    CPUS, SF_DIR, _median_of_clean, _settle, _sf_of, ensure_corpus,
    host_probe, pipeline_rows,
)


def _session():
    from logparse_spark.session import get_spark

    return get_spark(
        app_name="bench-extra", cores=CPUS,
        extra={"spark.sql.files.maxPartitionBytes": "16m",
               "spark.task.cpus": "2"},
    )


def query_bench(names: list[str], runs: int, sf_dir: str) -> dict:
    import __spark_entry__ as entrymod

    spark = _session()
    qs = {**entrymod.retired_queries(), **entrymod.queries()}
    pre = host_probe()
    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        ts = []
        for _ in range(runs):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
        med, disc = _median_of_clean(ts)
        out[name] = {"median": round(med, 3), "runs": ts, "discarded": disc}
        spark.sparkContext.setJobDescription(None)
    post = host_probe()
    spark.stop()
    return {"sf_dir": sf_dir, "cpus": CPUS, "runs_per_leg": runs,
            "queries": out, "host": {"pre": pre, "post": post}}


def dump_explains(names: list[str], sf_dir: str, out_dir: str, suffix: str) -> None:
    import __spark_entry__ as entrymod

    spark = _session()
    qs = {**entrymod.retired_queries(), **entrymod.queries()}
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {out_dir}/{name}_{suffix}.txt")
    spark.stop()


def pipeline_bench(runs: int, sf_dir: str) -> dict:
    from logparse_spark.main import run_pipeline

    spark = _session()
    n = pipeline_rows(_sf_of(sf_dir))
    corpus = ensure_corpus(spark, n)
    seq = spark.read.parquet(corpus).drop("bucket")
    legs = []
    for i in range(runs + 1):  # leg 0 is the warm-up
        out = f"/tmp/lp_bx_out_{i}"
        shutil.rmtree(out, ignore_errors=True)
        os.sync()
        probe = _settle() if i >= 1 else host_probe()
        t0 = time.time()
        m = run_pipeline(spark, seq, out, n_buckets=None, resume=False)
        legs.append({
            "wall": round(time.time() - t0, 2),
            "route_sec": m.get("route_sec"),
            "metrics_sec": m.get("metrics_sec"),
            "rows": int(m["routed_rows"]),
            "warmup": i == 0,
            "pre_probe": probe,
        })
    spark.stop()
    timed = [x["wall"] for x in legs if not x["warmup"]]
    med, disc = _median_of_clean(timed)
    return {"rows": n, "cpus": CPUS, "median": med, "legs": legs,
            "discarded": disc}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--tag", default="")
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--out-dir", default="plans/r07")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--pipeline", action="store_true")
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q]
    if args.explain:
        dump_explains(names, args.sf_dir, args.out_dir, args.suffix)
        return
    if args.pipeline:
        res = pipeline_bench(args.runs, args.sf_dir)
    else:
        res = query_bench(names, args.runs, args.sf_dir)
    if args.tag:
        os.makedirs("BENCH", exist_ok=True)
        with open(f"BENCH/extra_{args.tag}.json", "w") as f:
            json.dump(res, f, indent=1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
