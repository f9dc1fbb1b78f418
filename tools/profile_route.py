"""Decompose the pipeline's route phase (r7 measurement aid).

Times, in one session over the same pre-materialized corpus:
  A. scan + parse + enrich + bucket -> noop    (no shuffle, no write)
  B. A + rebalance shuffle          -> noop    (adds the clustering exchange)
  C. full route write to a throwaway dir       (adds the partitionBy write)

Usage: python tools/profile_route.py [corpus_dir] [runs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _settle, host_probe  # noqa: E402


def main() -> None:
    import shutil

    from logparse_spark.engine import parse_sequences
    from logparse_spark.operators.enrich import enrich, rules_dim
    from logparse_spark.operators.route import SINK_PARTITIONS, route, with_bucket
    from logparse_spark.session import get_spark
    from logparse_spark.sources.datagen import nodes_dim

    corpus = sys.argv[1] if len(sys.argv) > 1 else "data/bench_seq_20000000_v3"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="profile-route", cores=cpus,
                      extra={"spark.sql.files.maxPartitionBytes": "16m",
                             "spark.task.cpus": "2"})
    seq = spark.read.parquet(corpus).drop("bucket")

    def build():
        parsed = parse_sequences(seq)
        enriched = enrich(parsed, nodes_dim(spark), rules_dim(spark))
        return with_bucket(enriched, 4)

    def t(label, fn):
        for i in range(runs):
            os.sync()
            _settle(max_wait_s=60)
            t0 = time.time()
            fn(i)
            print(f"{label:28s} run{i} {time.time() - t0:8.2f}s", flush=True)

    # warm-up: one full parse pass
    spark.sparkContext.setJobDescription("warmup")
    build().write.format("noop").mode("overwrite").save()

    spark.sparkContext.setJobDescription("A: parse+enrich noop")
    t("A parse+enrich noop", lambda i: build().write.format("noop").mode("overwrite").save())

    spark.sparkContext.setJobDescription("B: + rebalance shuffle")
    t("B +rebalance noop", lambda i: build().hint("rebalance", *SINK_PARTITIONS)
      .write.format("noop").mode("overwrite").save())

    def full_route(i):
        out = f"/tmp/lp_profroute_{i}"
        shutil.rmtree(out, ignore_errors=True)
        route(build(), out, n_buckets=4, cluster="rebalance",
              overwrite_mode="static")

    spark.sparkContext.setJobDescription("C: full route write")
    t("C full route write", full_route)
    print("host:", host_probe(), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
