"""Stage decomposition of q_dedup_simhash (noop-isolated, warm).

Legs:
  A  _spread + explode words + md5/conv hv   -> noop
  B  A + 60-counter bitsum groupBy(id)            -> noop
  C  B + sh reconstruction (simhash_sql output)   -> noop
  D  full simhash_near_dups (localCheckpoint + chunk self-join + verify)

Usage: python tools/profile_simhash.py [sf_dir] [runs]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from logparse_spark.operators import dedup  # noqa: E402
from logparse_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(
        app_name="profile-simhash",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        extra={"spark.sql.files.maxPartitionBytes": "16m",
               "spark.task.cpus": "2"},
    )
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))

    def leg_a():
        words = F.filter(
            F.split(F.lower(F.trim(F.col("_t"))), r"\s+"), lambda w: w != "")
        hv = F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10).cast("bigint")
        return (dedup._spread(docs, F.col("doc_id").alias("id"), F.col("text").alias("_t"))
                .select("id", F.explode(words).alias("word"))
                .withColumn("hv", hv))

    def leg_b():
        aggs = [F.sum(F.when(F.shiftright(F.col("hv"), j).bitwiseAND(F.lit(1)) == 1,
                             1).otherwise(-1)).alias(f"s{j}") for j in range(60)]
        return leg_a().groupBy("id").agg(*aggs)

    def leg_c():
        return dedup.simhash_sql(docs)

    def leg_d():
        return dedup.simhash_near_dups(docs)

    legs = {"A_explode_hv": leg_a, "B_bitsum_agg": leg_b,
            "C_simhash_sql": leg_c, "D_full_near_dups": leg_d}
    out = {}
    for name, fn in legs.items():
        spark.sparkContext.setJobDescription(f"simhash:{name}")
        ts = []
        for _ in range(runs + 1):  # first run is warm-up
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
        out[name] = {"warm": ts[0], "timed": ts[1:]}
        print(name, out[name], flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
