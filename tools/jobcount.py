"""Job-count evidence for barrier-fusion claims (VERDICT r17 "what's
wrong" #6: `.explain` cannot see job/barrier counts — a checkpointed-RDD
scan plans identically before and after a barrier cut).

Runs each named registry query once under its own job group and reports
how many Spark JOBS the full build+execute needed (statusTracker —
public monitoring API), plus the wall. Use before/after a fusion change:
the job count is the thing the change claims to move.

Usage: python tools/jobcount.py [--sf-dir DIR] name [name...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_analysis_bigdata_spark.queries import all_queries  # noqa: E402
from log_analysis_bigdata_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark(app_name="jobcount")
    registry = all_queries()
    spark.range(1000).count()  # JVM warmup outside any measured group
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(1000).repartition(32).select(_warm(col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()

    sc = spark.sparkContext
    out = {}
    for name in args.names:
        runs = []
        for p in range(args.passes):
            group = f"jobcount:{name}:{p}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = registry[name].spark(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            jids = sc.statusTracker().getJobIdsForGroup(group)
            runs.append({"jobs": len(jids), "wall": round(wall, 3)})
        out[name] = runs
        print(name, runs, file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
