#!/usr/bin/env python
"""Noise-immune instrument: STEADY-STATE Spark job count per registry row.

Runs each named query twice (run 1 pays builds/memos), counts the job ids
the second run adds via StatusTracker — counts depend only on code, not on
machine load.  Usage: python tools_jobs.py name1,name2,...
Prints one JSON line {name: steady_jobs}.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    names = sys.argv[1].split(",")
    from chat_data_pipeline_spark import get_spark
    from chat_data_pipeline_spark.queries import REGISTRY

    spark = get_spark(
        app_name="cdp-jobcount",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "64")),
    )
    tracker = spark.sparkContext.statusTracker()

    def run(name: str) -> None:
        REGISTRY[name].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    out = {}
    for name in names:
        run(name)  # run 1: builds/memos land
        time.sleep(0.3)
        before = set(tracker.getJobIdsForGroup(None) or [])
        t0 = time.time()
        run(name)  # run 2: steady state
        dt = time.time() - t0
        time.sleep(0.3)
        after = set(tracker.getJobIdsForGroup(None) or [])
        out[name] = {"steady_jobs": len(after - before), "steady_sec": round(dt, 3)}
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
