#!/usr/bin/env python
"""Capture .explain('formatted') for named registry queries into
<out_dir>/<name>_<tag>.txt (tag = before/after).  Builds run as needed
(memoized per process), so the captured plan is the steady-state plan the
bench times.  Usage: python tools_explain.py <out_dir> <tag> name1,name2,...
(e.g. ``python tools_explain.py plans/r18 after embedding_neardup_lsh_md5``)"""
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",")
    from chat_data_pipeline_spark import get_spark
    from chat_data_pipeline_spark.queries import REGISTRY

    spark = get_spark(
        app_name="cdp-explain",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "64")),
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
