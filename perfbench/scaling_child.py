"""One pinned Spark session for the local[2] vs local[4] scaling probe.

Started by ``run.py`` under ``taskset``; it sets up a session with
``--cores`` slots, then reads commands from stdin: ``run`` times one
noop-sink extract (``extract_pages(assign_splits(...))``) over the
input and prints ``{"wall_s": ...}``; ``quit`` stops the session and
exits. The parent interleaves the two levels rep by rep.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--input", required=True)
    args = ap.parse_args()

    from ragflow_spark.session import get_spark
    from run import extract_job, hot_hosts, shutdown_jvm, warm_workers

    spark = get_spark("perfbench-scaling", cores=args.cores)
    warm_workers(spark, args.cores)
    pages = spark.read.parquet(args.input)
    job = extract_job(pages, hot_hosts(pages))
    print("ready", flush=True)
    for line in sys.stdin:
        if line.strip() != "run":
            break
        t = time.perf_counter()
        job.write.format("noop").mode("overwrite").save()
        print(json.dumps({"wall_s": time.perf_counter() - t}), flush=True)
    shutdown_jvm(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
