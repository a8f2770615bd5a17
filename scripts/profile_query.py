#!/usr/bin/env python
"""Per-query profiling probe (optimization round): run one or more
declared queries through the noop sink with warm memos and report
wall-clock plus the Spark job list (count, per-job duration) so the
fixed-cost structure (job launches, broadcast builds, barriers) is a
number instead of a guess.

Usage: python scripts/profile_query.py <name> [<name> ...] [--passes N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_hits_spark import queries as q
from bigdata_hits_spark.session import get_spark


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Wall time and Spark jobs per pass of declared queries.")
    ap.add_argument("names", nargs="+", help="declared query names")
    ap.add_argument("--passes", type=int, default=3, help="passes per query (default 3)")
    return ap.parse_intermixed_args(argv)


def main() -> None:
    args = parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark("profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    tracker = spark.sparkContext.statusTracker()
    for name in args.names:
        fn = registry[name]
        for p in range(args.passes):
            jobs_before = set(tracker.getJobIdsForGroup(None) or [])
            spark.sparkContext.setJobDescription(f"{name} pass {p}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            jobs_after = set(tracker.getJobIdsForGroup(None) or [])
            new_jobs = sorted(jobs_after - jobs_before)
            print(f"== {name} pass {p}: {wall:.3f}s, {len(new_jobs)} jobs")
            if p == args.passes - 1:
                for j in new_jobs:
                    info = tracker.getJobInfo(j)
                    if info is None:
                        continue
                    stages = []
                    for sid in info.stageIds:
                        si = tracker.getStageInfo(sid)
                        if si:
                            stages.append(f"s{sid}:{si.numTasks}t")
                    print(f"   job {j} [{info.status}] stages={' '.join(stages)}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
