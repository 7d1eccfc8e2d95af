"""Per-query profile: split wall time into plan construction (driver,
lazy fn call) vs execution (noop sink), and count Spark jobs per run —
the job count is the per-round/materialization census that tells you
whether an iterative operator is paying extra passes.  Runs on any
$SPARK_GRAFT_SF_DIR, scaled dirs included.  Usage:

    python scripts/profile_query.py p102_dedup_report p59_pagerank
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import REPS, SF_DIR, drop_persisted_rdds, start_session  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: profile_query.py <query-name> [...]")

    spark = start_session("spear_spark_profile")
    qs = entry_mod.queries()
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in names:
        fn = qs[name]
        plan_ts, exec_ts, jobs = [], [], []
        for _ in range(REPS):
            j0 = len(tracker.getJobIdsForGroup(None))
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            j1 = len(tracker.getJobIdsForGroup(None))
            plan_ts.append(round(t1 - t0, 3))
            exec_ts.append(round(t2 - t1, 3))
            jobs.append(j1 - j0)
            drop_persisted_rdds(spark)
        out[name] = {
            "plan_s": statistics.median(plan_ts),
            "exec_s": statistics.median(exec_ts),
            "jobs": statistics.median(jobs),
            "plan_runs": plan_ts,
            "exec_runs": exec_ts,
        }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
