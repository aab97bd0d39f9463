"""Optimization probe (round 13): for each named query, run it twice
(cold-in-session then warm) the way bench.py times it (toArrow), and
record wall, Spark job count, and the formatted physical plan.

Usage: python tools/opt_probe.py OUTDIR [query ...]
Writes OUTDIR/<query>_plan.txt and prints a JSON summary line per query.
Job count delta comes from the status tracker's job IDs.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path


def main() -> int:
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from weather_data_ingestion_gcp_spark.plans import QUERIES
    from weather_data_ingestion_gcp_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("opt_probe")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    for w in ("daily_rollup_events", "tpch_q6_forecast_revenue"):
        QUERIES[w](spark, sf_dir).collect()

    tracker = spark.sparkContext.statusTracker()

    def job_count() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    for name in names:
        spark.sparkContext.setJobDescription(f"probe:{name}")
        j0 = job_count()
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        n = df.toArrow().num_rows
        cold = round(time.time() - t0, 3)
        j1 = job_count()
        t0 = time.time()
        df2 = QUERIES[name](spark, sf_dir)
        df2.toArrow()
        warm = round(time.time() - t0, 3)
        j2 = job_count()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_plan.txt"), "w") as f:
            f.write(plan)
        print(
            json.dumps(
                {
                    "q": name,
                    "cold_s": cold,
                    "warm_s": warm,
                    "jobs_cold": j1 - j0,
                    "jobs_warm": j2 - j1,
                    "rows": n,
                    "exchanges": plan.count("Exchange"),
                    "scans": plan.count("Scan parquet"),
                }
            ),
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
