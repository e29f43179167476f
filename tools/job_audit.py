"""Count and time the Spark JOBS a registry query runs (guide §1/§5).

The commit/stream scenario rows are CPU-insensitive (8-core ≈ 32-core,
PERF r15 scaling block): their wall is per-job fixed cost — scheduling,
AQE re-planning, py4j — times the number of tiny jobs. This tool makes
that number visible: it runs a query once warm, then fetches the UI
REST API's job list for the timed run and prints one line per job
(duration, task count, stages, call-site name) plus the gap between
job wall-sum and query wall (= pure driver-side time).

Usage: python tools/job_audit.py <query> [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get(url: str):
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read().decode())


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    import __spark_entry__ as entry_mod
    from hudi_glue_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "job_audit", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn = entry_mod.queries()[name]
    # codegen warm on the smallest scale factor beside sf_dir, if any
    warm_dir = os.path.join(
        os.path.dirname(os.path.normpath(sf_dir)), "sf0.001"
    )
    if os.path.isdir(warm_dir):
        fn(spark, warm_dir).count()
    fn(spark, sf_dir).count()  # fixture caches warm

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    before = _get(f"{base}/api/v1/applications/{app}/jobs?status=succeeded")
    lo = max((j["jobId"] for j in before), default=-1)

    t0 = time.perf_counter()
    n = fn(spark, sf_dir).count()
    wall = time.perf_counter() - t0

    jobs = [
        j
        for j in _get(f"{base}/api/v1/applications/{app}/jobs")
        if j["jobId"] > lo
    ]
    jobs.sort(key=lambda j: j["jobId"])
    total_job_s = 0.0
    print(f"query={name} rows={n} wall={wall:.3f}s jobs={len(jobs)}")
    for j in jobs:
        t_sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
        dur = None
        if j.get("completionTime"):
            from datetime import datetime

            sub = datetime.strptime(
                j["submissionTime"][:23], "%Y-%m-%dT%H:%M:%S.%f"
            )
            comp = datetime.strptime(
                j["completionTime"][:23], "%Y-%m-%dT%H:%M:%S.%f"
            )
            dur = (comp - sub).total_seconds()
            total_job_s += dur
        _ = t_sub
        desc = (j.get("description") or j.get("name") or "")[:90]
        print(
            f"  job {j['jobId']:>4}  {dur if dur is not None else -1:7.3f}s"
            f"  tasks={j['numTasks']:<4} stages={len(j['stageIds'])}"
            f"  {desc}"
        )
    print(
        f"job wall sum={total_job_s:.3f}s  driver-side gap="
        f"{wall - total_job_s:.3f}s ({100 * (wall - total_job_s) / wall:.0f}%"
        f" of wall)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
