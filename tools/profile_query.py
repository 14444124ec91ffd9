#!/usr/bin/env python
"""Per-job/stage profile of registry queries (optimization harness).

Runs each named query with the bench trigger, then dumps every Spark
job/stage it spawned (duration, shuffle bytes, task count) from the
REST API. Usage:

    python tools/profile_query.py <name> [name...]

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: profile_query.py <query> [query...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hortacloud_importer_spark.session import spark_builder

    spark = (
        spark_builder("profile-query")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4058")
        .getOrCreate()
    )
    from hortacloud_importer_spark.registry import all_queries

    import bench

    specs = all_queries()
    sc = spark.sparkContext
    base = sc.uiWebUrl
    app = sc.applicationId

    def rest(path: str):
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}", timeout=30) as fh:
            return json.loads(fh.read())

    # warm JVM + parquet footers
    bench._trigger(specs[names[0]].fn(spark, sf_dir), names[0])

    for name in names:
        jobs_before = {j["jobId"] for j in rest("jobs")}
        sc.setJobDescription(f"profile:{name}")
        t0 = time.time()
        bench._trigger(specs[name].fn(spark, sf_dir), name)
        wall = time.time() - t0
        sc.setJobDescription(None)
        time.sleep(0.3)
        jobs = [j for j in rest("jobs") if j["jobId"] not in jobs_before]
        stages = {s["stageId"]: s for s in rest("stages?status=complete")}
        print(f"\n=== {name}: wall {wall:.3f}s, {len(jobs)} jobs ===")
        tot_stage_ms = 0
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            sub = j.get("submissionTime", "")
            comp = j.get("completionTime", "")
            dur = ""
            try:
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                d = (
                    datetime.strptime(comp, fmt) - datetime.strptime(sub, fmt)
                ).total_seconds()
                dur = f"{d:7.3f}s"
            except Exception:
                dur = "      ?"
            print(f"  job {j['jobId']:>4} {dur}  tasks={j.get('numCompletedTasks', '?'):>4}")
            for sid in j.get("stageIds", []):
                s = stages.get(sid)
                if not s:
                    continue
                ms = s.get("executorRunTime", 0)
                tot_stage_ms += ms
                srb = s.get("shuffleReadBytes", 0) / 1048576
                swb = s.get("shuffleWriteBytes", 0) / 1048576
                inb = s.get("inputBytes", 0) / 1048576
                nm = s.get("name", "")[:70]
                print(
                    f"    stage {sid:>4} exec={ms/1000.0:7.3f}s tasks={s.get('numCompleteTasks', 0):>4}"
                    f" in={inb:8.1f}M sr={srb:8.1f}M sw={swb:8.1f}M  {nm}"
                )
        print(f"  total executor run time: {tot_stage_ms/1000.0:.3f}s (x{int(os.environ['SPARK_GRAFT_CPUS'])} cores)")


if __name__ == "__main__":
    main()
