"""Per-query stage-level profiler (optimization rounds).

Runs one or more registered queries with the noop sink in a session
built by session.get_spark()'s own builder with the UI enabled,
then dumps per-job / per-stage wall-clock, task time, shuffle bytes and
row counts from the UI REST API. This is the guide's "empirical"
measurement loop (spark_optimization_guide.md section 1.1 / 7.1) in a
headless box: the stage table is what the Stages tab would show.

Usage:
  python tools/profile_query.py [--sf SF_DIR] [--repeat N] query [query...]

Prints, per query: total wall, then each job (description, duration)
and each stage (name, duration, task count, shuffle read/write MB,
input MB, records). Stages sorted by duration within a job.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_building_inspector_spark.session import session_builder, start  # noqa: E402


def get_spark_with_ui(app_name: str = "profile"):
    """session.get_spark()'s session, plus the UI for the REST API."""
    return start(
        session_builder(app_name)
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4055")
    )


def api(path: str):
    url = f"http://localhost:4055/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--min-stage-ms", type=int, default=30)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from etl_building_inspector_spark.operators._cache import release_persisted
    from etl_building_inspector_spark.plans.registry import QUERIES

    spark = get_spark_with_ui()
    # warm the JVM the same way bench.py does
    spark.read.parquet(os.path.join(args.sf, "region.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()

    app_id = spark.sparkContext.applicationId

    for name in args.queries:
        for it in range(args.repeat):
            jobs_before = {j["jobId"] for j in api(f"applications/{app_id}/jobs")}
            spark.sparkContext.setJobDescription(f"{name}#r{it}")
            t0 = time.time()
            df = QUERIES[name](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            release_persisted()
            spark.sparkContext.setJobDescription(None)

            jobs = [
                j
                for j in api(f"applications/{app_id}/jobs")
                if j["jobId"] not in jobs_before
            ]
            jobs.sort(key=lambda j: j["jobId"])
            print(f"\n=== {name} run{it}: wall {wall:.3f}s, {len(jobs)} jobs ===")
            stages = {
                s["stageId"]: s
                for s in api(f"applications/{app_id}/stages?status=complete")
            }
            for j in jobs:
                t_sub = j.get("submissionTime", "")
                t_done = j.get("completionTime", "")
                dur = ""
                try:
                    from datetime import datetime

                    fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
                    dur = (
                        datetime.strptime(t_done, fmt)
                        - datetime.strptime(t_sub, fmt)
                    ).total_seconds()
                    dur = f"{dur:7.3f}s"
                except Exception:
                    dur = "?"
                desc = (j.get("description") or "")[:60]
                print(f"job {j['jobId']:4d} {dur}  tasks={j['numCompletedTasks']:4d}  {desc}")
                for sid in sorted(j.get("stageIds", [])):
                    s = stages.get(sid)
                    if not s:
                        continue
                    sdur = s.get("executorRunTime", 0)
                    # wall duration of the stage
                    try:
                        from datetime import datetime

                        fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
                        swall = (
                            datetime.strptime(s["completionTime"], fmt)
                            - datetime.strptime(s["firstTaskLaunchedTime"], fmt)
                        ).total_seconds() * 1000
                    except Exception:
                        swall = -1
                    if swall < args.min_stage_ms:
                        continue
                    nm = s["name"].split("\n")[0][:70]
                    print(
                        f"   stage {sid:4d} wall={swall/1000:7.3f}s taskTime={sdur/1000:7.1f}s "
                        f"n={s['numCompleteTasks']:4d} in={s.get('inputBytes',0)/1e6:8.1f}MB "
                        f"sr={s.get('shuffleReadBytes',0)/1e6:7.1f}MB sw={s.get('shuffleWriteBytes',0)/1e6:7.1f}MB "
                        f"recs={s.get('outputRecords',0) or s.get('shuffleWriteRecords',0):>9} {nm}"
                    )


if __name__ == "__main__":
    main()
