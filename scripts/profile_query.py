#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds (guide §1).

Runs ONE registered query at $SPARK_GRAFT_SF_DIR with the bench's exact
methodology (2 untimed warm-ups + best-of-N noop-sink reps), then prints:

  - per-rep wall times and the best-of-N;
  - the per-JOB breakdown of the final timed rep (job description,
    duration, stage count) from the Spark UI REST API — this is how a
    1.4 s query decomposes into its actions/stages;
  - per-stage detail (name, duration, tasks, shuffle bytes) for stages
    above 50 ms.

Usage: python scripts/profile_query.py <query_name> [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.load(r)


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from etl_showcase_spark.caching import release_all
    from etl_showcase_spark.registry import queries
    from etl_showcase_spark.session import default_cpus, get_spark

    cpus = default_cpus()

    spark = get_spark(
        app_name="etl-showcase-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4049"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn = queries()[name]

    # mirror bench.py warmup: catalog + python worker pool
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()

    for _ in range(2):
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    times = []
    for rep in range(reps):
        first_job_before = None
        if rep == reps - 1:
            # remember the job frontier so the last rep's jobs can be
            # isolated. Frontier and post-run listing both come from the
            # REST /jobs endpoint (r14, ADVICE): statusTracker
            # .getJobIdsForGroup(None) only returns jobs with NO job
            # group set, so any code path that labels its jobs would
            # make the frontier too low and let warm-up jobs pollute
            # the final-rep breakdown.
            app_id = spark.sparkContext.applicationId
            rest_base = f"http://localhost:4049/api/v1/applications/{app_id}"
            ids = [j["jobId"] for j in _rest(rest_base, "/jobs")]
            first_job_before = max(ids) if ids else -1
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
    release_all()

    print(f"\n=== {name} @ {sf_dir} reps={times} best={min(times):.3f}s ===")

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4049/api/v1/applications/{app_id}"
    jobs = _rest(base, "/jobs")
    jobs = [j for j in jobs if j["jobId"] > (first_job_before if first_job_before is not None else -1)]
    jobs.sort(key=lambda j: j["jobId"])
    print(f"\n-- jobs in final rep: {len(jobs)}")
    stage_to_job = {}
    for j in jobs:
        sub = j.get("submissionTime", "?")
        dur = "?"
        if "completionTime" in j and "submissionTime" in j:
            from datetime import datetime

            f = "%Y-%m-%dT%H:%M:%S.%f%Z"
            try:
                dur = (
                    datetime.strptime(j["completionTime"], f)
                    - datetime.strptime(j["submissionTime"], f)
                ).total_seconds()
                dur = f"{dur:.3f}s"
            except Exception:
                pass
        print(
            f"  job {j['jobId']}: {dur}  stages={len(j.get('stageIds', []))} "
            f"desc={j.get('description', j.get('name', ''))[:110]}"
        )
        for sid in j.get("stageIds", []):
            stage_to_job[sid] = j["jobId"]

    stages = _rest(base, "/stages?status=complete")
    mine = [s for s in stages if s["stageId"] in stage_to_job]
    mine.sort(key=lambda s: s["stageId"])
    print(f"\n-- stages of final rep (>= 30ms):")
    for s in mine:
        from datetime import datetime

        f = "%Y-%m-%dT%H:%M:%S.%f%Z"
        try:
            dur = (
                datetime.strptime(s["completionTime"], f)
                - datetime.strptime(s["firstTaskLaunchedTime"], f)
            ).total_seconds()
        except Exception:
            dur = -1
        if dur < 0.03:
            continue
        print(
            f"  stage {s['stageId']} (job {stage_to_job[s['stageId']]}): {dur:.3f}s "
            f"tasks={s['numCompleteTasks']} "
            f"in={s['inputBytes']} sr={s['shuffleReadBytes']} sw={s['shuffleWriteBytes']} "
            f"| {s['name'][:90]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
