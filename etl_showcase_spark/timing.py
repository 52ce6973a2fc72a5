"""One timing harness for bench.py and the scripts.

``session`` builds the measuring session; ``time_runs`` times one
zero-argument action. The methodology, in one place:

- Warm-ups run the identical plan, untimed. The expression-heavy
  queries (MinHash's array_min(transform) chains) generate huge codegen
  methods that HotSpot only reaches steady state on after several
  executions; timing those early runs reports C2/GC jitter, not query
  cost. So the bench uses 2 warm-ups, and min() of the timed reps is
  the steady-state number a long-running cluster would see.
- A DataFrame returned by the action is forced through the noop sink:
  the full computation runs, with no collect or write cost on top.
- The first run's shuffle, spill and input bytes are metered from the
  status store (``observability``, no extra job). That run is cold (no
  per-query persisted cache warm yet), the same conditioning under
  which tests/test_pipeline_integrity.py's SHUFFLE_BUDGETS are pinned.
- Operator caches are per query: ``caching.release_all()`` runs after
  every call, so one query's persisted frames never stay alive through
  the next query's timings.
- The final timed rep's jobs and stages are read from the driver's
  status store as well, which works with the UI (and its port) off.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession

from etl_showcase_spark import caching, observability
from etl_showcase_spark.session import get_spark


def session(app_name: str, sf_dir: str) -> SparkSession:
    """A UI-less session at the default width, with the one-time costs
    paid up front: the JVM/catalog warm scan, and one tiny mapInPandas
    so the Python worker pool and Arrow are spawned before any timed
    query."""
    spark = get_spark(app_name, extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()
    return spark


@dataclass
class Runs:
    reps: list[float] = field(default_factory=list)  # seconds, run order
    shuffle: observability.ShuffleStats | None = None  # first run, cold
    error: str | None = None  # the action's exception; reps before it kept
    jobs: list[dict] = field(default_factory=list)  # final timed rep
    stages: list[dict] = field(default_factory=list)  # final timed rep

    @property
    def best(self) -> float | None:
        return min(self.reps) if self.reps else None


def time_runs(
    spark: SparkSession, run: Callable[[], Any], warmups: int = 2, reps: int = 4
) -> Runs:
    """Call ``run`` ``warmups`` times untimed, then ``reps`` times timed.
    An exception ends the calls without raising: the reps that completed
    stay, so a late failure never makes a total look faster than a
    healthy run."""
    out = Runs()
    try:
        for i in range(warmups + reps):
            pre = observability.snapshot(spark) if i == 0 else None
            since = time.time()
            t0 = time.perf_counter()
            df = run()
            if df is not None:
                df.write.mode("overwrite").format("noop").save()
            took = time.perf_counter() - t0
            if pre is not None:
                out.shuffle = observability.delta(pre, observability.snapshot(spark))
            if i >= warmups:
                out.reps.append(took)
        if reps:
            out.jobs, out.stages = _jobs_since(spark, since)
    except Exception as e:
        out.error = f"{type(e).__name__}: {str(e)[:120]}"
    finally:
        caching.release_all()
    return out


def _ms_to_s(start: int | None, end: int | None) -> float | None:
    return round((end - start) / 1e3, 3) if start and end else None


def _jobs_since(spark: SparkSession, since: float) -> tuple[list[dict], list[dict]]:
    """Jobs submitted at or after epoch ``since`` and their completed
    stages, as rows of the status store (two JVM calls)."""
    sc = spark.sparkContext
    jvm, jsc = sc._jvm, sc._jsc.sc()
    # the status store is fed by the listener bus: drain it so the
    # final job's end and its stages' metrics are in
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = jvm.com.fasterxml.jackson.module.scala
    mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(jvm.java.util.ArrayList())))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(
                jvm.java.util.ArrayList(),
                False,
                False,
                sc._gateway.new_array(jvm.double, 0),
                jvm.java.util.ArrayList(),
            )
        )
    )
    floor_ms = int(since * 1e3)
    mine = sorted(
        (j for j in jobs if (j.get("submissionTime") or 0) >= floor_ms),
        key=lambda j: j["jobId"],
    )
    job_of = {sid: j["jobId"] for j in mine for sid in j["stageIds"]}
    job_rows = [
        {
            "job_id": j["jobId"],
            "description": j.get("description") or j.get("name"),
            "duration_s": _ms_to_s(j.get("submissionTime"), j.get("completionTime")),
            "n_stages": len(j["stageIds"]),
        }
        for j in mine
    ]
    stage_rows = [
        {
            "stage_id": s["stageId"],
            "job_id": job_of[s["stageId"]],
            "duration_s": _ms_to_s(s.get("firstTaskLaunchedTime"), s.get("completionTime")),
            "tasks": s["numTasks"],
            "input_bytes": s["inputBytes"],
            "shuffle_read_bytes": s["shuffleReadBytes"],
            "shuffle_write_bytes": s["shuffleWriteBytes"],
            "name": s["name"],
        }
        for s in sorted(stages, key=lambda s: (s["stageId"], s["attemptId"]))
        if s["stageId"] in job_of and s["status"] == "COMPLETE"
    ]
    return job_rows, stage_rows
