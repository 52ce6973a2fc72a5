"""The timing harness bench.py and the scripts share
(etl_showcase_spark/timing.py): call counts, the keep-the-completed-reps
rule on an error, the cache release, and the final rep's job and stage
rows read from the status store with the UI off."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_showcase_spark import caching
from etl_showcase_spark.timing import time_runs


def test_time_runs(spark):
    calls = []

    def action():
        calls.append(1)
        return caching.tracked_persist(spark.range(50))

    runs = time_runs(spark, action, warmups=2, reps=3)
    assert len(calls) == 5 and runs.error is None
    assert len(runs.reps) == 3 and all(t > 0 for t in runs.reps)
    assert runs.shuffle is not None
    assert not caching._TRACKED  # released after the last call

    def fails_third():
        calls.append(1)
        if len(calls) == 3:
            raise ValueError("third call")
        return spark.range(5)

    calls.clear()
    runs = time_runs(spark, fails_third, warmups=1, reps=4)
    assert len(calls) == 3 and len(runs.reps) == 1
    assert runs.error == "ValueError: third call"

    sc = spark.sparkContext
    sc.setJobDescription("timing-harness-probe")
    try:
        runs = time_runs(
            spark,
            lambda: spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count(),
            warmups=0,
            reps=1,
        )
    finally:
        sc.setJobDescription(None)
    assert runs.error is None
    assert "timing-harness-probe" in {j["description"] for j in runs.jobs}
    assert all(j["duration_s"] is not None for j in runs.jobs)
    assert any(s["tasks"] > 0 for s in runs.stages)
    assert {s["job_id"] for s in runs.stages} <= {j["job_id"] for j in runs.jobs}
