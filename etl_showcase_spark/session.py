"""SparkSession builder with scale-appropriate defaults.

Mirrors the reference's session bootstrap (reference
spark_jobs/transform_weather.py:21-27) including opt-in JDBC driver
registration, plus the tuning the reference lacked: AQE, dynamic
partition overwrite, UTC session timezone (reference mixed naive UTC
with America/New_York — SURVEY.md §7.4.5).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local task slots: ``$SPARK_GRAFT_CPUS`` when set, else the CPUs
    this process may run on (what ``nproc`` prints). The one default for
    the session, bench.py and the scripts; a fixed figure above the
    box's cores only oversubscribes it."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def runtime_filter_conf(test_scale: bool = False) -> dict[str, str]:
    """Runtime bloom-filter join pruning — the 100 TB fact-join knob.

    When a selectively-filtered dimension shuffle-joins a huge fact
    table, Spark can build a bloom filter from the dim's join keys at
    runtime and push ``might_contain(xxhash64(key))`` into the fact
    scan, dropping non-matching rows BEFORE the fact side's shuffle —
    the shuffle that dominates a 100 TB star join. Broadcast joins
    don't need it (the hash table itself filters); it pays off exactly
    when both sides are too big to broadcast, which is the at-scale
    regime. Defaults (creation side <= 10 MB built, application side
    >= 10 GB scanned) are sized for clusters; ``test_scale=True``
    zeroes the application-side threshold so the injected plan is
    visible and assertable on the local[32] test data (see
    scripts/audit_plans.py and tests/test_pipeline_integrity.py).
    """
    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # cap the filter build so a mis-sized creation side can't stall
        # the driver: 100 MB of creation-side data at most
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    if test_scale:
        conf[
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ] = "0"
    return conf


def get_spark(
    app_name: str = "etl-showcase-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    jdbc_packages: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults are chosen for local[N] testing but every knob is the one
    you'd set on a 1000-executor cluster too: AQE handles skew + shuffle
    coalescing at runtime, dynamic partition overwrite makes the
    merge-upsert sink idempotent per-partition instead of full-table
    (the reference's staging overwrite, transform_weather.py:171, does
    not survive 100 TB).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{default_cpus()}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or default_cpus()),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Read parquet naive timestamps as TimestampType (session-UTC),
        # matching the DuckDB oracle's naive TIMESTAMP semantics.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Arrow for every pandas_udf / mapInPandas / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # S6: JDBC driver registration at session build, mirroring the
    # reference's Postgres bootstrap (transform_weather.py:21-27,
    # spark.jars.packages=org.postgresql:postgresql:42.6.0). Opt-in via
    # argument or env because jar resolution needs network access —
    # write_jdbc/read_jdbc (sources/io.py) require it against a real DB.
    pkgs = jdbc_packages or os.environ.get("SPARK_GRAFT_JDBC_PACKAGES")
    if pkgs:
        builder = builder.config("spark.jars.packages", pkgs)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
