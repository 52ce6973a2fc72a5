#!/usr/bin/env python
"""Best-of-N timing for an explicit list of registered queries with the
bench's exact methodology (2 untimed warm-ups + best-of-N noop-sink
reps, operator caches released between queries) — the per-target A/B
instrument for the optimization rounds (guide §1).

Usage: python scripts/time_queries.py <name> [name...] [--sf DIR] [--reps N] [--out FILE]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps, out_path = 4, None
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    names = args

    from etl_showcase_spark.caching import release_all
    from etl_showcase_spark.registry import all_specs
    from etl_showcase_spark.session import default_cpus, get_spark

    cpus = default_cpus()

    spark = get_spark(
        app_name="time-queries",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()

    specs = all_specs()
    out: dict[str, dict] = {}
    for name in names:
        fn = specs[name].build
        times = []
        try:
            for _ in range(2):
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            for _ in range(reps):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                times.append(round(time.perf_counter() - t0, 3))
        except Exception as e:
            out[name] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
            release_all()
            continue
        out[name] = {"best": min(times), "reps": times}
        print(f"{name}\tbest={min(times)}\treps={times}", flush=True)
        release_all()

    doc = {"sf_dir": sf_dir, "cpus": cpus, "timings": out}
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
    print(json.dumps(doc))
    spark.stop()


if __name__ == "__main__":
    main()
