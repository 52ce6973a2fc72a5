#!/usr/bin/env python
"""One-rep timing sweep of EVERY registered query (optimization round
triage, guide §1.1): 1 untimed warm-up + 1 timed noop-sink rep per
query at $SPARK_GRAFT_SF_DIR (default sf0.01). Output: JSON lines to
stdout + a sorted summary so registry-wide outliers (beyond the 11
bench queries) are visible.

Usage: python scripts/registry_sweep_times.py [out.json] [--sf DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]

    from etl_showcase_spark.caching import release_all
    from etl_showcase_spark.registry import all_specs
    from etl_showcase_spark.session import default_cpus, get_spark

    cpus = default_cpus()

    spark = get_spark(
        app_name="registry-sweep-times",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, spec in all_specs().items():
        try:
            spec.build(spark, sf_dir).write.mode("overwrite").format("noop").save()
            t0 = time.perf_counter()
            spec.build(spark, sf_dir).write.mode("overwrite").format("noop").save()
            times[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {str(e)[:100]}"
        release_all()
        print(f"{name}\t{times.get(name, 'ERR')}", flush=True)

    doc = {"sf_dir": sf_dir, "times": times, "errors": errors}
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
    print("\n== slowest 40 ==")
    for n, t in sorted(times.items(), key=lambda kv: -kv[1])[:40]:
        print(f"{t:8.3f}  {n}")
    if errors:
        print("\n== errors ==")
        for n, e in errors.items():
            print(f"  {n}: {e}")
    spark.stop()


if __name__ == "__main__":
    main()
