#!/usr/bin/env python
"""Scale-stress the round-4 operator additions (the ones outside the
bench headline set): same replica-lake methodology as scale_stress.py,
reporting the per-query scaling exponent alpha (time ~ volume^alpha).

Run: python scripts/scale_stress_newops.py [--mult 10] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import scale_stress as ss  # noqa: E402  (sibling module: lake builder)

NEW_OPS = [
    "doc_chunks_overlap",
    "dedup_normalized_text",
    "embedding_int8_quant",
    "ann_int8_rerank_topk",
    "pagerank_part_supplier",
    "cohort_retention",
    "zscore_outlier_events",
    "ohlc_daily_bars",
    "event_path_trigrams",
    "gapfill_daily_totals",
    "activity_streaks",
    "rfm_customer_scores",
    "zorder_layout_buckets",
    "table_profile_lineitem",
    "brand_type_revenue_share",
]


def time_queries(spark, sf_dir: str, names: list[str], reps: int = 3):
    from etl_showcase_spark.registry import all_specs

    specs = all_specs()
    out = {}
    for name in names:
        spec = specs[name]
        spec.build(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            spec.build(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
        print(f"  {sf_dir.split('/')[-1]} {name}: {out[name]}s", flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--out", default=None)
    ap.add_argument("--keep", action="store_true")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated registered-query names to stress instead "
        "of the round-4 NEW_OPS list",
    )
    args = ap.parse_args()
    ops = args.queries.split(",") if args.queries else NEW_OPS

    from etl_showcase_spark.session import default_cpus, get_spark

    cpus = default_cpus()
    spark = get_spark(
        app_name="scale-stress-newops",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    lake = os.path.join(ss.SCRATCH, f"lake_x{args.mult}")
    built = False
    if not os.path.isdir(lake):
        print(f"building x{args.mult} lake at {lake} ...", flush=True)
        ss.build_lake(spark, args.mult, lake)
        built = True

    base = time_queries(spark, ss.BASE, ops)
    big = time_queries(spark, lake, ops)
    payload = {
        "mult": args.mult,
        "base_sf_dir": ss.BASE,
        "note": (
            ("custom query list" if args.queries else "round-4 operator additions")
            + " under the same replica-lake methodology as SCALE_STRESS "
            "(alpha: time ~ volume^alpha)"
        ),
        "total_base_s": round(sum(base.values()), 3),
        f"total_x{args.mult}_s": round(sum(big.values()), 3),
        "queries": {
            q: {
                "base_s": base[q],
                f"x{args.mult}_s": big[q],
                "alpha": round(math.log(max(big[q], 1e-3) / max(base[q], 1e-3))
                               / math.log(args.mult), 2),
            }
            for q in ops
        },
    }
    print(json.dumps(payload, indent=2))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(payload, fh, indent=2)
    if built and not args.keep:
        shutil.rmtree(lake, ignore_errors=True)


if __name__ == "__main__":
    main()
