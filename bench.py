#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is forced end-to-end with the noop sink (full computation,
no collect/write overhead). The suite covers the engine's pillars:
relational agg, fact-fact join, pipeline recast, event-time windows,
text stats, MinHash near-dup, and ANN top-k.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def compact_metric_line(out: dict, cap: int = 1500) -> str:
    """The driver stdout contract (round 14, VERDICT r13 item 8): the
    FINAL stdout line must be the compact metric JSON and must fit the
    driver's ~2000-char stdout-tail capture — round 12 lost its entire
    timing signal when an oversized line pushed the JSON past the tail
    (BENCH_r12.json parsed: null). This renderer makes that failure
    structurally impossible: if the full object would exceed ``cap``
    chars it degrades stepwise — first dropping the optional
    per-query normalized map, then falling back to the five
    driver-required keys with ``queries`` cut to the slowest entries
    that fit (plus a ``queries_truncated`` count of the dropped ones) —
    so the line ALWAYS parses and always fits.
    tests/test_bench_contract.py pins both the no-degradation property
    for the current suite and the degradation ladder."""
    line = json.dumps(out)
    if len(line) <= cap:
        return line
    slim = {k: v for k, v in out.items() if k != "queries_normalized"}
    line = json.dumps(slim)
    if len(line) <= cap:
        return line
    head = {k: out[k] for k in ("metric", "value", "unit", "sf") if k in out}
    slowest = sorted(out.get("queries", {}).items(), key=lambda kv: -kv[1])
    for n in range(len(slowest), -1, -1):
        line = json.dumps(
            {**head, "queries": dict(slowest[:n]), "queries_truncated": len(slowest) - n}
        )
        if len(line) <= cap:
            break
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from etl_showcase_spark.caching import release_all
    from etl_showcase_spark.registry import bench_specs
    from etl_showcase_spark.session import get_spark

    spark = get_spark(
        app_name="etl-showcase-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # registered queries are already scale-aware (stride-capped ANN
    # query sets, LSH-bucketed near-dup) — bench runs them as registered
    suite = {name: spec.build for name, spec in sorted(bench_specs().items())}

    # JVM/catalog warmup so the first query doesn't pay session startup,
    # plus one tiny mapInPandas so the Python worker pool + Arrow are
    # spawned before any timed query (one-time process cost, not query
    # cost)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()

    # Calibration canary FIRST: a frozen, JVM-only scan-agg
    # (bench_canary.py, pinned by a source-hash test, never edited).
    # Because its code is byte-identical across rounds, its wall time
    # measures the box, not the engine — normalized numbers below let
    # cross-round comparisons separate plan regressions from machine
    # variance.
    from bench_canary import canary_query

    def canary_sample(reps: int = 4) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            canary_query(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    for _ in range(2):
        canary_query(spark, sf_dir).write.mode("overwrite").format("noop").save()
    canary_best = canary_sample()

    # 2 untimed warm-ups + best-of-4 timed: the expression-heavy
    # queries (MinHash's 32 array_min(transform) chains) generate huge
    # codegen methods that HotSpot only reaches steady state on after
    # several executions — timing those early runs reports C2/GC
    # jitter, not query cost. Warm-ups run the identical plan, so the
    # timed min() is the steady-state number a long-running cluster
    # would see.
    from etl_showcase_spark import observability

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    shuffle: dict[str, dict[str, int]] = {}
    canary_mid = None
    mid_at = len(suite) // 2
    for qi, (name, fn) in enumerate(suite.items()):
        # MID-suite canary (round 12): a third interleaved sample so the
        # median below reflects the box DURING the measurement window,
        # not just its edges
        if qi == mid_at:
            canary_mid = canary_sample()
        best = float("inf")
        try:
            # shuffle observability: meter the FIRST (cold) warm-up rep —
            # the same conditioning tests/test_pipeline_integrity.py's
            # SHUFFLE_BUDGETS are measured under (cold fresh build, no
            # per-query persisted cache warm yet), so the published
            # shuffle figures and the pinned budgets are one number
            for warm in range(2):
                pre = observability.snapshot(spark) if warm == 0 else None
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                if pre is not None:
                    stats = observability.delta(pre, observability.snapshot(spark))
                    shuffle[name] = stats.as_dict()
            for _rep in range(4):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
        except Exception as e:  # one broken query must not lose the suite
            errors[name] = f"{type(e).__name__}: {str(e)[:120]}"
        # keep any completed repetition's timing so a late failure can
        # never make the headline total look FASTER than a healthy run
        if best != float("inf"):
            timings[name] = round(best, 3)
        release_all()  # operator caches are per-query; don't accumulate

    # POST-suite canary (round 11): the pre-suite sample alone cannot
    # detect BURSTY load arriving mid-suite (observed: the canary swung
    # 0.46→1.16 s across three same-session runs). A second sample
    # after the suite bounds the box's drift across the measurement
    # window — when canary_s and canary_s_post disagree badly, the
    # normalized numbers of THAT run carry that uncertainty.
    canary_post = canary_sample()

    # Median-of-three normalization (round 12, VERDICT item 3): round
    # 11's bursty box showed a single pre-suite canary can misstate the
    # box by 2.5× mid-run. The pre / mid / post samples bracket the
    # whole window; their MEDIAN is the normalizer, and their spread
    # (max-min)/median is published — a spread > 20% flags the round's
    # normalized numbers as noise-dominated before anyone compares them.
    samples = sorted(s for s in (canary_best, canary_mid, canary_post) if s is not None)
    canary_median = samples[len(samples) // 2]
    canary_spread = (samples[-1] - samples[0]) / canary_median

    total = sum(timings.values())
    out = {
        "metric": "headline-suite wall time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # frozen-code calibration: the canary moves only with the box;
        # *_normalized = raw / median(pre, mid, post canary) is the
        # box-independent number to compare across rounds
        "canary_s": round(canary_best, 3),
        "canary_s_mid": round(canary_mid, 3) if canary_mid is not None else None,
        "canary_s_post": round(canary_post, 3),
        "canary_s_median": round(canary_median, 3),
        "canary_spread": round(canary_spread, 3),
        "canary_noisy": canary_spread > 0.20,
        "value_normalized": round(total / canary_median, 2),
        "queries_normalized": {
            name: round(t / canary_median, 2) for name, t in timings.items()
        },
    }
    if errors:
        out["errors"] = errors

    # Per-query shuffle read/write bytes+records, spills, and scan input
    # bytes for one COLD execution (AppStatusStore deltas,
    # etl_showcase_spark/observability.py; same conditioning as the
    # budgets pinned in tests/test_pipeline_integrity.py). Round 12's
    # lesson: this block inside the metric line pushed it past the
    # driver's ~2000-char stdout-tail capture and round 12 lost its
    # timing signal entirely (BENCH_r12.json parsed: null). It now goes
    # to its own artifact + its own EARLIER stdout line; the compact
    # metric object must be the FINAL stdout line.
    shuffle_doc = {"conditioning": "cold first run", "sf": sf, "shuffle": shuffle}
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "SHUFFLE_BENCH.json"), "w") as fh:
            json.dump(shuffle_doc, fh, indent=1, sort_keys=True)
    except OSError:
        pass
    print(json.dumps(shuffle_doc))
    print(compact_metric_line(out))
    spark.stop()


if __name__ == "__main__":
    main()
