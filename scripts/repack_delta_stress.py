#!/usr/bin/env python
"""Delta-sized scale stress for incremental_pack_repacking (round-12,
VERDICT item 5): the round-11 x10 exponent (α=0.74) was dominated by
the nested ExactSubstr chain recomputed on a replica lake that
multiplies DUPLICATES by construction — not by the repack itself. This
harness drives the factored repack core
(plans/mlprep.py:_repack_v2_from_per_doc) with the op's actual
production shape: a FIXED change set (5 changed shards) over a base
that grows x10, measuring

  - the full v2 maintenance phase (work list + DPP-carried manifest
    scan + changed-shard recompute), and
  - the recomputed-side subplan alone,

and reporting α = log(t_x10/t_x1)/log(10) for each. The recompute side
must be ~flat (α ≈ 0: its input is the 5 changed shards at any base
size); the full phase's residual slope is the O(#packs) metadata scan
of the carried manifest — linear in base but at the pack grain
(3 orders of magnitude below the token grain the trainer pays).

Writes a 'repack_delta' entry merged into SCALE_STRESS_NEWOPS_r{N}.json
(or a standalone file with --out).

Usage: python scripts/repack_delta_stress.py [--out FILE] [--docs 65536]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHANGED_SHARDS = [3, 77, 501, 1203, 1999]  # fixed at ANY base size
SCRATCH = "/tmp/spark_graft_scratch/repack_delta"


def build_per_doc(spark, n_docs: int, shard_size: int, path: str) -> None:
    """Synthetic per-doc removal frame: deterministic token counts,
    removals confined to the fixed changed shards AND to each changed
    shard's first 32 doc slots (every 3rd doc there loses 40 tokens) —
    so the CHANGED-DOC COUNT is identical at every base size. This is
    the production shape: shard size scales with the corpus (the
    manifest's directory count stays bounded), the nightly change set
    does not."""
    import pyspark.sql.functions as F

    (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            (100 + F.col("id") % 50).cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "n_removed",
            F.when(
                F.expr(f"doc_id div {shard_size}").isin(*CHANGED_SHARDS)
                & (F.col("doc_id") % shard_size < 32)
                & (F.col("doc_id") % 3 == 0),
                F.lit(40),
            )
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .withColumn("n_kept", (F.col("n_tokens") - F.col("n_removed")).cast("bigint"))
        .write.mode("overwrite")
        .parquet(path)
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=65536)
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--out", default=None)
    ap.add_argument("--round", type=int, default=12)
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from etl_showcase_spark.plans import mlprep
    from etl_showcase_spark.plans.mlprep import _repack_apply_v2, _repack_land_v1
    from etl_showcase_spark.session import get_spark
    from etl_showcase_spark.timing import time_runs

    spark = get_spark("repack-delta-stress", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    from etl_showcase_spark.plans.mlprep import _REPACK_SHARD, _sharded_pack_manifest

    _ = mlprep
    os.makedirs(SCRATCH, exist_ok=True)
    sizes = {"x1": args.docs, f"x{args.mult}": args.docs * args.mult}
    timings: dict[str, dict] = {}
    shard = F.expr(f"doc_id div {_REPACK_SHARD}").cast("bigint")
    for label, n in sizes.items():
        pd_path = f"{SCRATCH}/per_doc_{label}"
        build_per_doc(spark, n, _REPACK_SHARD, pd_path)
        per_doc = spark.read.parquet(pd_path)

        # v1 lands ONCE per lake, outside the timed phases — in
        # production the shipped manifest already sits on disk; timing
        # it would measure the bootstrap, not the maintenance
        root = f"{SCRATCH}/root_{label}"
        if not os.path.isdir(root + "/manifest_v1"):
            t0 = time.perf_counter()
            _repack_land_v1(per_doc, root)
            timings.setdefault(label, {})["v1_bootstrap_s"] = round(
                time.perf_counter() - t0, 3
            )

        # --- leg 1: the CHANGE-BOUNDED maintenance work, isolated from
        # the carried scan — work list + changed-shard repack (the only
        # compute the delta actually causes)
        def run_recompute_work():
            per_shard = (
                per_doc.filter(F.col("n_removed") > 0)
                .groupBy(shard.alias("shard"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_changed"))
            )
            per_shard.write.mode("overwrite").parquet(root + "/worklist")
            worklist = (
                spark.read.parquet(root + "/worklist")
                .filter(F.col("n_changed") > 0)
                .select(F.col("shard").cast("bigint").alias("shard"))
            )
            _sharded_pack_manifest(
                per_doc.filter(F.col("n_kept") > 0)
                .select(shard.alias("shard"), "doc_id", F.col("n_kept").alias("n"))
                .join(F.broadcast(worklist), "shard", "left_semi")
            ).write.mode("overwrite").format("noop").save()

        # --- leg 2: the full maintenance op (adds the carried side:
        # partition discovery over the v1 layout + the DPP-pruned
        # pack-grain scan — driver METADATA, linear in directory count)
        def run_apply():
            _repack_apply_v2(spark, per_doc, root).write.mode("overwrite").format(
                "noop"
            ).save()

        for phase, fn in (
            ("recompute_work", run_recompute_work),
            ("apply_v2_full", run_apply),
        ):
            runs = time_runs(spark, fn, warmups=1, reps=3)
            if runs.error:
                raise RuntimeError(f"{label} {phase}: {runs.error}")
            timings.setdefault(label, {})[phase] = round(runs.best, 3)

        # invariant: the recomputed pack set is identical at any base
        v2 = _repack_apply_v2(spark, per_doc, root)
        rec = v2.filter(F.col("recomputed"))
        from etl_showcase_spark.plans.mlprep import _REPACK_DIRS

        timings[label]["n_recomputed_packs"] = rec.count()
        timings[label]["n_total_packs"] = v2.count()
        timings[label]["n_shards"] = n // _REPACK_SHARD
        timings[label]["n_manifest_dirs"] = min(_REPACK_DIRS, n // _REPACK_SHARD)
        timings[label]["recomputed_shards"] = sorted(
            r["shard"] for r in rec.select("shard").distinct().collect()
        )
        print(f"  {label}: {timings[label]}")
    spark.stop()

    big = f"x{args.mult}"
    assert timings["x1"]["recomputed_shards"] == timings[big]["recomputed_shards"] == sorted(
        CHANGED_SHARDS
    ), "change set leaked beyond the fixed shards"
    assert timings["x1"]["n_recomputed_packs"] == timings[big]["n_recomputed_packs"]

    def alpha(phase: str) -> float:
        return round(
            math.log(max(timings[big][phase], 1e-3) / max(timings["x1"][phase], 1e-3))
            / math.log(args.mult),
            2,
        )

    entry = {
        "methodology": (
            "fixed 5-shard change set over a base growing x"
            f"{args.mult} (synthetic per-doc removal frames driven through "
            "the factored repack core; v1 landed once per lake OUTSIDE the "
            "timed phases — production's shipped manifest) — the op's "
            "production shape, free of the replica lake's by-construction "
            "duplicate explosion"
        ),
        "base_docs": args.docs,
        "timings": timings,
        "alpha_recompute_work": alpha("recompute_work"),
        "alpha_apply_v2_full": alpha("apply_v2_full"),
        "reading": (
            "recompute_work is the compute the delta causes (work list + "
            "changed-shard repack) — bounded by the fixed change set, α≈0 "
            "expected modulo the O(base) columnar scan of per_doc's two "
            "count-agg columns; apply_v2_full adds the carried side: since "
            "round 13 the v1 layout is partitioned by a BOUNDED dir key "
            "(shard % _REPACK_DIRS, shard kept as a data column), so the "
            "per-path planning cost is constant at any corpus size and the "
            "residual slope is the pack-grain columnar scan itself — no "
            "shard-sizing caveat needed (round-12's α=0.75 was the "
            "unbounded 20k-dir fan-out's file-index machinery, ~25 s for "
            "243 MB, identical under directory walk or explicit file "
            "manifest)"
        ),
    }
    print(json.dumps(entry, indent=1))

    out_path = args.out or os.path.join(
        REPO, f"SCALE_STRESS_NEWOPS_r{args.round:02d}.json"
    )
    merged = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
    merged["repack_delta"] = entry
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {out_path} (repack_delta entry)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
