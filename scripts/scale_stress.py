#!/usr/bin/env python
"""Scale-stress harness: measure how the headline suite scales with
data volume, not just whether it passes at sf0.1.

Replicates the sf0.1 testdata --mult times (default 10, ~6M lineitem
rows) into a scratch lake under .scratch/, with per-replica key offsets
so join fanouts stay realistic (each replica is a disjoint key space —
no artificial key collisions inflating join outputs). Fixed-cardinality
dims (nation, region) are NOT replicated, mirroring TPC-H semantics
where they are constant at every scale factor. Document text gets a
per-replica suffix token so replicas become NEAR-duplicates — a
realistic (and adversarial) corpus for the MinHash/SimHash/LSH family
instead of a degenerate exact-copy one.

Then runs the bench suite (or the --queries list) at both scales,
with the bench's timing harness, and reports the per-query
scaling exponent alpha where time ~ volume^alpha (alpha <= ~1 is the
linear-or-better target; the stride-capped ANN queries should sit well
below 1 because their query set is O(1) in corpus size).

Usage:
    python scripts/scale_stress.py [--mult 10] [--queries a,b,...] [--keep]
        [--reuse-lake] [--build-only] [--out FILE]
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

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from etl_showcase_spark.session import default_cpus  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

# per-table integer key columns that must stay globally unique across
# replicas (offset by replica_id * ceil_pow10(max_key)); foreign keys
# offset by the SAME step as their referenced primary key
_PK_STEP_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}
_COPY_ONLY = ["nation", "region"]


def _step(spark: SparkSession, table: str, cols: list[str]) -> dict[str, int]:
    from etl_showcase_spark.catalog import table as load

    maxes = load(spark, BASE, table).agg(*[F.max(c).alias(c) for c in cols]).collect()[0]
    return {c: 10 ** math.ceil(math.log10(int(maxes[c]) + 2)) for c in cols}


def build_lake(spark: SparkSession, mult: int, out_dir: str) -> None:
    # steps must agree between a PK and every FK referencing it: derive
    # each step from the referenced table's own key domain
    steps = {
        "o_orderkey": _step(spark, "orders", ["o_orderkey"])["o_orderkey"],
        "o_custkey": _step(spark, "customer", ["c_custkey"])["c_custkey"],
        "p_partkey": _step(spark, "part", ["p_partkey"])["p_partkey"],
        "s_suppkey": _step(spark, "supplier", ["s_suppkey"])["s_suppkey"],
        "doc_id": _step(spark, "documents", ["doc_id"])["doc_id"],
        "vec_id": _step(spark, "embeddings", ["vec_id"])["vec_id"],
        "event_id": _step(spark, "events", ["event_id"])["event_id"],
        "user_id": _step(spark, "events", ["user_id"])["user_id"],
    }
    alias = {
        "l_orderkey": "o_orderkey",
        "l_partkey": "p_partkey",
        "l_suppkey": "s_suppkey",
        "c_custkey": "o_custkey",
    }
    from etl_showcase_spark.catalog import table as load

    for t in _COPY_ONLY:
        load(spark, BASE, t).write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
    for t, key_cols in _PK_STEP_COLS.items():
        # catalog.table handles the events TIMESTAMP(NANOS) footer; the
        # replica lake is rewritten as ordinary micros timestamps
        df = load(spark, BASE, t)
        # one replica per entry of a literal range, exploded — the whole
        # replication is a single distributed job per table
        reps = df.crossJoin(
            spark.range(mult).select(F.col("id").cast("int").alias("__rep"))
        )
        for c in key_cols:
            step = steps[alias.get(c, c)]
            reps = reps.withColumn(c, F.col(c) + F.col("__rep").cast("long") * step)
        if t == "documents":
            # replicas become near-duplicates, not exact copies
            reps = reps.withColumn(
                "text",
                F.when(F.col("__rep") == 0, F.col("text")).otherwise(
                    F.concat(F.col("text"), F.lit(" rep"), F.col("__rep"))
                ),
            ).withColumn("n_chars", F.length("text"))
        (
            reps.drop("__rep")
            .repartition(default_cpus())
            .write.mode("overwrite")
            .parquet(f"{out_dir}/{t}.parquet")
        )


def run_suite(spark: SparkSession, sf_dir: str, names: list[str]) -> dict[str, float | None]:
    """1 warm-up + best of 3 per query (etl_showcase_spark/timing.py);
    None for a query that failed."""
    from etl_showcase_spark.registry import all_specs
    from etl_showcase_spark.timing import time_runs

    specs = all_specs()
    out: dict[str, float | None] = {}
    for name in names:
        fn = specs[name].build
        runs = time_runs(spark, lambda: fn(spark, sf_dir), warmups=1, reps=3)
        out[name] = round(runs.best, 3) if runs.reps else None
        shown = f"{out[name]}s" if runs.reps else runs.error
        print(f"  {sf_dir.split('/')[-1]} {name}: {shown}", flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--keep", action="store_true", help="keep the scratch lake")
    ap.add_argument(
        "--out",
        default=None,
        help="also write the report as a JSON artifact (e.g. BENCH_sf1.json)",
    )
    ap.add_argument(
        "--reuse-lake",
        action="store_true",
        help="skip the build if the scratch lake for this --mult already exists "
        "(only safe when the base testdata hasn't changed since it was built)",
    )
    ap.add_argument(
        "--build-only",
        action="store_true",
        help="build (and verify) the lake, then exit without timing — for "
        "harnesses that run their own measurements over it (implies --keep)",
    )
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated registered-query names to time instead of the bench set",
    )
    args = ap.parse_args()

    from etl_showcase_spark.registry import bench_specs
    from etl_showcase_spark.timing import session

    names = args.queries.split(",") if args.queries else sorted(bench_specs())
    spark = session("scale-stress", BASE)

    out_dir = os.path.join(SCRATCH, f"mult{args.mult}")
    if args.reuse_lake and os.path.isdir(f"{out_dir}/lineitem.parquet"):
        print(f"reusing existing lake at {out_dir}", flush=True)
    else:
        print(f"building {args.mult}x lake at {out_dir} ...", flush=True)
        t0 = time.perf_counter()
        build_lake(spark, args.mult, out_dir)
        print(f"lake built in {time.perf_counter() - t0:.1f}s", flush=True)
    for t in ("lineitem", "documents", "embeddings"):
        key = _PK_STEP_COLS[t][0]
        base_df = spark.read.parquet(f"{BASE}/{t}.parquet")
        n_base = base_df.count()
        k_base = base_df.select(key).distinct().count()
        big_df = spark.read.parquet(f"{out_dir}/{t}.parquet")
        n_big = big_df.count()
        k_big = big_df.select(key).distinct().count()
        assert n_big == n_base * args.mult, (t, n_big, n_base)
        # each replica's key space must be disjoint (no offset collisions)
        assert k_big == k_base * args.mult, f"{t}: replicated {key} collided"
        print(f"  {t}: {n_base} -> {n_big} rows, {k_big} distinct {key}", flush=True)

    if args.build_only:
        print(f"lake ready at {out_dir} (build-only)", flush=True)
        spark.stop()
        return

    base = run_suite(spark, BASE, names)
    big = run_suite(spark, out_dir, names)
    report = {}
    for name in names:
        b, g = base[name], big[name]
        report[name] = {
            "base_s": b,
            f"x{args.mult}_s": g,
            # alpha: time ~ volume^alpha; guard tiny timings with a floor
            "alpha": None
            if b is None or g is None
            else round(math.log(max(g, 0.05) / max(b, 0.05)) / math.log(args.mult), 2),
        }
    payload = {
        "mult": args.mult,
        "base_sf_dir": BASE,
        "note": (
            "synthetic headroom point: sf0.1 testdata replicated --mult times "
            "with disjoint key spaces (no sf1 parquet exists in /root/testdata); "
            "alpha is the per-query scaling exponent time ~ volume^alpha; "
            + ("queries: --queries" if args.queries else "queries: the bench set")
        ),
        "total_base_s": round(sum(v for v in base.values() if v), 3),
        f"total_x{args.mult}_s": round(sum(v for v in big.values() if v), 3),
        "queries": report,
    }
    print(json.dumps(payload, indent=2))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=2)
            f.write("\n")
    if not args.keep:
        shutil.rmtree(out_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
