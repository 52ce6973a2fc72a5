#!/usr/bin/env python
"""AQE skew-join A/B proof (round-12 idea bank): on a deliberately
skewed lake, measure the same fact-dim join three ways —

  A. plain sort-merge join, AQE skew split OFF (the straggler baseline)
  B. plain sort-merge join, AQE skew split ON (plan-asserted skew=true)
  C. the pre-spread `salted_join` operator (AQE skew split off)

— and write SKEW_AB_r{N}.json with wall times, executed-plan markers,
and shuffle metrics per leg. Complements scripts/audit_plans.py's
probe_aqe_skew_join (which asserts the split CAN fire): this records
what the split is WORTH, and where pre-spreading stands relative to it,
on a hot key holding ~40% of a multi-million-row fact.

The skewed lake derives from sf0.1: lineitem replicated REPLICATE× with
40% of rows remapped to ONE hot order key (kept inside the orders key
domain so the dim join stays honest); orders is the dim side.

Usage: python scripts/skew_ab.py [--round N] [--replicate 10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = os.environ.get("SPARK_GRAFT_SKEW_SRC", "/root/testdata/sf0.1")
LAKE = "/tmp/spark_graft_scratch/skew_lake"
HOT_FRACTION = 40  # percent of fact rows remapped to the hot key


def build_lake(replicate: int) -> dict:
    import duckdb

    os.makedirs(LAKE, exist_ok=True)
    con = duckdb.connect()
    hot = con.execute(
        f"SELECT MIN(o_orderkey) FROM read_parquet('{SRC}/orders.parquet')"
    ).fetchone()[0]
    # deterministic 40% remap via a multiplicative hash of the original
    # key (NOT row position, so every replica of a row lands identically)
    con.execute(
        f"""
        COPY (
          SELECT CASE WHEN (l_orderkey * 2654435761) % 100 < {HOT_FRACTION}
                      THEN {hot} ELSE l_orderkey END AS k,
                 l_extendedprice, l_quantity
          FROM read_parquet('{SRC}/lineitem.parquet')
          CROSS JOIN range({replicate})
        ) TO '{LAKE}/fact.parquet' (FORMAT parquet)
        """
    )
    con.execute(
        f"COPY (SELECT o_orderkey AS k, o_orderpriority FROM"
        f" read_parquet('{SRC}/orders.parquet'))"
        f" TO '{LAKE}/dim.parquet' (FORMAT parquet)"
    )
    n_fact, n_hot = con.execute(
        f"SELECT COUNT(*), SUM(CASE WHEN k = {hot} THEN 1 ELSE 0 END)"
        f" FROM read_parquet('{LAKE}/fact.parquet')"
    ).fetchone()
    con.close()
    return {
        "fact_rows": int(n_fact),
        "hot_key_rows": int(n_hot),
        "hot_share": round(n_hot / n_fact, 3),
        "replicate": replicate,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=12)
    ap.add_argument("--replicate", type=int, default=10)
    args = ap.parse_args()

    stats = build_lake(args.replicate)
    print(f"lake: {stats}")

    from etl_showcase_spark.operators.relational import salted_join
    from etl_showcase_spark.session import default_cpus, get_spark
    from etl_showcase_spark.timing import time_runs

    import pyspark.sql.functions as F

    cpus = default_cpus()
    spark = get_spark("skew-ab", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # skew detection reads COMPRESSED map-output sizes: this lake's hot
    # partition is ~10 MB compressed vs a ~0.5 MB median — thresholds
    # sit between the two
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4MB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2MB")

    fact = spark.read.parquet(f"{LAKE}/fact.parquet")
    dim = spark.read.parquet(f"{LAKE}/dim.parquet")

    def plain():
        return (
            fact.join(dim, "k")
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"), F.count("*").alias("n"))
        )

    def salted():
        return (
            salted_join(fact, dim, ["k"], salt=int(cpus))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"), F.count("*").alias("n"))
        )

    legs = {
        "A_smj_no_skew_split": ("false", plain),
        "B_smj_aqe_skew_split": ("true", plain),
        "C_salted_join": ("false", salted),
    }
    out: dict[str, dict] = {}
    baseline_rows = None
    for leg, (skew_conf, builder) in legs.items():
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_conf)
        runs = time_runs(spark, builder, warmups=1, reps=3)
        if runs.error:
            raise RuntimeError(f"{leg}: {runs.error}")
        shuf = runs.shuffle
        df = builder()
        df.collect()  # skew split exists only in the EXECUTED plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        # counts compare exactly; the DOUBLE revenue sums only to 1e-9
        # relative — different physical partitionings legitimately add
        # floats in different orders (this is why the ORACLE-facing
        # money queries use exact decimals; this probe doesn't)
        rows = sorted((r["o_orderpriority"], r["n"], float(r["rev"])) for r in df.collect())
        if baseline_rows is None:
            baseline_rows = rows
        same = len(rows) == len(baseline_rows) and all(
            a[0] == b[0] and a[1] == b[1] and abs(a[2] - b[2]) <= 1e-9 * max(abs(b[2]), 1)
            for a, b in zip(rows, baseline_rows)
        )
        out[leg] = {
            "wall_s": round(runs.best, 3),
            "skew_split_in_plan": "skew=true" in plan,
            "salted": "__salt" in plan,
            "shuffle_write_bytes": shuf.shuffle_write_bytes,
            "shuffle_write_records": shuf.shuffle_write_records,
            "disk_spill_bytes": shuf.disk_spill_bytes,
            "results_match_leg_A": same,
        }
        print(f"  {leg}: {out[leg]}")
    spark.stop()

    assert out["B_smj_aqe_skew_split"]["skew_split_in_plan"], (
        "AQE skew split did not fire on leg B — thresholds wrong for this lake"
    )
    assert not out["A_smj_no_skew_split"]["skew_split_in_plan"]
    assert all(v["results_match_leg_A"] for v in out.values()), (
        "legs disagree on results — salting or the split changed the answer"
    )

    artifact = {
        "probe": (
            "skewed-lake A/B: plain SMJ straggler vs AQE skew split vs "
            "pre-spread salted_join; identical results asserted across legs"
        ),
        "lake": {"source": SRC, **stats, "hot_fraction_pct": HOT_FRACTION},
        "legs": out,
        "reading": (
            "B's speedup over A is what AQE's post-hoc split buys at this "
            "skew; C trades extra shuffled rows (right side replicated "
            "salt x) for pre-spread balance — the pathological-skew / "
            "non-AQE-sink tool, not the default"
        ),
    }
    path = os.path.join(REPO, f"SKEW_AB_r{args.round:02d}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
