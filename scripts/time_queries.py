#!/usr/bin/env python
"""Time registered queries with the bench's methodology
(etl_showcase_spark/timing.py): the per-query A/B instrument, and the
registry-wide triage sweep.

- Named queries: 2 untimed warm-ups + best of --reps (default 4).
- No names: every registered query, 1 warm-up + --reps (default 1),
  then the slowest 40.

Each query's JSON entry holds its per-rep times and, for the final
rep, its jobs (description, duration, stage count) and completed
stages (duration, tasks, input and shuffle bytes, name), read from the
driver's status store with the UI off. The JSON goes to --out, or to
stdout without it.

Usage: python scripts/time_queries.py [name...] [--sf DIR] [--reps N] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from etl_showcase_spark.registry import all_specs
    from etl_showcase_spark.session import default_cpus
    from etl_showcase_spark.timing import session, time_runs

    spark = session("time-queries", args.sf)
    specs = all_specs()
    names = args.names or list(specs)
    warmups, reps = (2, 4) if args.names else (1, 1)
    reps = args.reps or reps

    out: dict[str, dict] = {}
    for name in names:
        fn = specs[name].build
        runs = time_runs(spark, lambda: fn(spark, args.sf), warmups, reps)
        entry = {"reps": [round(t, 3) for t in runs.reps], "jobs": runs.jobs, "stages": runs.stages}
        if runs.reps:
            entry["best"] = round(runs.best, 3)
        if runs.error:
            entry["error"] = runs.error
        out[name] = entry
        print(f"{name}\tbest={entry.get('best', 'ERR')}\treps={entry['reps']}", flush=True)

    doc = {"sf_dir": args.sf, "cpus": default_cpus(), "timings": out}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
    else:
        print(json.dumps(doc))
    if not args.names:
        print("\n== slowest 40 ==")
        timed = [(e["best"], n) for n, e in out.items() if "best" in e]
        for t, n in sorted(timed, reverse=True)[:40]:
            print(f"{t:8.3f}  {n}")
    errors = {n: e["error"] for n, e in out.items() if "error" in e}
    if errors:
        print("\n== errors ==")
        for n, e in errors.items():
            print(f"  {n}: {e}")
    spark.stop()


if __name__ == "__main__":
    main()
