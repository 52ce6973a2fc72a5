#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver thread runs the workload's
registered queries one after another, in a fixed order, in passes,
each forced to the noop sink (the two queries without an oracle are
collected instead, so that every pass can be checked). Before the
timed passes it builds or reuses the seeded lake and its DuckDB oracle
answers, loads the registry, starts Spark and runs the workload's
warm-up passes; the first keeps its outputs for the checks and measures
the live heap. The timed passes repeat until ``--seconds`` have passed
(at least one). Every output is checked: oracle queries once per run
with ``testing.compare_frames``, oracle-less ones by their canonical
hash on every pass.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
layers' entry points, alternates traced and untraced passes and prints
the per-layer metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Details of every run go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")
RUNS = os.path.join(ROOT, ".perfbench_run")
# The driver JVM compiles with C1 only. With the default tiered C2, the
# C2 compiler is still at work on Spark's planner through the whole of a
# one-minute run: its threads take a varying share of each pass's CPU,
# and the pass on which it catches up differs from run to run, so pass_s
# of the same code spread by a quarter. A C1-only JVM sizes its code
# cache as a non-tiered one does, 48 MB, which Spark's planner and the
# classes generated on every execution fill within a minute; the sweeper
# then flushes and recompiles methods for the rest of the run, and one
# pass in ten took twice as long. Hence the 512 MB cache (reserved, not
# resident). The full GCs that measure the live heap would otherwise shrink
# the heap to a sixth of the size the first pass grew it to, and the next
# pass would spend its first seconds in young GCs growing it back. No
# hsperfdata file, which the JVM would put in /tmp.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m -XX:MaxHeapFreeRatio=100 -XX:-UsePerfData"
TRACE_RETENTION = {
    "spark.ui.retainedJobs": "20000",
    "spark.ui.retainedStages": "20000",
    "spark.sql.ui.retainedExecutions": "20000",
}

sys.path.insert(0, HERE)

from box import (  # noqa: E402
    OffHeapSampler,
    Sandbox,
    box_record,
    cpu_jiffies,
    cpu_s,
    family,
    heap_range,
    live_heap_mb,
    steal_share,
)
from lake import ensure_lake  # noqa: E402
from spans import Tracer, jobs_within, plan_node_totals, spark_totals, status_store  # noqa: E402
from workloads import WORKLOADS, spec  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )


class Checks:
    """Counts operations (query executions and output checks) and the
    ones that failed; a raised error and a wrong answer both fail."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, label: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.problems.append(f"{label}: {traceback.format_exc(limit=3)}")
            log(f"FAILED {label}")
            return None

    def verify(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{label}: {problems[:3]}")
            log(f"MISMATCH {label}: {problems[:3]}")


def canonical_hash(frame) -> str:
    from etl_showcase_spark.testing import canonicalize

    return hashlib.md5(canonicalize(frame).to_csv(index=False).encode()).hexdigest()


def verify_outputs(checks: Checks, frames: dict, answers: dict, hashes: dict[str, list[str]]) -> None:
    """Oracle queries against their DuckDB answer; oracle-less ones by
    hash, each later pass against the first warm-up pass, and for being
    non-empty."""
    from etl_showcase_spark.testing import compare_frames

    for q, frame in frames.items():
        if frame is None:
            continue
        if q in answers:
            checks.verify(f"{q} vs oracle", compare_frames(frame, answers[q]))
        else:
            checks.verify(f"{q} non-empty", [] if len(frame) else ["no rows"])
            first = canonical_hash(frame)
            for i, h in enumerate(hashes.get(q, [])):
                checks.verify(f"{q} pass {i} hash", [] if h == first else [f"{h} != {first}"])


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = family(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for p in pids[1:]:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:  # ended after the last look
                pass


class Runner:
    def __init__(self, args: argparse.Namespace, nproc: int) -> None:
        self.args = args
        self.nproc = nproc
        self.workload = WORKLOADS[args.workload]
        self.checks = Checks()
        self.report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    def execute(self, q: str, spec, collect: bool, tracer) -> tuple[float, float, object]:
        """Build and run one query; (build s, action s, collected frame)."""
        t0 = time.perf_counter()
        with tracer.span(f"plans.{q}.build"):
            df = spec.build(self.spark, self.lake)
        t1 = time.perf_counter()
        with tracer.span(f"plans.{q}.exec"):
            if collect:
                frame = df.toPandas()
            else:
                df.write.mode("overwrite").format("noop").save()
                frame = None
        return t1 - t0, time.perf_counter() - t1, frame

    def run(self) -> tuple[bool, int, int, dict[str, tuple[float, str]]]:
        args, wl = self.args, self.workload
        tracer = Tracer()
        self.sandbox = Sandbox(RUNS)
        try:
            t = time.perf_counter()
            if args.trace:
                tracer.install()
            from etl_showcase_spark import caching, registry

            specs = {q: registry.all_specs()[q] for q in wl.queries}
            tracer.rebind()
            registry_s = time.perf_counter() - t

            oracles = {q: s.oracle for q, s in specs.items() if s.oracle}
            t = time.perf_counter()
            self.lake, rows, answers = ensure_lake(ROOT, CACHE, wl.scale, args.seed, oracles)
            self.report["lake_rows"] = rows
            self.report["lake_s"] = time.perf_counter() - t

            t = time.perf_counter()
            from etl_showcase_spark.session import get_spark

            self.spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{self.nproc}]",
                shuffle_partitions=self.nproc,
                extra_conf={
                    "spark.ui.enabled": "false",
                    "spark.ui.showConsoleProgress": "false",
                    # a traced run reads every job of its passes back from the
                    # status stores; an untraced one keeps Spark's retention,
                    # whose growth would otherwise show in peak_memory_mb
                    **(TRACE_RETENTION if args.trace else {}),
                    **self.sandbox.spark_conf(),
                    "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} {self.sandbox.java_options()}",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            start_s = time.perf_counter() - t
            try:
                return self._measure(specs, answers, caching, tracer, registry_s, start_s)
            finally:
                stop_spark(self.spark)
        finally:
            self.sandbox.close()

    def _measure(self, specs, answers, caching, tracer, registry_s, start_s):
        args, wl, checks, spark = self.args, self.workload, self.checks, self.spark
        self.report["box"] = box_record(spark, self.nproc)
        oracle_less = {q for q in wl.queries if q not in answers}

        # set-up continued: the workload's warm-up passes. The first keeps
        # every output for the checks, starts any Python workers and measures
        # the live heap after each query's action, before the data the query
        # cached is released. The others let the JIT catch up.
        t = time.perf_counter()
        frames, heap_mb, hashes = {}, 0.0, {q: [] for q in oracle_less}
        for q in wl.queries:
            out = checks.run(f"{q} warm-up", lambda q=q: self.execute(q, specs[q], True, tracer))
            frames[q] = out[2] if out else None
            heap_mb = max(heap_mb, live_heap_mb(spark.sparkContext._jvm))
            caching.release_all()
        for i in range(1, wl.warmups):
            for q in wl.queries:
                out = checks.run(f"{q} warm-up {i}", lambda q=q: self.execute(q, specs[q], q in oracle_less, tracer))
                if out and q in oracle_less:
                    hashes[q].append(canonical_hash(out[2]))
                caching.release_all()
        warmup_s = time.perf_counter() - t
        setup_s = registry_s + start_s + warmup_s
        self.report["setup"] = {
            "registry_s": registry_s,
            "session_start_s": start_s,
            "warmup_s": warmup_s,
            "setup_s": setup_s,
        }

        canary = []
        if args.trace:
            canary.append(self._canary())
        sampler = OffHeapSampler(spark.sparkContext._gateway.proc.pid, heap_range(self.sandbox.jvm_log))
        jiffies = cpu_jiffies()
        passes, written = [], []
        per_query, per_query_cpu = {q: [] for q in wl.queries}, {q: [] for q in wl.queries}
        t_all = time.perf_counter()
        # at least one pass; a traced run needs one traced and one untraced
        min_passes = 2 if args.trace else 1
        while len(passes) < min_passes or time.perf_counter() - t_all < args.seconds:
            traced = bool(args.trace) and len(passes) % 2 == 0
            tracer.enabled = traced
            before = self.sandbox.written() if traced else None
            pids = [p for p in family(os.getpid()) if p != sampler.pid]
            lo, t, cpu0 = time.time(), time.perf_counter(), cpu_s(pids)
            outputs = {}
            for q in wl.queries:
                tracer.execution = len(passes) * len(wl.queries) + wl.queries.index(q)
                q_cpu = cpu_s(pids)
                out = checks.run(f"{q} pass {len(passes)}", lambda q=q: self.execute(q, specs[q], q in oracle_less, tracer))
                if out:
                    per_query[q].append(out[0] + out[1])
                    per_query_cpu[q].append(cpu_s(pids) - q_cpu)
                    outputs[q] = out[2]
                caching.release_all()
            pids = [p for p in family(os.getpid()) if p != sampler.pid]
            passes.append(
                {
                    "wall_s": time.perf_counter() - t,
                    "cpu_s": cpu_s(pids) - cpu0,
                    "traced": traced,
                    "start": lo,
                    "end": time.time(),
                }
            )
            tracer.enabled = False
            for q in oracle_less:  # hashed outside the pass timer
                if outputs.get(q) is not None:
                    hashes[q].append(canonical_hash(outputs[q]))
            if traced:
                after = self.sandbox.written()
                written.append((after[0] - before[0], after[1] - before[1]))
        peak_off_heap = sampler.stop()
        self.report["memory_mb"] = {"peak_off_heap": peak_off_heap, "live_heap": heap_mb}
        self.report["box"]["steal_share"] = steal_share(jiffies, cpu_jiffies())
        if args.trace:
            canary.append(self._canary())

        verify_outputs(checks, frames, answers, hashes)
        self.report.update(passes=passes, per_query_s=per_query, per_query_cpu_s=per_query_cpu, problems=checks.problems)

        if not args.trace:
            walls = [p["wall_s"] for p in passes]
            medians = [statistics.median(v) for v in per_query.values() if v]
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(walls),
                "query_geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians)),
                "peak_memory_mb": heap_mb + peak_off_heap,
            }
            units = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
        else:
            metrics = self._per_layer(tracer, passes, written, canary, registry_s, start_s)
            units = {m["name"]: m["unit"] for m in spec()["per_layer"]}
        self.report["metrics"] = metrics
        self.report["pass_count"] = len(passes)
        return (
            checks.failed == 0,
            checks.attempted,
            checks.failed,
            {n: (float(metrics[n]), units[n]) for n in units},
        )

    def _canary(self) -> float:
        from bench_canary import canary_query

        t = time.perf_counter()
        canary_query(self.spark, self.lake).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t

    def _per_layer(self, tracer, passes, written, canary, registry_s, start_s) -> dict[str, float]:
        traced = [p for p in passes if p["traced"]]
        untraced = [p for p in passes if not p["traced"]]
        n = len(traced)
        intervals = [(p["start"], p["end"]) for p in traced]
        jobs, stages = status_store(self.spark)
        selfs = tracer.self_times()

        def per_pass(name: str, value) -> float:
            return sum(value(s) for s in tracer.spans if s.name == name) / n

        m: dict[str, float] = {
            "session.start_s": start_s,
            "registry.load_s": registry_s,
            "catalog.table_calls": per_pass("catalog.table", lambda s: 1),
            "catalog.table_s": per_pass("catalog.table", lambda s: selfs[s.id]),
            "graph.connected_components_s": per_pass("graph.connected_components", lambda s: selfs[s.id]),
            "graph.connected_components_jobs": per_pass(
                "graph.connected_components", lambda s: jobs_within(jobs, s.start, s.end)
            ),
            "caching.persist_calls": per_pass("caching.tracked_persist", lambda s: 1),
            "caching.release_all_s": per_pass("caching.release_all", lambda s: selfs[s.id]),
            "io.write_snapshot_s": per_pass("io.write_snapshot", lambda s: selfs[s.id]),
            "io.compact_snapshot_s": per_pass("io.compact_snapshot", lambda s: selfs[s.id]),
            "io.written_mb": sum(b for b, _ in written) / n / (1 << 20),
            "io.files_written": sum(f for _, f in written) / n,
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in untraced),
            "box.canary_s": statistics.fmean(canary),
            "trace.overhead_s": statistics.median(p["wall_s"] for p in traced)
            - statistics.median(p["wall_s"] for p in untraced),
        }
        for w in WORKLOADS.values():
            for q in w.queries:
                m[f"plans.{q}.build_s"] = per_pass(f"plans.{q}.build", lambda s: s.end - s.start)
                m[f"plans.{q}.exec_s"] = per_pass(f"plans.{q}.exec", lambda s: s.end - s.start)
                m[f"plans.{q}.jobs"] = sum(
                    jobs_within(jobs, s.start, s.end) for s in tracer.spans if s.name.startswith(f"plans.{q}.")
                ) / n
        totals = spark_totals(jobs, stages, intervals, self.nproc)
        m.update({k: v / n if k not in ("spark.stage_reuse_ratio", "executor.util") else v for k, v in totals.items()})
        m.update({k: v / n for k, v in plan_node_totals(self.spark, intervals).items()})

        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, f"spans-{self.args.workload}-s{self.args.seed}.jsonl"))
        by_name: dict[str, dict[str, float]] = {}
        for s in tracer.spans:
            agg = by_name.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += s.end - s.start
            agg["self_s"] += selfs[s.id]
        self.report["span_summary"] = by_name
        self.report["canary_s"] = canary
        return m


def main(argv: list[str] | None = None) -> int:
    began = time.perf_counter()
    args = parse_args(sys.argv[1:] if argv is None else argv)
    fixture = os.path.join(ROOT, "tests", "fixtures", "sf0.001", "lineitem.parquet")
    if not os.path.isdir(os.path.join(ROOT, "etl_showcase_spark")) or not os.path.isfile(fixture):
        log(f"no engine checkout at {ROOT}: etl_showcase_spark/ and the smoke fixture are required")
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    runner = Runner(args, nproc)
    correct, attempted, failed, metrics = runner.run()
    runner.report["wall_s"] = time.perf_counter() - began
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"run-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(runner.report, f, indent=1, default=str)
    print(result_line(correct, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
