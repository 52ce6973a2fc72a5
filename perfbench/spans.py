"""Tracing for the benchmark's traced run.

Spans are recorded from outside the engine: the runner opens one
around each query's build and each query's action, and ``install``
swaps each layer's public entry points for wrappers that open a span
around the call. Plan modules bind those functions by name when they
are imported, so ``install`` runs before the registry loads the plan
modules, and ``rebind`` afterwards re-points any module-level name that
still holds an unwrapped original.

Spark's own numbers come from the driver's status stores at no extra
job: jobs and stages from the application status store, plan-node
metrics from the SQL status store.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from workloads import NODE_FAMILIES

# span name -> (module, function) of each wrapped layer entry point
LAYER_CALLS = {
    "caching.tracked_persist": ("etl_showcase_spark.caching", "tracked_persist"),
    "caching.release_all": ("etl_showcase_spark.caching", "release_all"),
    "catalog.table": ("etl_showcase_spark.catalog", "table"),
    "io.write_snapshot": ("etl_showcase_spark.sources.io", "write_snapshot"),
    "io.compact_snapshot": ("etl_showcase_spark.sources.io", "compact_snapshot"),
    "graph.connected_components": ("etl_showcase_spark.operators.graph", "connected_components"),
}


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark's job times
    end: float
    parent: int | None
    execution: int | None  # shared by the spans of one query execution


class Tracer:
    """In-memory span recorder; spans are kept only while ``enabled``."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.execution: int | None = None
        self._stack: list[int] = []
        self._originals: dict[int, object] = {}  # id(original) -> wrapper

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        s = Span(sid, name, time.time(), 0.0, self._stack[-1] if self._stack else None, self.execution)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every LAYER_CALLS entry point in its own module."""
        for name, (mod, attr) in LAYER_CALLS.items():
            module = importlib.import_module(mod)
            fn = getattr(module, attr)
            self._originals[id(fn)] = self.wrap(name, fn)
            setattr(module, attr, self._originals[id(fn)])
        self.rebind()

    def rebind(self) -> None:
        """Point every engine module's name for an original at its wrapper."""
        for mod_name, module in list(sys.modules.items()):
            if not mod_name.startswith("etl_showcase_spark") or module is None:
                continue
            for attr, value in list(vars(module).items()):
                wrapped = self._originals.get(id(value))
                if wrapped is not None and value is not wrapped:
                    setattr(module, attr, wrapped)

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the time its child spans cover
        (children of one thread never overlap, so their durations add)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.id: (s.end - s.start) - child[s.id] for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": selfs[s.id]}) + "\n")


def _mapper(spark):
    jvm = spark.sparkContext._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = jvm.com.fasterxml.jackson.module.scala
    mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
    return mapper


def status_store(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) of the application status store, as the REST API's
    JSON — two calls into the JVM however many jobs ran."""
    sc = spark.sparkContext
    jvm, store = sc._jvm, sc._jsc.sc().statusStore()
    mapper = _mapper(spark)
    jobs = store.jobsList(jvm.java.util.ArrayList())
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    return json.loads(mapper.writeValueAsString(jobs)), json.loads(mapper.writeValueAsString(stages))


_DURATION = re.compile(r"^([\d.,]+) (ms|s|m|h)$")
_TO_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_ROWS = ("number of output rows", "shuffle records written")


def node_family(name: str) -> str | None:
    if name.startswith("InMemoryTableScan"):
        return "cache_scan"
    if "Scan" in name:
        return "scan"
    if "Exchange" in name or name == "AQEShuffleRead":
        return "exchange"
    if "Python" in name or "Pandas" in name or "InArrow" in name:
        return "python"
    if "Aggregate" in name:
        return "aggregate"
    if "Join" in name or name == "CartesianProduct":
        return "join"
    if name.startswith("Window"):
        return "window"
    if name == "Sort" or name == "TakeOrderedAndProject":
        return "sort"
    return None


def metric_total(value: str) -> str:
    """The total of a rendered SQL metric: a multi-task metric renders as
    ``total (min, med, max (stageId: taskId))\n<total> (<min>, ...)``."""
    if value.startswith("total ("):
        value = value.split("\n", 1)[-1]
    return value.split(" (", 1)[0].strip()


def add_node_metrics(totals: dict[str, float], nodes: list[dict], values: dict[str, str], seen: set[int]) -> None:
    """Add one SQL execution's plan-node metrics to per-family totals.

    ``nodes`` are the plan graph's nodes (name, metrics with accumulator id
    and type), ``values`` the rendered metric values by accumulator id. A
    cached plan scanned by several executions shows its nodes, with the same
    accumulators, in each of their graphs; ``seen`` makes each accumulator
    count once.
    """
    for node in nodes:
        fam = node_family(node["name"])
        if fam is None:
            continue
        for metric in node["metrics"]:
            acc = metric["accumulatorId"]
            value = values.get(str(acc))
            if value is None or acc in seen:
                continue
            seen.add(acc)
            total = metric_total(value)
            m = _DURATION.match(total)
            if metric["metricType"] in ("timing", "nsTiming") and m:
                totals[f"node.{fam}.time_ms"] += float(m.group(1).replace(",", "")) * _TO_MS[m.group(2)]
            elif metric["name"] in _ROWS:
                totals[f"node.{fam}.rows"] += int(total.replace(",", "") or 0)


def plan_node_totals(spark, intervals: list[tuple[float, float]]) -> dict[str, float]:
    """Per-family node time and rows over the SQL executions submitted
    inside any of ``intervals`` (epoch seconds)."""
    store = spark._jsparkSession.sharedState().statusStore()
    mapper = _mapper(spark)
    execs = store.executionsList()
    totals = {f"node.{f}.{k}": 0.0 for f in NODE_FAMILIES for k in ("time_ms", "rows")}
    seen: set[int] = set()
    for i in range(execs.size()):
        e = execs.apply(i)
        t = e.submissionTime() / 1e3
        if not any(lo <= t <= hi for lo, hi in intervals):
            continue
        eid = e.executionId()
        nodes = json.loads(mapper.writeValueAsString(store.planGraph(eid).allNodes()))
        values = json.loads(mapper.writeValueAsString(store.executionMetrics(eid)))
        add_node_metrics(totals, nodes, values, seen)
    return totals


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return covered


def spark_totals(
    jobs: list[dict], stages: list[dict], passes: list[tuple[float, float]], nproc: int
) -> dict[str, float]:
    """Job, stage and executor totals over the jobs submitted inside
    ``passes``, plus the pass time no job interval covers."""
    inside = [
        j for j in jobs if j.get("submissionTime") and any(lo <= j["submissionTime"] / 1e3 <= hi for lo, hi in passes)
    ]
    stage_ids = {s for j in inside for s in j["stageIds"]}
    ran = [s for s in stages if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    n_stages = sum(len(j["stageIds"]) for j in inside)
    skipped = sum(j["numSkippedStages"] for j in inside)
    job_iv = [
        (j["submissionTime"] / 1e3, (j.get("completionTime") or j["submissionTime"]) / 1e3) for j in inside
    ]
    wall = sum(hi - lo for lo, hi in passes)
    run_s = sum(s["executorRunTime"] for s in ran) / 1e3
    mb = float(1 << 20)
    return {
        "spark.jobs": len(inside),
        "spark.stages": n_stages,
        "spark.stages_skipped": skipped,
        "spark.stage_reuse_ratio": skipped / n_stages if n_stages else 0.0,
        "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran),
        "spark.tasks_failed": sum(s["numFailedTasks"] for s in ran),
        "executor.run_s": run_s,
        "executor.cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "executor.gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "executor.util": run_s / (wall * nproc) if wall else 0.0,
        "driver.gap_s": wall - sum(_covered(job_iv, lo, hi) for lo, hi in passes),
        "exchange.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in ran) / 1e3,
        "exchange.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / mb,
        "exchange.shuffle_records": sum(s["shuffleWriteRecords"] for s in ran),
        "scan.input_mb": sum(s["inputBytes"] for s in ran) / mb,
        "spill.mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran) / mb,
    }


def jobs_within(jobs: list[dict], lo: float, hi: float) -> int:
    return sum(1 for j in jobs if j.get("submissionTime") and lo <= j["submissionTime"] / 1e3 <= hi)
