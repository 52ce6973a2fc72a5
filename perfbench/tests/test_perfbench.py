"""Self-tests of the benchmark (no Spark unless PERFBENCH_E2E=1).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import box  # noqa: E402
import lake  # noqa: E402
import run  # noqa: E402
from spans import Tracer, add_node_metrics  # noqa: E402
from workloads import NODE_FAMILIES, WORKLOADS, spec  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_perturbed_frame_counts_as_failure():
    expected = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    checks = run.Checks()
    run.verify_outputs(checks, {"q": expected.copy()}, {"q": expected}, {})
    assert (checks.attempted, checks.failed) == (1, 0)
    perturbed = expected.copy()
    perturbed.loc[1, "v"] = 1.5000000001
    run.verify_outputs(checks, {"q": perturbed}, {"q": expected}, {})
    assert (checks.attempted, checks.failed) == (2, 1)


def test_changed_hash_of_an_oracle_less_query_counts_as_failure():
    frame = pd.DataFrame({"a": [1, 2], "b": [3, 4]})
    good = run.canonical_hash(frame.iloc[::-1])  # row order does not matter
    checks = run.Checks()
    run.verify_outputs(checks, {"q": frame}, {}, {"q": [good, "0" * 32]})
    assert checks.attempted == 3  # non-empty + two passes
    assert checks.failed == 1


def test_a_raised_error_counts_as_failure():
    checks = run.Checks()
    assert checks.run("boom", lambda: 1 / 0) is None
    assert (checks.attempted, checks.failed) == (1, 1)


def test_every_metric_name_is_valid_and_carries_a_unit():
    metrics = [*spec()["end_to_end"], *spec()["per_layer"]]
    for m in metrics:
        assert NAME.match(m["name"]), m
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))


def test_benchmark_json_names_the_runners_workloads():
    doc = spec()
    assert doc["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert len(doc["per_layer"]) <= 128


def test_result_line_parses():
    metrics = {m["name"]: (1.25, m["unit"]) for m in spec()["end_to_end"]}
    doc = json.loads(run.result_line(True, 10, 0, metrics))
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert doc["metrics"]["pass_s"] == {"value": 1.25, "unit": "s"}


def test_same_seed_same_lake_other_seed_other_lake(tmp_path):
    def files(out):
        return {
            os.path.relpath(os.path.join(d, n), out): open(os.path.join(d, n), "rb").read()
            for d, _, names in os.walk(out)
            for n in names
        }

    a, b, c = (str(tmp_path / x) for x in "abc")
    rows = lake.build_lake(ROOT, a, 2, 5)
    assert lake.build_lake(ROOT, b, 2, 5) == rows
    lake.build_lake(ROOT, c, 2, 6)
    assert files(a) == files(b)
    assert files(a) != files(c)
    assert rows["lineitem"] == 2 * 6000 and rows["nation"] == 25


def test_jvm_log_gives_the_heap_range(tmp_path):
    log = tmp_path / "jvm.log"
    log.write_text(
        "[0.005s][debug][gc,heap,coops] Heap address: 0x0000000600000000, size: 8192 MB, "
        "Compressed Oops mode: Zero based, Oop shift amount: 3\n"
    )
    assert box.heap_range(str(log)) == (0x600000000, 8192 << 20)


def test_off_heap_sampler_reports_a_peak():
    sampler = box.OffHeapSampler(os.getpid(), (0, 0))  # no heap range: all of it is off-heap
    assert sampler.stop() > 0


def test_self_time_subtracts_children():
    t = Tracer()
    t.enabled = True
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    selfs = t.self_times()
    assert inner.parent == outer.id
    assert selfs[outer.id] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))


def test_plan_node_metrics_count_each_accumulator_once():
    exchange = {
        "name": "Exchange",
        "metrics": [
            {"name": "shuffle records written", "accumulatorId": 1, "metricType": "sum"},
            {"name": "shuffle write time", "accumulatorId": 2, "metricType": "nsTiming"},
            {"name": "data size", "accumulatorId": 3, "metricType": "size"},
        ],
    }
    values = {
        "1": "1,000",
        "2": "total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 3 ms, 7 ms (stage 11.0: task 23))",
        "3": "12.1 KiB",
    }
    project = {"name": "Project", "metrics": [{"name": "number of output rows", "accumulatorId": 4, "metricType": "sum"}]}
    totals = {f"node.{f}.{k}": 0.0 for f in NODE_FAMILIES for k in ("time_ms", "rows")}
    seen: set[int] = set()
    for _ in range(2):  # the same cached plan in two executions
        add_node_metrics(totals, [exchange, project], {**values, "4": "7"}, seen)
    assert totals["node.exchange.time_ms"] == 1500.0
    assert totals["node.exchange.rows"] == 1000
    assert sum(totals.values()) == 2500.0


def test_runs_nothing_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", next(iter(WORKLOADS)), "--seed", "1", "--seconds", "1"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2
    assert "no engine checkout" in proc.stderr
    assert "metrics" not in proc.stdout


@pytest.mark.skipif(not os.environ.get("PERFBENCH_E2E"), reason="starts Spark; set PERFBENCH_E2E=1")
def test_one_command_prints_every_end_to_end_metric():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", next(iter(WORKLOADS)), "--seed", "0", "--seconds", "1"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    doc = json.loads(proc.stdout.strip().splitlines()[-1])
    assert doc["correct"] and doc["failed"] == 0 and doc["attempted"] >= 1
    units = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {n: doc["metrics"][n]["unit"] for n in units} == units
