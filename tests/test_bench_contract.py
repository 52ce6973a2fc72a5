"""Pin the bench stdout contract (round 14, VERDICT r13 item 8).

Round 12's instrument failure: an oversized stdout line pushed the
compact metric JSON past the driver's ~2000-char stdout-tail capture
and the round lost its timing signal (BENCH_r12.json parsed: null).
These tests make that structurally impossible to regress:

- the FINAL print of bench.main is the compact metric line (AST-pinned,
  so a refactor can't silently append output after it);
- for the CURRENT bench suite the line carries the full object and
  stays far under the cap;
- when the suite outgrows the cap, the renderer degrades stepwise but
  the line still parses and still carries the driver-required keys.
"""

from __future__ import annotations

import ast
import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metric_doc(n_queries: int, name_len: int = 24) -> dict:
    queries = {f"q{'x' * name_len}{i:04d}": 0.123 for i in range(n_queries)}
    return {
        "metric": "headline-suite wall time",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "canary_s": 0.3,
        "canary_s_mid": 0.31,
        "canary_s_post": 0.29,
        "canary_s_median": 0.3,
        "canary_spread": 0.07,
        "canary_noisy": False,
        "value_normalized": 4.1,
        "queries_normalized": {n: 0.41 for n in queries},
    }


def test_current_suite_line_fits_without_degradation():
    """The real bench set (11+ queries) must render the FULL object in
    one line comfortably under the driver's capture window."""
    from etl_showcase_spark.registry import bench_specs

    doc = _metric_doc(0)
    doc["queries"] = {n: 1.234 for n in bench_specs()}
    doc["queries_normalized"] = {n: 4.56 for n in doc["queries"]}
    line = bench.compact_metric_line(doc)
    assert line == json.dumps(doc)  # no degradation today
    assert len(line) < 1500
    assert json.loads(line)["queries"] == doc["queries"]


def test_oversized_suite_degrades_but_always_parses():
    # step 0: a small suite renders in full
    doc = _metric_doc(3)
    line = bench.compact_metric_line(doc)
    assert line == json.dumps(doc) and len(line) <= 1500
    # step 1: drop queries_normalized
    doc = _metric_doc(30)
    line = bench.compact_metric_line(doc)
    parsed = json.loads(line)
    assert len(line) <= 1500
    assert parsed["value"] == doc["value"] and parsed["queries"] == doc["queries"]
    # step 2: hundreds of queries -> driver-required keys only, with
    # queries cut to the slowest ones that fit
    doc = _metric_doc(400)
    doc["queries"] = {n: round(0.001 * i, 3) for i, n in enumerate(doc["queries"])}
    line = bench.compact_metric_line(doc)
    parsed = json.loads(line)
    assert len(line) <= 1500
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in parsed
    kept = parsed["queries"]
    assert kept and len(kept) + parsed["queries_truncated"] == len(doc["queries"])
    assert min(kept.values()) >= max(
        t for n, t in doc["queries"].items() if n not in kept
    )
    assert all(doc["queries"][n] == t for n, t in kept.items())


def test_metric_line_is_the_last_print_of_main():
    """AST pin: bench.main's final print call must be
    print(compact_metric_line(out)) — nothing may print after it (the
    driver parses the LAST stdout line)."""
    src = open(os.path.join(REPO, "bench.py")).read()
    tree = ast.parse(src)
    main_fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "main"
    )
    prints = [
        n
        for n in ast.walk(main_fn)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "print"
    ]
    last = max(prints, key=lambda n: n.lineno)
    arg = last.args[0]
    assert (
        isinstance(arg, ast.Call)
        and isinstance(arg.func, ast.Name)
        and arg.func.id == "compact_metric_line"
    ), "bench.main's final print must be print(compact_metric_line(out))"
