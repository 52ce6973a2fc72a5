"""Curation + graph operator unit tests (deterministic fixtures, exact
asserts — the reference's test pattern, tests/test_spark_transform.py)."""

from __future__ import annotations

import os
import random
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from etl_showcase_spark.operators.curation import (
    per_group_cap,
    sequence_pack,
    train_val_test_split,
)
from etl_showcase_spark.operators.graph import connected_components

from .conftest import union_find_components


def test_connected_components_two_clusters_and_chain(spark):
    # component {1,2,3,4} is a chain (worst case for naive propagation:
    # label must travel the full diameter), {10,11} a pair; 99 isolated
    # nodes don't appear in edges and so don't appear in the output
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


_PATH_IDS = random.Random(13).sample(range(1000, 1200), 200)

CC_CASES = {
    # the path's ids are not ordered along it
    "two_components_and_path": [(2, 1), (2, 3), (10, 11), (12, 10), (31, 7), (7, 52), (52, 13), (13, 40)],
    "self_loop": [(5, 5), (6, 5), (8, 8)],
    "duplicates": [(1, 2), (1, 2), (2, 1), (3, 4), (4, 3), (4, 3), (2, 4)],
    "empty": [],
    "null_endpoint": [(1, 2), (None, 3), (4, None), (2, 6)],
    # min-label propagation needs O(diameter) rounds here, far past the
    # default max_iter; FastSV needs 8
    "shuffled_path": list(zip(_PATH_IDS, _PATH_IDS[1:])),
}


@pytest.mark.parametrize("case", sorted(CC_CASES))
def test_connected_components_paths_match_union_find(spark, cc_path, case):
    edges = spark.createDataFrame(CC_CASES[case], "src long, dst long")
    out = connected_components(edges)
    assert out.schema.simpleString() == "struct<id:bigint,component:bigint>"
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == union_find_components(CC_CASES[case])


def test_connected_components_long_chain_converges(spark, monkeypatch):
    # the shuffled path's FastSV labels are checked above; a round
    # budget short of its 8 rounds raises rather than return split labels
    monkeypatch.setattr("etl_showcase_spark.operators.graph._ONE_TASK_MAX_EDGES", -1)
    edges = spark.createDataFrame(CC_CASES["shuffled_path"], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(edges, max_iter=2)


def test_cc_solver_pickles_by_value(tmp_path):
    # executor workers may not be able to import the package: the
    # one-task solve must unpickle and run in an interpreter where it
    # is absent
    from pyspark import cloudpickle

    from etl_showcase_spark.operators.graph import _make_cc_solver

    script = (
        "import importlib.util, pickle, sys\nimport pyarrow as pa\n"
        "assert importlib.util.find_spec('etl_showcase_spark') is None, 'importable'\n"
        "solve = pickle.loads(sys.stdin.buffer.read())\n"
        "rb = pa.RecordBatch.from_pydict({'a': pa.array([9, 4, 7], pa.int64()), "
        "'b': pa.array([4, 2, 8], pa.int64())})\n"
        "out = pa.Table.from_batches(list(solve(iter([rb]))))\n"
        "print(sorted(zip(out['id'].to_pylist(), out['component'].to_pylist())))\n"
    )
    run = subprocess.run(
        [sys.executable, "-c", script],
        input=cloudpickle.dumps(_make_cc_solver()),
        cwd=tmp_path,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        capture_output=True,
        timeout=120,
    )
    assert run.returncode == 0, run.stderr.decode()
    assert run.stdout.decode().strip() == "[(2, 2), (4, 2), (7, 7), (8, 7), (9, 2)]"


def test_split_is_stable_under_corpus_growth(spark):
    small = spark.createDataFrame([(i,) for i in range(50)], ["k"])
    big = spark.createDataFrame([(i,) for i in range(200)], ["k"])
    s_small = {
        (r["k"], r["split"])
        for r in train_val_test_split(small, "k").collect()
    }
    s_big = {
        (r["k"], r["split"])
        for r in train_val_test_split(big, "k").collect()
    }
    # a doc's split never changes when the corpus grows
    assert s_small <= s_big


def test_per_group_cap_exact(spark):
    df = spark.createDataFrame(
        [(g, i) for g in ("a", "b") for i in range(30)], ["g", "k"]
    )
    out = per_group_cap(df, ["g"], "k", 10)
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 10, "b": 10}
    # deterministic: same selection on re-run
    again = per_group_cap(df, ["g"], "k", 10)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_sequence_pack_respects_budget_boundaries(spark):
    # tokens 60,60,60 with budget 100: prefix sums 0,60,120 -> bins 0,0,1
    df = spark.createDataFrame([(1, 60), (2, 60), (3, 60)], ["k", "tok"])
    bins = {
        r["k"]: r["bin_id"]
        for r in sequence_pack(df, "k", "tok", 100, global_ok=True).collect()
    }
    assert bins == {1: 0, 2: 0, 3: 1}


def test_sequence_pack_requires_partitioning_or_opt_in(spark):
    # the single-reducer global window must be an explicit choice
    df = spark.createDataFrame([(1, 60)], ["k", "tok"])
    with pytest.raises(ValueError, match="single-reducer"):
        sequence_pack(df, "k", "tok", 100)


def test_partial_final_aggregation_g11(spark):
    # G11: Catalyst splits every groupBy into partial (map-side) and
    # final HashAggregate around one Exchange — assert the physical
    # plan carries both, i.e. the shuffle moves pre-aggregated rows
    import io
    from contextlib import redirect_stdout

    from etl_showcase_spark.plans.core import q1_pricing_summary

    from .conftest import SF_SMOKE

    df = q1_pricing_summary(spark, SF_SMOKE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_pps_sample_favors_heavy_rows(spark):
    from pyspark.sql import functions as F

    from etl_showcase_spark.catalog import table
    from etl_showcase_spark.operators.curation import pps_weighted_sample

    from .conftest import SF_SMOKE

    d = table(spark, SF_SMOKE, "documents")
    kept = pps_weighted_sample(d, "doc_id", "n_chars")
    n_all, n_kept = d.count(), kept.count()
    assert 0 < n_kept < n_all
    mean_all = d.agg(F.avg("n_chars")).collect()[0][0]
    mean_kept = kept.agg(F.avg("n_chars")).collect()[0][0]
    # PPS must tilt the sample toward longer documents
    assert mean_kept > mean_all
    # determinism: same call, same kept set
    ids1 = {r["doc_id"] for r in kept.select("doc_id").collect()}
    ids2 = {
        r["doc_id"]
        for r in pps_weighted_sample(d, "doc_id", "n_chars").select("doc_id").collect()
    }
    assert ids1 == ids2
