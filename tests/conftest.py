from __future__ import annotations

import os

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from etl_showcase_spark.session import get_spark

    # local[default_cpus()] with as many shuffle partitions (the
    # get_spark defaults), so $SPARK_GRAFT_CPUS reaches the tests too
    spark = get_spark(
        app_name="etl-showcase-tests",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "6g"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle setup."""
    import duckdb

    from etl_showcase_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(params=["one_task", "fastsv"])
def cc_path(request, monkeypatch):
    """Run the test under each connected_components execution path: a
    one-task limit of -1 sends every edge list, an empty one too, to
    the FastSV rounds."""
    if request.param == "fastsv":
        monkeypatch.setattr("etl_showcase_spark.operators.graph._ONE_TASK_MAX_EDGES", -1)
    return request.param


def union_find_components(edges):
    """Pure-Python connected-components reference: {node: min node of
    its component}; an edge with a None endpoint is skipped."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            # the smaller root wins, so every root is its set's min
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
