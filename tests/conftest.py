"""Shared fixtures: one SparkSession per test run, DuckDB oracle."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running stress variant whose smaller sibling "
        "covers the same invariant in-budget; deselected by default "
        "so the whole suite fits the driver's verify window — set "
        "SPARK_GRAFT_FULL_TESTS=1 to run everything (round-close "
        "verification does)",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow stress variant (SPARK_GRAFT_FULL_TESTS=1 runs it)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from turnover_odata_etl_spark.session import get_spark

    # Four task slots: the fixture tables are a few KB, so each stage
    # is scheduling and Python-worker start-up, not compute, and more
    # slots than a small host's cores only add contention (the suite
    # ran ~25% slower under local[8] on 4 vCPUs). Shuffle partitions
    # stay at 8, so plans and file layouts match the other settings.
    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def registered_query(spark, sf_dir):
    """``name -> (DataFrame, plan)``: a registered query built on the
    fixture dir ONCE for its two whole-registry checks (the oracle
    comparison and the no-row-wise-UDF plan check). Many builders
    write and commit tables before they return a frame, so a second
    build costs as much as the first. ``plan`` is the simple explain
    taken right after the build, before any action: once the frame has
    run, AQE's final plan may swap a branch that came out empty for an
    empty scan and drop the nodes the plan check looks for. The first
    caller builds and holds the pair; the second takes it. Streaming
    queries are not held: the plan check skips them."""
    from turnover_odata_etl_spark.plans import registry

    from .test_plan_shape import plan_str

    specs = registry.all_specs()
    held: dict = {}

    def get(name: str):
        if name in held:
            return held.pop(name)
        df = specs[name].fn(spark, sf_dir)
        if "streaming" in specs[name].tags:
            return df, None
        held[name] = built = (df, plan_str(df, mode="simple"))
        return built

    return get


@pytest.fixture()
def parquet_spy(spark, monkeypatch):
    """Record every parquet path spark.read.parquet opens — the
    shared prune-assertion spy (review r12: previously copy-pasted
    per test module). Yields the live list; paths accumulate until
    the test ends, ``opened.clear()`` between probes."""
    opened: list[str] = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        opened.extend(paths)
        return real_parquet(reader, *paths)

    monkeypatch.setattr(type(spark.read), "parquet", spy)
    yield opened
    monkeypatch.undo()
