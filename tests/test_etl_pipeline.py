"""Golden end-to-end test: the reference-shaped pipeline against a
mock OData server, CSV sink compared to expected content (SURVEY §5
mechanism 1 — golden-file-by-git)."""

from __future__ import annotations

import glob
import weakref

import pytest

from turnover_odata_etl_spark.etl import ETLConfig, extract, run_etl, sink_csv
from turnover_odata_etl_spark.sources.mock_server import MockOData

WIRE_ROWS = [
    {
        "TEMPLOYEE_UUID": "Jane Doe",
        "CEMPLOYEE_UUID": "44",
        "C0DATEFROM": "/Date(1776729600000)/",
        "C0DATETO": "/Date(1779321600000)/",
        "KCLEAVERS": "1",
        "COCHAR_STRUCTURE": "STRUCT_B",
        "__metadata": {"uri": "http://x", "type": "T"},
    },
    {  # duplicate row — must collapse
        "TEMPLOYEE_UUID": "Jane Doe",
        "CEMPLOYEE_UUID": "44",
        "C0DATEFROM": "/Date(1776729600000)/",
        "C0DATETO": "/Date(1779321600000)/",
        "KCLEAVERS": "1",
        "COCHAR_STRUCTURE": "STRUCT_B",
        "__metadata": {"uri": "http://x", "type": "T"},
    },
    {
        "TEMPLOYEE_UUID": "Jo O'Brien",
        "CEMPLOYEE_UUID": "117",
        "C0DATEFROM": "/Date(1700000000000)/",
        "C0DATETO": "/Date(1705000000000)/",
        "KCLEAVERS": "2",
        "COCHAR_STRUCTURE": "STRUCT_A",
        "__metadata": {"uri": "http://y", "type": "T"},
    },
    {  # missing structure — filtered by the not-null/non-empty rule
        "TEMPLOYEE_UUID": "Ghost",
        "CEMPLOYEE_UUID": "999",
        "C0DATEFROM": "/Date(1700000000000)/",
        "C0DATETO": "/Date(1705000000000)/",
        "KCLEAVERS": "0",
        "COCHAR_STRUCTURE": "",
        "__metadata": {"uri": "http://z", "type": "T"},
    },
]
FIELDS = [
    "TEMPLOYEE_UUID",
    "CEMPLOYEE_UUID",
    "C0DATEFROM",
    "C0DATETO",
    "KCLEAVERS",
    "COCHAR_STRUCTURE",
    "__metadata",
]


@pytest.fixture()
def mock_server():
    m = MockOData(WIRE_ROWS, FIELDS, version=2, page_size=2)
    m.start()
    yield m
    m.stop()


def test_run_etl_end_to_end(spark, mock_server, tmp_path):
    cfg = ETLConfig(base_url=mock_server.base_url, entity="Turnover")
    df = run_etl(spark, cfg)

    rows = {r["Employee ID"]: r.asDict() for r in df.collect()}
    # dup collapsed, ghost filtered
    assert set(rows) == {"44", "117"}
    assert rows["44"]["Structure"] == "STRUCT_B"
    # wire dates decoded to real timestamps
    assert rows["44"]["Date From"].year == 2026
    assert rows["117"]["Employee"] == "Jo O'Brien"

    out_dir = tmp_path / "golden"
    sink_csv(df, str(out_dir))
    (csv_file,) = glob.glob(f"{out_dir}/part-*.csv")
    content = open(csv_file).read()
    header = content.splitlines()[0]
    assert header.split(",")[:6] == [
        "Employee",
        "Employee ID",
        "Date From",
        "Date To",
        "K Cleavers",
        "Structure",
    ]
    assert "Jane Doe" in content and "STRUCT_B" in content
    assert "Ghost" not in content


def test_run_etl_raw_parity_mode(spark, mock_server):
    """decode_dates=False keeps /Date(ms)/ strings — byte-parity with
    the reference's undecoded output (data/employee_data.csv:2)."""
    cfg = ETLConfig(
        base_url=mock_server.base_url, entity="Turnover", decode_dates=False
    )
    df = run_etl(spark, cfg)
    r44 = {r["Employee ID"]: r for r in df.collect()}["44"]
    assert r44["Date From"] == "/Date(1776729600000)/"


def test_extract_plans_at_most_default_parallelism_partitions(spark):
    """More structure values than cores pack into at most
    defaultParallelism scan partitions, and every row still arrives."""
    n_values = spark.sparkContext.defaultParallelism + 3
    rows = [
        {**WIRE_ROWS[0], "CEMPLOYEE_UUID": str(i), "COCHAR_STRUCTURE": f"S{i % n_values:02d}"}
        for i in range(3 * n_values)
    ]
    m = MockOData(rows, FIELDS, version=2, page_size=2)
    m.start()
    try:
        cfg = ETLConfig(base_url=m.base_url, entity="Turnover")
        scan = extract(spark, cfg)
        assert 1 < scan.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
        out = run_etl(spark, cfg)
        assert sorted(int(r["Employee ID"]) for r in out.collect()) == list(range(3 * n_values))
    finally:
        m.stop()


def test_extract_registers_source_once_per_session(spark, mock_server, monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    from turnover_odata_etl_spark import etl

    calls = []
    real = DataSourceRegistration.register
    monkeypatch.setattr(etl, "_REGISTERED", weakref.WeakSet())
    monkeypatch.setattr(
        DataSourceRegistration, "register",
        lambda self, ds: (calls.append(ds), real(self, ds))[1],
    )
    cfg = ETLConfig(base_url=mock_server.base_url, entity="Turnover")
    extract(spark, cfg)
    extract(spark, cfg)
    assert len(calls) == 1
