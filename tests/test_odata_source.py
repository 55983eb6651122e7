"""Connector tests against the in-process mock OData server.

Covers the reference's protocol edge behaviors (SURVEY §5): V2/V4
envelopes, pagination, quote escaping, candidate-field probe fallback,
per-partition skip-and-continue, filter pushdown reaching the wire.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from turnover_odata_etl_spark.sources.mock_server import MockOData
from turnover_odata_etl_spark.sources.odata_client import (
    ODataClient,
    ODataError,
    build_filter_eq,
    entity_url,
    extract_missing_segment,
    extract_results_and_next,
)
from turnover_odata_etl_spark.sources.odata_source import (
    ODataDataSource,
    pack_values,
)

ROWS = [
    {"Employee": "alice", "Structure": "S1", "K": "1"},
    {"Employee": "bob", "Structure": "S1", "K": "2"},
    {"Employee": "carol", "Structure": "S2", "K": "3"},
    {"Employee": "dave", "Structure": "S2", "K": "4"},
    {"Employee": "erin", "Structure": "O'HARA", "K": "5"},
    {"Employee": "frank", "Structure": "", "K": "6"},
    {"Employee": "grace", "Structure": "S3", "K": "7"},
]
FIELDS = ["Employee", "Structure", "K"]


@pytest.fixture()
def mock_v2():
    m = MockOData(ROWS, FIELDS, version=2, page_size=3)
    m.start()
    yield m
    m.stop()


@pytest.fixture()
def mock_v4():
    m = MockOData(ROWS, FIELDS, version=4, page_size=2)
    m.start()
    yield m
    m.stop()


# -- pure client ------------------------------------------------------------


def test_envelope_v2_v4():
    rows, nxt = extract_results_and_next(
        {"d": {"results": [{"a": 1}], "__next": "u"}}
    )
    assert rows == [{"a": 1}] and nxt == "u"
    rows, nxt = extract_results_and_next(
        {"value": [{"a": 2}], "@odata.nextLink": "v"}
    )
    assert rows == [{"a": 2}] and nxt == "v"
    rows, nxt = extract_results_and_next({"value": [], "odata.nextLink": "w"})
    assert rows == [] and nxt == "w"
    assert extract_results_and_next({}) == ([], None)


def test_quote_escape_and_url():
    assert build_filter_eq("S", "O'HARA") == "S eq 'O''HARA'"
    assert entity_url("http://h/", "/svc/", "E") == "http://h/svc/E"


def test_missing_segment_parse():
    assert (
        extract_missing_segment("Resource not found for the segment 'COCHAR_X' of")
        == "COCHAR_X"
    )
    assert extract_missing_segment("nope") is None


def test_client_pagination_and_filter(mock_v2):
    client = ODataClient(mock_v2.base_url)
    pages = list(client.fetch_pages("Emp"))
    assert [len(p) for p in pages] == [3, 3, 1]  # page_size=3 over 7 rows
    rows = [
        r
        for page in client.fetch_pages("Emp", filter_=build_filter_eq("Structure", "O'HARA"))
        for r in page
    ]
    assert [r["Employee"] for r in rows] == ["erin"]


def test_client_probe_fallback(mock_v2):
    client = ODataClient(mock_v2.base_url)
    assert client.probe_field("Emp", ["NOPE_A", "Structure"]) == "Structure"
    with pytest.raises(LookupError):
        client.probe_field("Emp", ["NOPE_A", "NOPE_B"])


def test_client_error_context(mock_v2):
    client = ODataClient(mock_v2.base_url)
    with pytest.raises(ODataError) as ei:
        client.get_json(mock_v2.base_url + "/Emp", {"$filter": "bogus gt"})
    assert ei.value.status == 400


def test_distinct_values_sorted_nonempty(mock_v2):
    client = ODataClient(mock_v2.base_url)
    # empty-string structure is dropped (truthiness filter, etl.py:135);
    # each value carries its row count, in value order
    counts = client.value_counts("Emp", "Structure")
    assert counts == {"O'HARA": 1, "S1": 2, "S2": 2, "S3": 1}
    assert list(counts) == ["O'HARA", "S1", "S2", "S3"]


def test_discovery_warns_at_top_ceiling(mock_v2, caplog):
    """Values first appearing past the $top ceiling get no partition:
    reaching the ceiling must be a WARNING naming entity, field and
    ceiling; staying under it must not warn."""
    client = ODataClient(mock_v2.base_url)
    logger = "turnover_odata_etl_spark.sources.odata_client"
    with caplog.at_level(logging.WARNING, logger=logger):
        assert client.value_counts("Emp", "Structure", top=3) == {"S1": 2, "S2": 1}
    (rec,) = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert "Emp" in rec.getMessage() and "Structure" in rec.getMessage()
    assert "$top=3" in rec.getMessage()
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=logger):
        client.value_counts("Emp", "Structure", top=8)
    assert not [r for r in caplog.records if r.levelno == logging.WARNING]
    assert any("%24top=3" in r for r in mock_v2.requests)


def test_pack_values_balanced_heaviest_first_deterministic():
    counts = {"a": 1, "b": 10, "c": 50, "d": 5, "e": 30, "f": 10, "g": 20}
    groups = pack_values(counts, 3)
    # heaviest first into the lightest group (ties: lower value, lower index)
    assert groups == [["c"], ["e", "f"], ["g", "b", "d", "a"]]
    loads = [sum(counts[v] for v in g) for g in groups]
    assert max(loads) - min(loads) <= max(counts.values())
    assert sorted(v for g in groups for v in g) == sorted(counts)
    for g in groups:
        assert [counts[v] for v in g] == sorted((counts[v] for v in g), reverse=True)
    # input order does not matter
    assert pack_values(dict(reversed(list(counts.items()))), 3) == groups
    # one dominant value gets a group to itself
    skew = {"z": 1000, **{f"s{i}": 1 for i in range(5)}}
    assert pack_values(skew, 2) == [["z"], ["s0", "s1", "s2", "s3", "s4"]]
    # never more groups than values; n >= values is one group per value
    for n in (4, 7, 8, None):
        assert pack_values({"y": 1, "x": 9}, n) == [["x"], ["y"]]
    assert pack_values({}, 3) == []


# -- Spark data source ------------------------------------------------------


def _read(spark, mock, **options):
    spark.dataSource.register(ODataDataSource)
    reader = (
        spark.read.format("odata")
        .schema("Employee string, Structure string, K string")
        .option("url", mock.base_url)
        .option("entity", "Emp")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def test_source_full_scan_v2(spark, mock_v2):
    df = _read(spark, mock_v2)
    assert df.count() == 7
    assert {r.Employee for r in df.collect()} == {r["Employee"] for r in ROWS}


def test_source_full_scan_v4(spark, mock_v4):
    df = _read(spark, mock_v4)
    assert df.count() == 7


def test_source_partitioned_fanout(spark, mock_v2):
    df = _read(spark, mock_v2, partitionField="Structure")
    # one partition per non-empty distinct value; empty-string rows drop
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 6


def test_source_filter_pushdown_reaches_wire(spark, mock_v2):
    df = _read(spark, mock_v2).filter(F.col("Structure") == "O'HARA")
    assert [r.Employee for r in df.collect()] == ["erin"]
    assert any(
        "%27%27HARA" in req or "O''HARA" in req for req in mock_v2.requests
    ), f"escaped filter never hit the wire: {mock_v2.requests}"


def test_source_select_reaches_wire(spark, mock_v2):
    """P1: the projection must be pushed as $select, not filtered
    client-side after a full-width fetch."""
    df = _read(spark, mock_v2, select="Employee,Structure")
    df.collect()
    assert any(
        "%24select=Employee%2CStructure" in req or "$select=Employee,Structure" in req
        for req in mock_v2.requests
    ), f"$select never hit the wire: {mock_v2.requests}"


def test_source_top_reaches_wire(spark, mock_v2):
    """O2: the $top page-size ceiling must reach the server."""
    df = _read(spark, mock_v2, top="3")
    df.collect()
    assert any(
        "%24top=3" in req or "$top=3" in req for req in mock_v2.requests
    ), f"$top never hit the wire: {mock_v2.requests}"


def test_source_schema_probe(spark, mock_v2):
    spark.dataSource.register(ODataDataSource)
    df = (
        spark.read.format("odata")
        .option("url", mock_v2.base_url)
        .option("entity", "Emp")
        .load()
    )
    assert set(df.columns) == set(FIELDS)


def test_source_probe_fields_candidate_fallback(spark, mock_v2):
    df = _read(spark, mock_v2, partitionField="ignored", probeFields="NOPE,Structure")
    assert df.count() == 6


def test_source_skip_bad_partition(spark):
    m = MockOData(
        ROWS, FIELDS, version=2, page_size=3,
        fail_field="Structure", fail_values={"S2"},
    )
    m.start()
    try:
        good = _read(
            spark, m, partitionField="Structure", skipBadPartitions="true"
        )
        # S2's two rows are skipped with a log, others survive [C2]
        assert {r.Employee for r in good.collect()} == {"alice", "bob", "erin", "grace"}
        with pytest.raises(Exception):
            _read(spark, m, partitionField="Structure").collect()
    finally:
        m.stop()


def test_source_packed_partitions_read_same_rows(spark, mock_v2):
    unpacked = _read(spark, mock_v2, partitionField="Structure")
    packed = _read(spark, mock_v2, partitionField="Structure", numPartitions="2")
    assert packed.rdd.getNumPartitions() == 2
    assert sorted(packed.collect()) == sorted(unpacked.collect())
    assert packed.count() == 6


def test_source_pushed_key_equality_prunes_without_discovery(spark, mock_v2):
    df = _read(
        spark, mock_v2, partitionField="Structure", numPartitions="2"
    ).filter(F.col("Structure") == "S1")
    assert df.rdd.getNumPartitions() == 1
    assert sorted(r.Employee for r in df.collect()) == ["alice", "bob"]
    assert not any("top" in req for req in mock_v2.requests), mock_v2.requests


@pytest.mark.parametrize("prefetch", ["true", "false"])
def test_source_skip_bad_partition_packed(spark, prefetch):
    """With every key value packed into one task, skip-and-continue
    still isolates the failing value, not the task."""
    m = MockOData(
        ROWS, FIELDS, version=2, page_size=3,
        fail_field="Structure", fail_values={"S2"},
    )
    m.start()
    try:
        opts = dict(partitionField="Structure", numPartitions="1", prefetch=prefetch)
        good = _read(spark, m, skipBadPartitions="true", **opts)
        assert good.rdd.getNumPartitions() == 1
        assert {r.Employee for r in good.collect()} == {"alice", "bob", "erin", "grace"}
        with pytest.raises(Exception):
            _read(spark, m, **opts).collect()
    finally:
        m.stop()


# -- $metadata schema discovery ---------------------------------------------


def test_parse_edmx_both_namespace_generations():
    from turnover_odata_etl_spark.sources.odata_metadata import (
        edm_to_spark_ddl,
        parse_edmx,
    )

    for ns in (
        "http://schemas.microsoft.com/ado/2008/09/edm",  # V2 CSDL
        "http://docs.oasis-open.org/odata/ns/edm",  # V4 CSDL
    ):
        doc = f"""<?xml version="1.0"?>
        <edmx:Edmx xmlns:edmx="http://schemas.microsoft.com/ado/2007/06/edmx">
          <edmx:DataServices>
            <Schema xmlns="{ns}" Namespace="NS">
              <EntityType Name="EmpType">
                <Property Name="Id" Type="Edm.Int64" Nullable="false"/>
                <Property Name="Name" Type="Edm.String"/>
                <Property Name="Score" Type="Edm.Double"/>
                <Property Name="Hired" Type="Edm.DateTime"/>
                <Property Name="Pay" Type="Edm.Decimal" Precision="10" Scale="2"/>
              </EntityType>
              <EntityContainer Name="C">
                <EntitySet Name="Emp" EntityType="NS.EmpType"/>
              </EntityContainer>
            </Schema>
          </edmx:DataServices>
        </edmx:Edmx>"""
        sets = parse_edmx(doc)
        assert list(sets) == ["Emp"]
        props = sets["Emp"]
        assert [p.name for p in props] == ["Id", "Name", "Score", "Hired", "Pay"]
        assert props[0].nullable is False and props[1].nullable is True
        assert (
            edm_to_spark_ddl(props)
            == "`Id` bigint, `Name` string, `Score` double, `Hired` timestamp, "
            "`Pay` double"
        )


def test_client_get_metadata_roundtrip(mock_v2):
    from turnover_odata_etl_spark.sources.odata_metadata import parse_edmx

    client = ODataClient(mock_v2.base_url)
    sets = parse_edmx(client.get_metadata())
    assert list(sets) == ["Emp"]
    assert [p.name for p in sets["Emp"]] == FIELDS


def test_source_usemetadata_typed_read(spark):
    """useMetadata=true must derive a TYPED schema from /$metadata and
    the read tasks must coerce wire strings (V2 numerics-as-strings,
    /Date(ms)/ timestamps) into the declared types."""
    rows = [
        {"Employee": "alice", "K": "1", "Score": "2.5",
         "Hired": "/Date(1481853600000)/"},
        {"Employee": "bob", "K": "2", "Score": "3.5",
         "Hired": "/Date(1481940000000)/"},
    ]
    m = MockOData(
        rows,
        ["Employee", "K", "Score", "Hired"],
        version=2,
        field_types={
            "K": "Edm.Int32",
            "Score": "Edm.Double",
            "Hired": "Edm.DateTime",
        },
    )
    m.start()
    try:
        spark.dataSource.register(ODataDataSource)
        df = (
            spark.read.format("odata")
            .option("url", m.base_url)
            .option("entity", "Emp")
            .option("useMetadata", "true")
            .load()
        )
        assert dict(df.dtypes) == {
            "Employee": "string",
            "K": "int",
            "Score": "double",
            "Hired": "timestamp",
        }
        got = {r["Employee"]: r for r in df.collect()}
        assert got["alice"]["K"] == 1 and got["alice"]["Score"] == 2.5
        assert got["alice"]["Hired"].year == 2016
        # exactly one $metadata request — typed discovery costs zero data rows
        assert sum("$metadata" in r for r in m.requests) == 1
    finally:
        m.stop()


def test_coerce_value_int64_above_double_precision():
    """Edm.Int64 wire strings above 2^53 must round-trip exactly —
    OData V2 serializes Int64 as JSON strings precisely because they
    exceed double precision, so routing them through float() would
    silently corrupt snowflake-style IDs (ADVICE r04, medium)."""
    from turnover_odata_etl_spark.sources.odata_source import _coerce_value

    big = 9007199254740993  # 2^53 + 1: int(float(x)) would yield ...992
    assert _coerce_value(str(big), "bigint") == big
    assert _coerce_value(big, "bigint") == big
    # decimal-formatted payloads still coerce via the float fallback
    assert _coerce_value("42.0", "int") == 42
    assert _coerce_value(None, "bigint") is None


def test_coerce_value_date_ms_exact_at_max_date_sentinel():
    """/Date(ms)/ decode must be integer-exact: at SAP's 9999-12-31
    sentinel (253402300799999 ms) float division's ulp is ~61 µs,
    which used to shift the decoded timestamp. Also: the ±HHMM wrapper
    offset is display-only — the millis are UTC regardless."""
    from datetime import datetime, timezone

    from turnover_odata_etl_spark.sources.odata_source import _coerce_value

    sentinel = 253402300799999  # 9999-12-31T23:59:59.999Z
    got = _coerce_value(f"/Date({sentinel})/", "timestamp")
    assert got == datetime(9999, 12, 31, 23, 59, 59, 999000, tzinfo=timezone.utc)
    # display offset ignored; epoch interpretation unchanged
    with_off = _coerce_value("/Date(1481853600000+0100)/", "timestamp")
    assert with_off == datetime(2016, 12, 16, 2, 0, tzinfo=timezone.utc)
    # pre-epoch stays exact under divmod floor semantics
    neg = _coerce_value("/Date(-86400001)/", "timestamp")
    assert neg == datetime(1969, 12, 30, 23, 59, 59, 999000, tzinfo=timezone.utc)


# -- Arrow boundary: wire page -> RecordBatch --------------------------------

# Every type edm_to_spark_ddl emits, with the EDM type that maps to it.
MATRIX_TYPES = {
    "S": ("Edm.String", "string"),
    "I": ("Edm.Int32", "int"),
    "B": ("Edm.Int64", "bigint"),
    "H": ("Edm.Int16", "smallint"),
    "T": ("Edm.SByte", "tinyint"),
    "D": ("Edm.Double", "double"),
    "F": ("Edm.Single", "float"),
    "Z": ("Edm.Boolean", "boolean"),
    "TS": ("Edm.DateTime", "timestamp"),
    "DT": ("Edm.Date", "date"),
    "BIN": ("Edm.Binary", "binary"),
}
MATRIX_ROWS = [
    {"S": "alice", "I": "1", "B": "9007199254740993", "H": "-7", "T": "3",
     "D": "2.5", "F": "0.25", "Z": "true", "TS": "/Date(1481853600000)/",
     "DT": "2016-12-16", "BIN": "aGk="},
    # V4 native JSON scalars; an offset /Date(ms+hhmm)/ wrapper
    {"S": 5, "I": 2, "B": -9007199254740993, "H": 300, "T": -128,
     "D": 1e300, "F": -1.5, "Z": False, "TS": "/Date(1481853600000+0100)/",
     "DT": "2016-12-17T00:00:00Z", "BIN": ""},
    # ISO with and without an offset; boolean under a string column
    {"S": True, "I": "42.0", "B": 0, "H": 0, "T": 0, "D": "-0.0", "F": 3,
     "Z": "1", "TS": "2016-12-16T03:00:00+01:00", "DT": "1969-12-31",
     "BIN": "AAH/"},
    {"S": "x", "TS": "2016-12-16T02:00:00"},  # missing keys read null
    {k: None for k in MATRIX_TYPES},  # explicit nulls
]


def _matrix_schema():
    from pyspark.sql import types as T

    spark_types = {
        t().simpleString(): t()
        for t in (T.StringType, T.IntegerType, T.LongType, T.ShortType,
                  T.ByteType, T.DoubleType, T.FloatType, T.BooleanType,
                  T.TimestampType, T.DateType, T.BinaryType)
    }
    return T.StructType(
        [T.StructField(c, spark_types[t]) for c, (_, t) in MATRIX_TYPES.items()]
    )


def test_page_batch_type_matrix_equals_coerce_value():
    """The page batch is typed exactly as to_arrow_schema(schema) and
    holds _coerce_value of each wire value, for every type the
    $metadata path declares, with nulls, missing keys and an empty
    page."""
    from datetime import date, datetime, timezone

    from pyspark.sql.pandas.types import to_arrow_schema

    from turnover_odata_etl_spark.sources.odata_source import (
        _coerce_value,
        page_batcher,
    )

    schema = _matrix_schema()
    to_batch = page_batcher(schema)
    batch = to_batch(MATRIX_ROWS)
    assert batch.schema == to_arrow_schema(schema)
    assert batch.num_rows == len(MATRIX_ROWS)
    for c, (_, kind) in MATRIX_TYPES.items():
        want = [_coerce_value(r.get(c), kind) for r in MATRIX_ROWS]
        if kind == "string":  # non-string JSON renders as the row path did
            want = ["alice", "5", "true", "x", None]
        assert batch.column(c).to_pylist() == want, c
    utc = timezone.utc
    assert batch.column("B").to_pylist()[:2] == [2**53 + 1, -(2**53 + 1)]
    # the /Date(ms+hhmm)/ offset is display-only; ISO offsets are instants
    assert batch.column("TS").to_pylist()[:4] == [
        datetime(2016, 12, 16, 2, 0, tzinfo=utc),
        datetime(2016, 12, 16, 2, 0, tzinfo=utc),
        datetime(2016, 12, 16, 2, 0, tzinfo=utc),
        datetime(2016, 12, 16, 2, 0, tzinfo=utc),
    ]
    assert batch.column("DT").to_pylist()[:3] == [
        date(2016, 12, 16), date(2016, 12, 17), date(1969, 12, 31)
    ]
    assert batch.column("BIN").to_pylist()[:3] == [b"hi", b"", b"\x00\x01\xff"]
    assert batch.column("Z").to_pylist()[:3] == [True, False, True]
    empty = to_batch([])
    assert empty.num_rows == 0 and empty.schema == batch.schema


def test_source_usemetadata_type_matrix_end_to_end(spark):
    """The same matrix through a useMetadata=true read: the typed
    schema comes from $metadata and every value lands as the page
    batch has it."""
    from turnover_odata_etl_spark.sources.odata_source import page_batcher

    m = MockOData(
        MATRIX_ROWS, list(MATRIX_TYPES), version=4, page_size=2,
        field_types={c: edm for c, (edm, _) in MATRIX_TYPES.items()},
    )
    m.start()
    try:
        spark.dataSource.register(ODataDataSource)
        df = (
            spark.read.format("odata")
            .option("url", m.base_url)
            .option("entity", "Emp")
            .option("useMetadata", "true")
            .load()
        )
        assert df.dtypes == [(c, t) for c, (_, t) in MATRIX_TYPES.items()]
        got = df.toArrow().to_pylist()
        want = page_batcher(_matrix_schema())(MATRIX_ROWS).to_pylist()
        assert got == want
    finally:
        m.stop()


def test_odata_date_decode_offset_and_malformed(spark):
    """Spark-side decode: the ±HHMM display offset parses (millis are
    UTC; offset ignored), malformed strings yield NULL, never raise —
    matching the Python wire coercion's accepted shapes."""
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.functions.odata import odata_date_decode

    df = spark.createDataFrame(
        [
            ("/Date(1481853600000)/",),
            ("/Date(1481853600000+0100)/",),
            ("/Date(-86400001)/",),
            ("/Date(not-a-number)/",),
            ("2016-12-16T02:00:00Z",),
        ],
        "s string",
    )
    got = df.select(
        F.unix_millis(odata_date_decode("s")).alias("ms")
    ).collect()
    assert [r.ms for r in got] == [
        1481853600000,
        1481853600000,  # offset is display-only
        -86400001,
        None,
        None,
    ]


def test_client_follows_relative_next_links():
    """SAP V2 gateways emit __next RELATIVE to the service root
    ("Emp?$skiptoken=3"); the client must absolutize before the next
    GET instead of handing urllib a scheme-less URL."""
    m = MockOData(ROWS, FIELDS, version=2, page_size=3, relative_next=True)
    m.start()
    try:
        client = ODataClient(m.base_url)
        rows = [r for page in client.fetch_pages("Emp") for r in page]
        assert [r["Employee"] for r in rows] == [
            "alice", "bob", "carol", "dave", "erin", "frank", "grace",
        ]
        # V4 request-relative nextLink takes the same path
        m4 = MockOData(ROWS, FIELDS, version=4, page_size=2, relative_next=True)
        m4.start()
        try:
            rows4 = [r for page in ODataClient(m4.base_url).fetch_pages("Emp")
                     for r in page]
            assert len(rows4) == len(ROWS)
        finally:
            m4.stop()
    finally:
        m.stop()


def test_client_retries_transient_503_then_succeeds():
    """Throttling blips (429/503) are retried per-REQUEST inside the
    read task — the cheap alternative to Spark's task-level retry,
    which would re-fetch every page of the partition."""
    m = MockOData(ROWS, FIELDS, version=2, page_size=10, fail_first=2)
    m.start()
    try:
        client = ODataClient(m.base_url, retries=3, backoff=0.01)
        rows = [r for page in client.fetch_pages("Emp") for r in page]
        assert len(rows) == len(ROWS)
        # 2 failed attempts + 1 success, same URL each time
        assert len(m.requests) == 3
        assert len({r for r in m.requests}) == 1
    finally:
        m.stop()


def test_client_honors_numeric_retry_after():
    m = MockOData(
        ROWS, FIELDS, version=2, page_size=10,
        fail_first=1, fail_status=429, retry_after=0.01,
    )
    m.start()
    try:
        import time as _time

        t0 = _time.perf_counter()
        # backoff=5 would sleep 5s if Retry-After were ignored
        client = ODataClient(m.base_url, retries=2, backoff=5.0)
        rows = [r for page in client.fetch_pages("Emp") for r in page]
        assert len(rows) == len(ROWS)
        assert _time.perf_counter() - t0 < 2.0
    finally:
        m.stop()


def test_client_gives_up_after_bounded_retries():
    m = MockOData(ROWS, FIELDS, version=2, fail_first=10**6)
    m.start()
    try:
        client = ODataClient(m.base_url, retries=2, backoff=0.01)
        with pytest.raises(ODataError) as exc:
            list(client.fetch_pages("Emp"))
        assert exc.value.status == 503
        assert len(m.requests) == 3  # initial + 2 retries, then give up
    finally:
        m.stop()


def test_client_does_not_retry_deterministic_404(mock_v2):
    """The schema probe's 404 is a deterministic answer, not a blip —
    retrying it would triple probe latency and hide nothing."""
    client = ODataClient(mock_v2.base_url, retries=3, backoff=0.01)
    before = len(mock_v2.requests)
    with pytest.raises(ODataError):
        client.get_json(
            client.url_for("Emp"),
            {"$select": "NoSuchField", "$top": "1", "$format": "json"},
        )
    assert len(mock_v2.requests) == before + 1


def test_client_wraps_non_json_200_with_url_context(monkeypatch):
    """Proxy/SSO error pages arrive as 200 text/html; the client must
    raise ODataError naming the URL, not a bare JSONDecodeError."""
    client = ODataClient("http://example.invalid")
    monkeypatch.setattr(
        ODataClient,
        "_open_with_retry",
        lambda self, req, url: (200, b"<html>SSO login</html>"),
    )
    with pytest.raises(ODataError) as exc:
        client.get_json("http://example.invalid/Emp")
    assert "non-JSON" in exc.value.body
    assert exc.value.url == "http://example.invalid/Emp"


def test_client_clamps_negative_retry_after():
    """A buggy throttler can send 'Retry-After: -1'; the client must
    clamp to zero and retry, not crash time.sleep with a ValueError."""
    m = MockOData(
        ROWS, FIELDS, version=2, page_size=10,
        fail_first=1, fail_status=503, retry_after=-1.0,
    )
    m.start()
    try:
        client = ODataClient(m.base_url, retries=2, backoff=0.01)
        rows = [r for page in client.fetch_pages("Emp") for r in page]
        assert len(rows) == len(ROWS)
        assert len(m.requests) == 2
    finally:
        m.stop()


def test_client_raises_strictly_on_invalid_utf8(monkeypatch):
    """A mis-encoded row value must raise loudly (never silently
    become U+FFFD inside persisted data) AND attributed: the error
    names the URL instead of being a bare UnicodeDecodeError from one
    of a thousand read tasks."""
    client = ODataClient("http://example.invalid")
    monkeypatch.setattr(
        ODataClient, "_open_with_retry",
        lambda self, req, url: (200, b'{"d": {"results": [{"n": "M\xfcller"}]}}'),
    )
    with pytest.raises(ODataError) as exc:
        client.get_json("http://example.invalid/Emp")
    assert "non-UTF8" in exc.value.body
    assert exc.value.url == "http://example.invalid/Emp"


def test_client_retries_read_phase_blip(monkeypatch):
    """resp.read() failures (socket timeout, connection reset, short
    body) are NOT URLError subclasses, yet they are exactly the
    mid-body blips the retry contract promises to absorb — a
    1000-task fan-out WILL see a few. First read raises
    IncompleteRead, second succeeds; no bare exception escapes."""
    import http.client

    calls = {"n": 0}

    class _Resp:
        status = 200

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self):
            calls["n"] += 1
            if calls["n"] == 1:
                raise http.client.IncompleteRead(b"{")
            return b'{"d": {"results": []}}'

    class _Opener:
        def open(self, req, timeout=None):
            return _Resp()

    client = ODataClient("http://example.invalid", retries=2, backoff=0.01)
    client._opener = _Opener()
    assert client.get_json("http://example.invalid/Emp") == {"d": {"results": []}}
    assert calls["n"] == 2


def test_client_wraps_persistent_read_failure_in_odata_error():
    """After bounded retries a read-phase failure must surface as an
    attributed ODataError (status 0, URL named) — never a bare
    ConnectionResetError from one of a thousand tasks."""

    class _Resp:
        status = 200

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self):
            raise ConnectionResetError("peer reset")

    class _Opener:
        def open(self, req, timeout=None):
            return _Resp()

    client = ODataClient("http://example.invalid", retries=1, backoff=0.01)
    client._opener = _Opener()
    with pytest.raises(ODataError) as exc:
        client.get_json("http://example.invalid/Emp")
    assert exc.value.status == 0
    assert "read error" in exc.value.body


def test_get_text_sends_auth_headers():
    """$metadata lives behind the same auth wall as the data: get_text
    must carry the client's standing headers (Basic auth) and override
    only Accept — an authenticated gateway 401s it otherwise."""
    captured = {}

    class _Resp:
        status = 200

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self):
            return b"<edmx/>"

    class _Opener:
        def open(self, req, timeout=None):
            captured["headers"] = dict(req.headers)
            return _Resp()

    client = ODataClient("http://example.invalid", user="u", password="p")
    client._opener = _Opener()
    assert client.get_text("http://example.invalid/$metadata") == "<edmx/>"
    assert captured["headers"].get("Authorization", "").startswith("Basic ")
    assert captured["headers"].get("Accept") == "application/xml"


def test_client_retries_when_error_body_read_fails():
    """Draining a retryable error's BODY can itself hit a reset;
    exceptions raised inside an except handler bypass sibling except
    clauses, so the HTTPError branch must guard its own read. One 503
    whose body read resets, then success — the retry contract holds."""
    import io
    import urllib.error

    calls = {"n": 0}

    class _BrokenBody(io.RawIOBase):
        def read(self, *a):
            raise ConnectionResetError("reset while draining error body")

    class _Resp:
        status = 200

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self):
            return b'{"d": {"results": []}}'

    class _Opener:
        def open(self, req, timeout=None):
            calls["n"] += 1
            if calls["n"] == 1:
                raise urllib.error.HTTPError(
                    req.full_url, 503, "unavailable", {}, _BrokenBody()
                )
            return _Resp()

    client = ODataClient("http://example.invalid", retries=2, backoff=0.01)
    client._opener = _Opener()
    assert client.get_json("http://example.invalid/Emp") == {"d": {"results": []}}
    assert calls["n"] == 2


# -- page prefetch [VERDICT r06 item 5] -------------------------------------


def test_prefetched_pages_equal_serial(mock_v2):
    """Same pages, same order, same rows as the serial pager."""
    client = ODataClient(mock_v2.base_url)
    serial = list(client.fetch_pages("Emp"))
    prefetched = list(client.fetch_pages_prefetched("Emp"))
    assert prefetched == serial
    assert len(prefetched) >= 2  # pagination actually happened


def test_prefetch_error_propagation(mock_v2):
    """A page-fetch failure in the producer thread must re-raise in
    the consumer as the same ODataError the serial pager raises."""
    client = ODataClient(mock_v2.base_url)
    mock_v2.fail_first = 10**6
    mock_v2.fail_status = 400  # non-retryable: fails fast
    with pytest.raises(ODataError):
        list(client.fetch_pages_prefetched("Emp"))


def test_prefetch_abandoned_iterator_stops_producer(mock_v2):
    """Closing the iterator mid-chain (a satisfied LIMIT) must stop
    the producer thread promptly — never a thread parked forever on a
    full queue."""
    import threading
    import time

    client = ODataClient(mock_v2.base_url)
    gen = client.fetch_pages_prefetched("Emp")
    first = next(gen)
    assert first  # got a page
    gen.close()
    deadline = time.time() + 5
    while time.time() < deadline:
        if not any(
            t.name == "odata-prefetch" and t.is_alive()
            for t in threading.enumerate()
        ):
            break
        time.sleep(0.05)
    else:
        raise AssertionError("prefetch producer thread leaked")


def test_prefetch_overlaps_fetch_with_consumer_work():
    """The throughput contract: with per-request RTT ~= per-page
    consumer work, the prefetched chain approaches max(rtt, work) per
    page instead of rtt + work. Measured numbers recorded in SCALE.md."""
    import time

    rows = [{"Employee": f"e{i}", "Structure": "S", "K": str(i)} for i in range(20)]
    m = MockOData(rows, FIELDS, version=2, page_size=2, delay=0.04)
    m.start()
    try:
        client = ODataClient(m.base_url)
        work = 0.04

        t0 = time.time()
        n_serial = 0
        for page in client.fetch_pages("Emp"):
            time.sleep(work)  # stand-in for row coercion
            n_serial += len(page)
        serial = time.time() - t0

        t0 = time.time()
        n_pre = 0
        for page in client.fetch_pages_prefetched("Emp"):
            time.sleep(work)
            n_pre += len(page)
        prefetched = time.time() - t0
    finally:
        m.stop()

    assert n_serial == n_pre == len(rows)
    # 10 pages: serial ~10*(rtt+work)=0.8s, prefetched ~rtt+10*work
    # ~0.44s. Generous margin for CI jitter.
    assert prefetched < serial * 0.8, (serial, prefetched)
