"""OData source connector — Spark 4 Python Data Source API.

``spark.read.format(...)`` surface for OData entity sets, the engine's
re-expression of the reference's extract stage as a *distributed scan*
instead of a serial driver loop (reference fetches one partition-key
value at a time with sleeps — src/etl.py:186-195; here each key value
becomes an InputPartition and executors fetch in parallel).

Capabilities (SURVEY §2.1, §4.1):
- paginated entity scan, V2/V4 envelopes          [S1, S2]
- schema probe with candidate-field fallback       [S3]
- basic-auth session options, error context        [S4, S5]
- per-page politeness pause option                 [S6]
- key-partitioned fan-out via ``partitionField``   [C1]  (packed: ``numPartitions``)
- per-key-value skip-and-continue (opt-in!)        [C2]
- equality-filter pushdown → ``$filter``           [F1]  (pushFilters)
- projection pushdown → ``$select``                [P1]  (option/pruning)
- limit ceiling → ``$top``                         [O2]  (option)
- incremental cursor stream (readStream)           [C4]  (ODataStreamReader)

Usage::

    spark.dataSource.register(ODataDataSource)
    df = (spark.read.format("odata")
          .option("url", "https://host")
          .option("path", "sap/byd/odata/analytics.svc")
          .option("entity", "RPT_TURNOVER")
          .option("partitionField", "COCHAR_STRUCTURE")
          .schema("Employee string, Structure string")
          .load())

Scale notes: each distinct key value is one fan-out unit (the
reference's loop unit) with its own ``$filter`` request chain.
``numPartitions`` (the JDBC source's option name) packs those values
into at most that many input partitions, heaviest first into the
lightest, weighted by the rows per value that discovery counts; unset,
there is one partition per value. Packing to the core count matters
because every Python data-source task pays a fixed worker set-up
before ``read()`` runs (about 0.25 CPU-s under pyspark 4.1.2 on Python
3.11, measured on a 4-vCPU VM: ``importlib.invalidate_caches`` re-reads
the ``pyspark.zip`` directory on every task), so 12 values on 4 cores
cost 3 waves of set-up where 4 packed tasks cost one. Each read task
streams its pages, one Arrow batch per page, without buffering the
entity; the politeness pause applies per task so aggregate request
rate scales with parallelism — set ``pause`` accordingly or cap
parallelism via ``numPartitions`` when the server is the bottleneck.

Deployment note: unlike this package's mapInPandas closures (which
cloudpickle ships BY VALUE so executors never import the package), a
registered ``DataSource`` class pickles BY REFERENCE — executors must
be able to import ``turnover_odata_etl_spark``. On a cluster, ship the
package with ``spark-submit --py-files`` / ``spark.submit.pyFiles``
(the standard posture for any connector library); under ``local[*]``
it just means launching from a cwd where the package resolves.
"""

from __future__ import annotations

import base64
import logging
import re
from collections.abc import Callable, Iterator, Sequence
from datetime import date, datetime, timedelta, timezone

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .odata_client import ODataClient, build_filter_cmp, build_filter_eq
from .odata_metadata import edm_to_spark_ddl, parse_edmx

log = logging.getLogger(__name__)


def _to_int(value) -> int:
    # OData V2 serializes Edm.Int64 as a JSON *string* precisely
    # because values above 2^53 do not survive double precision —
    # so int(value) first (exact for ints and digit strings, incl.
    # snowflake-style IDs), float only for decimal-formatted
    # payloads like "42.0".
    try:
        return int(value)
    except (TypeError, ValueError):
        return int(float(value))


def _to_bool(value) -> bool:
    if isinstance(value, bool):
        return value
    return str(value).strip().lower() in ("true", "1")


_DATE_MS_RE = re.compile(r"/Date\((-?\d+)(?:[+-]\d{4})?\)/$")


def _to_timestamp(value) -> datetime:
    """Always a UTC-aware datetime: pyarrow stores an aware value's
    wall clock, not its instant, so non-UTC offsets must be normalized
    here; an offset-less ISO value reads as UTC, the Edm.DateTime
    convention ``/Date(ms)/`` follows too."""
    s = str(value)
    m = _DATE_MS_RE.match(s)
    if m:  # V2 epoch-ms wrapper, optional tz display offset [X7]
        # Integer divmod, not /1000.0: at SAP's max-date sentinel
        # (253402300799999 ms) a double's ulp is ~61 µs, so float
        # division shifts the decoded timestamp — same 2^53 class
        # as the Int64 coercion above. divmod floors negatives,
        # so pre-epoch values stay exact too.
        sec, ms = divmod(int(m.group(1)), 1000)
        return datetime.fromtimestamp(sec, tz=timezone.utc) + timedelta(
            milliseconds=ms
        )
    dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        return dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)


def _to_date(value) -> date:
    return date.fromisoformat(str(value)[:10])


# Declared Spark type (``simpleString``) → wire-value converter. Types
# not listed (string and anything unmapped) keep the raw wire value.
_CONVERTERS = {
    "int": _to_int,
    "bigint": _to_int,
    "smallint": _to_int,
    "tinyint": _to_int,
    "double": float,
    "float": float,
    "boolean": _to_bool,
    "timestamp": _to_timestamp,
    "date": _to_date,
    "binary": base64.b64decode,
}


def _coerce_value(value, spark_type: str):
    """JSON wire value → Python value for the declared Spark type.

    OData V2 serializes numerics/dates as JSON strings ("42",
    "/Date(1481853600000)/"); V4 uses native JSON numbers and ISO
    strings. The converters accept both. None passes through; a
    malformed non-null value raises (per-key-value skip-and-continue
    [C2] is the sanctioned opt-in for tolerating that)."""
    conv = _CONVERTERS.get(spark_type)
    if value is None or conv is None:
        return value
    return conv(value)


def _string_array(values: list) -> pa.Array:
    """A string column as the wire sent it. Non-string JSON scalars
    (V4 numbers and booleans under a probed all-string schema) render
    as pyspark's row path renders them: ``str``, booleans lower-case."""
    try:
        return pa.array(values, type=pa.string())
    except pa.ArrowTypeError:
        return pa.array(
            [
                v if v is None or isinstance(v, str)
                else str(v).lower() if isinstance(v, bool)
                else str(v)
                for v in values
            ],
            type=pa.string(),
        )


def page_batcher(schema: StructType) -> Callable[[list[dict]], pa.RecordBatch]:
    """Wire page (a list of row dicts) → one ``pyarrow.RecordBatch``
    typed by ``to_arrow_schema(schema)``, built column by column with
    each column's converter chosen once. Values equal
    ``_coerce_value`` per value; a key missing from a row is null."""
    arrow_schema = to_arrow_schema(schema)
    columns = [
        (f.name, _CONVERTERS.get(f.dataType.simpleString()), af.type)
        for f, af in zip(schema.fields, arrow_schema)
    ]

    def to_batch(page: list[dict]) -> pa.RecordBatch:
        arrays = []
        for name, conv, arrow_type in columns:
            values = [row.get(name) for row in page]
            if conv is None and arrow_type == pa.string():
                arrays.append(_string_array(values))
                continue
            if conv is not None:
                values = [None if v is None else conv(v) for v in values]
            arrays.append(pa.array(values, type=arrow_type))
        return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return to_batch


def pack_values(counts: dict[str, int], n: int | None) -> list[list[str]]:
    """Key values → at most ``n`` groups balanced by row count: values
    go heaviest first (ties by value) into the lightest group (ties by
    index), so the result depends only on ``counts``. ``n`` unset or at
    least the number of values keeps one group per value, in value
    order."""
    if n is None or n >= len(counts):
        return [[v] for v in sorted(counts)]
    groups: list[list[str]] = [[] for _ in range(n)]
    loads = [0] * n
    for v in sorted(counts, key=lambda v: (-counts[v], v)):
        i = min(range(n), key=loads.__getitem__)  # first lightest
        groups[i].append(v)
        loads[i] += counts[v]
    return groups


class ODataPartition(InputPartition):
    def __init__(self, key_values: list[str | None], key_field: str | None = None):
        # key_field rides along because the reader instance that runs
        # read() is a pickled copy — state mutated in partitions()
        # (e.g. a probed field name) is not otherwise visible there.
        # A None key value is the unpartitioned whole-entity scan.
        self.key_values = key_values
        self.key_field = key_field


def _client_from_options(options) -> ODataClient:
    return ODataClient(
        base_url=options["url"],
        service_path=options.get("path", ""),
        user=options.get("user"),
        password=options.get("password"),
        timeout=float(options.get("timeout", "90")),
        pause=float(options.get("pause", "0")),
        # Transient-failure policy (throttling 429, gateway 502/503/504
        # and connection blips): per-request bounded retry inside the
        # read task — far cheaper than Spark's task-level retry, which
        # re-fetches every page of the partition.
        retries=int(options.get("retries", "3")),
        backoff=float(options.get("backoff", "0.5")),
    )


class ODataDataSource(DataSource):
    """``format("odata")`` entry point."""

    @classmethod
    def name(cls) -> str:
        return "odata"

    def schema(self) -> str | StructType:
        """Schema discovery, two protocols:

        - ``useMetadata=true`` — GET the service ``$metadata`` EDMX
          document and derive a TYPED schema (EDM → Spark types, one
          request, zero data rows; read tasks coerce wire values to
          the declared types). The protocol-complete path.
        - default — probe ``$top=1`` and type observed fields as
          strings (the reference's probe-first posture [S3]; OData V2
          serializes numerics as JSON strings, so stringly is what the
          wire actually carries; decode downstream with the engine's
          codec functions).

        Callers with a contract should pass ``.schema(...)``
        explicitly — then no discovery request at all."""
        client = _client_from_options(self.options)
        entity = self.options["entity"]
        if self.options.get("usemetadata", "false").lower() == "true":
            sets = parse_edmx(client.get_metadata())
            if entity not in sets:
                raise RuntimeError(
                    f"$metadata does not define entity set {entity!r} "
                    f"(found: {sorted(sets)}); pass an explicit .schema(...)"
                )
            props = sets[entity]
            select = self.options.get("select")
            if select:
                keep = [c.strip() for c in select.split(",")]
                order = {c: i for i, c in enumerate(keep)}
                props = sorted(
                    (p for p in props if p.name in order),
                    key=lambda p: order[p.name],
                )
            return edm_to_spark_ddl(props)
        select = self.options.get("select")
        first = next(iter(client.fetch_pages(entity, select=select, top=1)), [])
        if not first:
            raise RuntimeError(
                f"cannot infer schema: entity {entity!r} returned no rows; "
                "pass an explicit .schema(...)"
            )
        cols = [c for c in first[0].keys() if c != "__metadata"]
        return ", ".join(f"`{c}` string" for c in cols)

    def reader(self, schema: StructType) -> "ODataReader":
        return ODataReader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> "ODataStreamReader":
        return ODataStreamReader(schema, dict(self.options))


class ODataReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        for required in ("url", "entity"):
            if required not in options:
                raise ValueError(
                    f"odata source: missing required option {required!r} "
                    "(set .option('url', ...) / .option('entity', ...))"
                )
        self.schema_ = schema
        self.options = options
        self.base_filter: str | None = options.get("filter")
        self.pushed_eqs: list[tuple[str, str]] = []

    # -- pushdown [F1] ------------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept string-equality filters on top-level columns,
        rendered into ``$filter`` with quote escaping; everything else
        is returned for Spark to evaluate post-scan. Equalities on the
        partition key additionally prune the partition fan-out (the
        distinct-values discovery request is skipped entirely)."""
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and len(f.attribute) == 1
                and isinstance(f.value, str)
            ):
                self.pushed_eqs.append((f.attribute[0], f.value))
            else:
                yield f

    # -- partition planning [C1] --------------------------------------------

    def partitions(self) -> Sequence[ODataPartition]:
        """One partition per key value, or, with ``numPartitions``
        set, the key values packed into at most that many partitions,
        balanced by the rows per value discovery counted."""
        pf = self.options.get("partitionfield")
        if not pf:
            return [ODataPartition([None])]
        n = self.options.get("numpartitions")
        n = None if n is None else int(n)
        if n is not None and n < 1:
            raise ValueError(f"odata source: numPartitions must be >= 1, got {n}")
        client = _client_from_options(self.options)
        entity = self.options.get("codesentity", self.options["entity"])
        probe = self.options.get("probefields")
        if probe:
            pf = client.probe_field(entity, [c.strip() for c in probe.split(",")])
        pruned = [v for f, v in self.pushed_eqs if f == pf]
        if pruned:
            # partition pruning: a pushed equality on the key fixes the
            # fan-out to exactly those value(s) — no discovery request
            counts = dict.fromkeys(pruned, 1)
        else:
            counts = client.value_counts(entity, pf)
        groups = pack_values(counts, n)
        log.info(
            "odata scan: %d key value(s)%s in %d partition(s) on %s",
            len(counts), " (pruned)" if pruned else "", len(groups), pf,
        )
        return [ODataPartition(g, pf) for g in groups]

    # -- per-partition read [S1, C2] ----------------------------------------

    def _filter(self, key_field: str | None, key_value: str | None) -> str | None:
        clauses = []
        if self.base_filter:
            clauses.append(self.base_filter)
        for f, v in self.pushed_eqs:
            # the key clause below already encodes equality on the
            # key — don't duplicate it
            if not (f == key_field and v == key_value):
                clauses.append(build_filter_eq(f, v))
        if key_value is not None:
            clauses.append(build_filter_eq(key_field, key_value))
        return " and ".join(clauses) if clauses else None

    def read(self, partition: ODataPartition) -> Iterator[pa.RecordBatch]:
        """One Arrow batch per wire page, for each of the partition's
        key values in turn (each with its own ``$filter``)."""
        client = _client_from_options(self.options)
        entity = self.options["entity"]
        to_batch = page_batcher(self.schema_)
        select = self.options.get("select")
        top = int(self.options["top"]) if "top" in self.options else None
        skip = self.options.get("skipbadpartitions", "false").lower() == "true"
        for value in partition.key_values:
            filter_ = self._filter(partition.key_field, value)
            try:
                # page N+1's round-trip overlaps page N's conversion —
                # the serial pager is RTT-bound per key value
                for page in client.fetch_pages_prefetched(
                    entity, select=select, filter_=filter_, top=top
                ):
                    yield to_batch(page)
            except Exception:
                if not skip:
                    raise
                # [C2] the reference's log-and-continue (etl.py:191-194)
                # as an explicit opt-in — NOT default Spark semantics —
                # isolating each key value, not each packed task.
                log.exception("skipping failed key value %r of %s", value, entity)


class ODataStreamReader(SimpleDataSourceStreamReader):
    """Incremental OData ingestion as a Structured Stream [C4 upgrade].

    The reference re-fetches the ENTIRE entity on a daily cron
    (reference: .github/workflows/etl.yml:4-13) — O(history) per run.
    This reader turns the same entity into a cursor stream: the offset
    is the high-water mark of a monotonically increasing field
    (``incrementalField`` — a sequence number, change counter, or
    modified-timestamp), each micro-batch fetches only
    ``field gt <cursor>`` rows via server-side ``$filter``, and
    recovery replays an exact ``(start, end]`` slice with
    ``gt start and le end`` — deterministic because the cursor field
    is immutable per row. Per-trigger work is O(new rows); history is
    never re-transferred.

    Options (beyond the batch reader's): ``incrementalField``
    (required), ``cursorType`` = ``string``|``numeric`` (how the
    cursor literal renders into ``$filter`` and how maxima compare;
    numeric for sequence columns, string for ISO timestamps),
    ``initialCursor`` (start-from; default: everything),
    ``cursorLag`` (late-arrival tolerance, see below; default 0).

    Exactly-once contract. With ``cursorLag`` unset the cursor field
    must be STRICTLY MONOTONE IN ARRIVAL ORDER (a sequence number or
    change counter): the offset advances to the max cursor seen, so a
    row committed late with cursor <= the committed offset is
    permanently skipped, and a recovery replay of ``(start, end]``
    could return late rows the original batch never emitted.
    Modified-timestamp cursors routinely violate arrival-order
    monotonicity (clock skew, long transactions) — for those set
    ``cursorLag``: the offset is held back to ``max_seen - lag``
    (numeric subtraction for numeric cursors; seconds subtracted from
    the ISO timestamp for string cursors) and only rows at or below
    the held-back bound are emitted; rows inside the lag window stay
    server-side for the next trigger. Provided real out-of-orderness
    never exceeds the lag, every row is emitted exactly once and
    replay is exact.

    Scale notes: runs in the driver-side simple-stream path (one
    fetch per trigger) — right for change-feed-sized deltas, which is
    the point of incremental ingestion; a giant backfill should use
    the batch reader's partitioned fan-out once, then stream from its
    max cursor. Pages still stream via server-driven pagination, so a
    large batch never buffers fully.
    """

    def __init__(self, schema: StructType, options: dict):
        for required in ("url", "entity", "incrementalfield"):
            if required not in options:
                raise ValueError(
                    f"odata stream: missing required option {required!r} "
                    "(set .option('incrementalField', ...) etc.)"
                )
        self.schema_ = schema
        self.options = options
        self.field = options["incrementalfield"]
        self.numeric = options.get("cursortype", "string") == "numeric"
        self.initial = options.get("initialcursor", "")
        self.lag = float(options.get("cursorlag", 0) or 0)

    def initialOffset(self) -> dict:
        return {"cursor": self.initial}

    def _fetch(self, lo: str, hi: str | None) -> list[tuple]:
        """Rows with ``field gt lo`` (and ``le hi`` for replay), plus
        the batch's max cursor value."""
        clauses = []
        if self.options.get("filter"):
            clauses.append(self.options["filter"])
        if lo:
            clauses.append(build_filter_cmp(self.field, "gt", lo, self.numeric))
        if hi is not None:
            clauses.append(build_filter_cmp(self.field, "le", hi, self.numeric))
        client = _client_from_options(self.options)
        names = [f.name for f in self.schema_.fields]
        out = []
        for page in client.fetch_pages(
            self.options["entity"],
            select=self.options.get("select"),
            filter_=" and ".join(clauses) if clauses else None,
        ):
            for row in page:
                out.append(tuple(row.get(n) for n in names))
        return out

    def _max_cursor(self, rows: list[tuple], start: str) -> str:
        idx = [f.name for f in self.schema_.fields].index(self.field)
        values = [r[idx] for r in rows if r[idx] is not None]
        if not values:
            return start
        if self.numeric:
            return str(max(values, key=lambda v: float(v)))
        return max(str(v) for v in values)

    def _gt(self, a: str, b: str) -> bool:
        """Cursor comparison a > b; the empty initial cursor is -inf."""
        if b == "":
            return True
        if self.numeric:
            return float(a) > float(b)
        return str(a) > str(b)

    def _lag_bound(self, max_seen: str) -> str:
        """``max_seen`` held back by the configured lag."""
        if self.numeric:
            v = float(max_seen) - self.lag
            return str(int(v)) if v.is_integer() else str(v)
        from datetime import datetime, timedelta

        dt = datetime.fromisoformat(str(max_seen))
        return (dt - timedelta(seconds=self.lag)).isoformat()

    def read(self, start: dict):
        lo = start["cursor"]
        rows = self._fetch(lo, None)
        if not rows:
            return iter(rows), {"cursor": lo}
        max_seen = self._max_cursor(rows, lo)
        if not self.lag:
            return iter(rows), {"cursor": max_seen}
        # Hold the offset back by the lag window: emit only rows whose
        # cursor is <= bound; later-cursored rows stay server-side and
        # re-fetch next trigger (they were never emitted — no dupes).
        bound = self._lag_bound(max_seen)
        if lo != "" and not self._gt(bound, lo):
            return iter([]), {"cursor": lo}
        idx = [f.name for f in self.schema_.fields].index(self.field)
        kept = [
            r
            for r in rows
            if r[idx] is not None and not self._gt(str(r[idx]), bound)
        ]
        if not kept:
            # whole fetch is inside the lag window: the offset stays
            # put (in particular it never regresses below an initial
            # empty cursor); everything re-fetches next trigger.
            return iter([]), {"cursor": lo}
        return iter(kept), {"cursor": bound}

    def readBetweenOffsets(self, start: dict, end: dict):
        # exact replay of one committed batch for failure recovery
        return iter(self._fetch(start["cursor"], end["cursor"]))

    def commit(self, end: dict) -> None:
        pass  # the source keeps no server-side state to release
