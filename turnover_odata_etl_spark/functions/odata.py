"""OData wire-format column functions.

The reference's data carries OData V2 epoch-millis date wrappers like
``/Date(1776729600000)/`` straight through to its CSV output
(reference: data/employee_data.csv:2); the engine decodes them
properly (SURVEY §2.8 X7). Both directions are pure built-in
expressions — no UDF, fully codegen'd, safe at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# OData V2 JSON date wrapper: /Date(<millis>)/ with optional sign and
# optional ±HHMM display offset (SAP services emit e.g.
# /Date(1481853600000+0100)/; the epoch millis are UTC regardless —
# the offset only says how the SERVER would render it, so decode
# ignores it. The source connector's Python coercion accepts the same
# shape: sources/odata_source.py).
_ODATA_DATE_RE = r"/Date\((-?\d+)(?:[+-]\d{4})?\)/"


def odata_date_decode(col: Column | str) -> Column:
    """``/Date(ms)/`` string → TimestampType (NULL if malformed)."""
    c = F.col(col) if isinstance(col, str) else col
    ms = F.regexp_extract(c, _ODATA_DATE_RE, 1)
    return F.timestamp_millis(F.nullif(ms, F.lit("")).cast("long"))


def odata_date_encode(col: Column | str) -> Column:
    """TimestampType → ``/Date(ms)/`` wire string."""
    c = F.col(col) if isinstance(col, str) else col
    # Parquet TIMESTAMP(NTZ) → TIMESTAMP(LTZ); identity under the
    # engine's UTC session timezone, and unix_millis requires LTZ.
    return F.concat(
        F.lit("/Date("), F.unix_millis(c.cast("timestamp")).cast("string"), F.lit(")/")
    )
