"""Query response serialization — JSON rows + NDJSON streaming.

Parity with the reference response path: RecordBatches → JSON rows
(src/response.rs, src/utils/arrow/mod.rs:50) honoring the query flags
`fields` (wrap as {"fields": [...], "records": [...]}) and `sendNull`
(drop null-valued keys per record) from the /query API
(src/handlers/http/query.rs:63-77); streaming responses are NDJSON
chunks fed from per-partition execution (query.rs:325-407,
src/query/mod.rs:331-369).

Scale note: `ndjson_lines` iterates `toLocalIterator()` — partitions
stream through the driver one at a time instead of a full collect, so
result sets larger than driver memory still stream out; this mirrors
the reference's per-partition channel fan-in.
"""

from __future__ import annotations

import json
import math
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Iterator

from pyspark.sql import DataFrame, Row


def _json_value(v: Any) -> Any:
    if isinstance(v, datetime):
        return v.isoformat(sep="T", timespec="milliseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        # float() silently corrupts DecimalType beyond ~16 significant
        # digits — exactly the precision the type exists to preserve
        # (review finding). Lossless when float round-trips exactly;
        # the decimal's own textual form otherwise (arrow's JSON
        # writers do the same full-precision formatting).
        f = float(v)
        return f if Decimal(repr(f)) == v else str(v)
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, (bytes, bytearray)):
        # PySpark returns BinaryType as bytearray — without this branch
        # json.dumps raised mid-response on any binary column
        return bytes(v).hex()
    if isinstance(v, Row):
        return {k: _json_value(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_json_value(x) for x in v]
    if isinstance(v, dict):
        # keys too: MapType results can carry date/timestamp/binary
        # keys, which json.dumps rejects
        return {_map_key(k): _json_value(x) for k, x in v.items()}
    return v


def _map_key(k: Any) -> Any:
    if isinstance(k, (str, int, float, bool)) or k is None:
        return k
    converted = _json_value(k)
    return converted if isinstance(converted, str) else json.dumps(converted)


def row_to_json(row: Row, send_null: bool = True) -> dict[str, Any]:
    d = {k: _json_value(v) for k, v in row.asDict().items()}
    if not send_null:
        d = {k: v for k, v in d.items() if v is not None}
    return d


def _reject_duplicate_columns(df: DataFrame) -> None:
    """`SELECT a, b AS a` is a legal frame but a JSON object cannot
    carry two 'a' keys — Row.asDict() silently kept the LAST value
    while the fields array still advertised both (r7 review). A clear
    400 beats silently dropping a column the caller asked for."""
    cols = df.columns
    if len(set(cols)) != len(cols):
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        raise ValueError(
            f"duplicate output column names {dupes} cannot be serialized "
            "to JSON records; alias them uniquely"
        )


def query_response(
    df: DataFrame, fields: bool = False, send_null: bool = True
) -> dict[str, Any] | list[dict[str, Any]]:
    """Batch response body (reference QueryResponse::to_http)."""
    _reject_duplicate_columns(df)
    records = [row_to_json(r, send_null) for r in df.collect()]
    if fields:
        return {"fields": df.columns, "records": records}
    return records


def ndjson_lines(
    df: DataFrame, send_null: bool = True, local: bool = False
) -> Iterator[str]:
    """Streaming NDJSON: one JSON object per line, partitions streamed
    one at a time (no full materialization). A ``local`` answer (the
    manifest's COUNT row) is collected: that starts no Spark job."""
    _reject_duplicate_columns(df)
    for row in df.collect() if local else df.toLocalIterator(prefetchPartitions=True):
        yield json.dumps(row_to_json(row, send_null), separators=(",", ":")) + "\n"
