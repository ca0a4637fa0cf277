"""Query response serialization — JSON rows + NDJSON streaming.

Parity with the reference response path: RecordBatches → JSON rows
(src/response.rs, src/utils/arrow/mod.rs:50) honoring the query flags
`fields` (wrap as {"fields": [...], "records": [...]}) and `sendNull`
(drop null-valued keys per record) from the /query API
(src/handlers/http/query.rs:63-77); streaming responses are NDJSON
chunks fed from per-partition execution (query.rs:325-407,
src/query/mod.rs:331-369).

One Spark action per batch response: `json_records` collects the
frame as Arrow (`DataFrame.toArrow()`), as the reference does. Each
Spark action re-reads the class files of the closures it cleans, and
`collect()` cleans three closures where `toArrow()` cleans one, so the
Arrow collect reads about 130 KB less per request. Two kinds of frame
keep `collect()`:

- Spark answers them on the driver: the executed plan's root (under
  adaptive execution, the root of its input plan) is a
  `CollectLimitExec`, whose take scans input partitions incrementally
  until the limit is met, or a `LocalTableScanExec`, such as the
  manifest's COUNT(*) row, which starts no job at all. `toArrow()`
  would run every input partition of either.
- The schema has no Arrow form that this module converts: a type
  outside `_ARROW_LEAVES` (intervals, variant, ...), a map key holding
  an array, a struct that may be NULL with a non-nullable field (the
  cast inside `toArrow()` fails on such a NULL after the job), a NULL
  type inside an array or map (the JVM writes its vector short), or a
  type that `to_arrow_schema` rejects before any job (`array()`'s
  non-nullable NULL element, duplicated nested struct field names).
  Such a request answers, or fails, exactly as from Rows.

One converter, built from the frame's Spark schema, turns either kind
of value into JSON: Arrow's (maps as lists of key/value pairs, structs
as dicts, TIMESTAMP as aware UTC) and PySpark Rows' (maps as dicts,
structs as Rows, TIMESTAMP as the host's local wall clock). TIMESTAMP
renders as the UTC wall clock on any host, TIMESTAMP_NTZ as it is. A
map's entries come in the map's own order from Arrow and in the JVM's
java.util.HashMap iteration order from Rows, so the converter sorts
them: numeric keys by value, other keys by their JSON text. Every
route then gives the same bytes for the same answer.

Scale note: `ndjson_lines` iterates `toLocalIterator()` — partitions
stream through the driver one at a time instead of a full collect, so
result sets larger than driver memory still stream out; this mirrors
the reference's per-partition channel fan-in.
"""

from __future__ import annotations

import json
import math
from datetime import datetime, timezone
from decimal import Decimal
from operator import itemgetter
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    NullType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# leaf types whose Arrow values the converter turns into the same JSON
# as their Row values
_ARROW_LEAVES = (
    NullType, BooleanType, ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, DecimalType, StringType, BinaryType, DateType,
    TimestampType, TimestampNTZType,
)  # fmt: skip

# map key types whose entries sort by value; others sort by JSON text
_NUMBERS = (ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType, DecimalType)

# executed-plan roots whose collect() Spark answers on the driver
_DRIVER_ROOTS = ("CollectLimitExec", "LocalTableScanExec")

Converter = Callable[[Any], Any]


def _finite(v: float) -> float | None:
    return None if math.isnan(v) or math.isinf(v) else v


def _decimal(v: Decimal) -> float | str:
    # float() silently corrupts DecimalType beyond ~16 significant
    # digits — exactly the precision the type exists to preserve
    # (review finding). Lossless when float round-trips exactly;
    # the decimal's own textual form otherwise (arrow's JSON
    # writers do the same full-precision formatting).
    f = float(v)
    return f if Decimal(repr(f)) == v else str(v)


def _ntz(v: datetime) -> str:
    return v.isoformat(sep="T", timespec="milliseconds")


def _utc(v: datetime) -> str:
    # Arrow's values are aware UTC; PySpark builds a Row's with
    # datetime.fromtimestamp, naive in the host's zone, which
    # astimezone() reads back as local time
    return _ntz(v.astimezone(timezone.utc).replace(tzinfo=None))


def _hex(v: bytes) -> str:
    # PySpark returns BinaryType as bytearray — without this branch
    # json.dumps raised mid-response on any binary column
    return bytes(v).hex()


def _apply(conv: Converter | None, v: Any) -> Any:
    return v if conv is None or v is None else conv(v)


def _converter(dt: DataType) -> Converter | None:
    """JSON form of a non-NULL value of type ``dt``, or None when the
    value is already JSON-ready (strings, booleans, integers) or has no
    JSON form (intervals, variant: json.dumps rejects them as before)."""
    if isinstance(dt, (FloatType, DoubleType)):
        return _finite
    if isinstance(dt, DecimalType):
        return _decimal
    if isinstance(dt, TimestampType):
        return _utc
    if isinstance(dt, TimestampNTZType):
        return _ntz
    if isinstance(dt, DateType):
        return lambda v: v.isoformat()
    if isinstance(dt, BinaryType):
        return _hex
    if isinstance(dt, ArrayType):
        elem = _converter(dt.elementType)
        return lambda v: [_apply(elem, x) for x in v]
    if isinstance(dt, MapType):
        return _map_converter(dt)
    if isinstance(dt, StructType):
        return record_converter(dt)
    return None


def _map_converter(dt: MapType) -> Converter:
    # keys too: MapType results can carry date/timestamp/binary keys,
    # which json.dumps rejects; float keys stay as they are (NaN too)
    key = None if isinstance(dt.keyType, (FloatType, DoubleType)) else _converter(dt.keyType)
    val = _converter(dt.valueType)

    def json_key(k: Any) -> Any:
        if key is None:
            return k
        converted = key(k)
        return converted if isinstance(converted, str) else json.dumps(converted)

    def convert(v: Any) -> dict:
        # a Row's map is a dict in the JVM hash map's order, Arrow's a
        # list of (key, value) pairs in the map's own order: the entries
        # are sorted so that every route gives the same bytes
        pairs = v.items() if isinstance(v, dict) else v
        if isinstance(dt.keyType, _NUMBERS):
            # Spark normalizes NaN and -0.0 keys, so (isnan, k) is total
            entries = [(json_key(k), x) for k, x in sorted(pairs, key=_number_order)]
        else:
            entries = sorted(((json_key(k), x) for k, x in pairs), key=itemgetter(0))
        return {k: _apply(val, x) for k, x in entries}

    return convert


def _number_order(pair: tuple) -> tuple:
    return pair[0] != pair[0], pair[0]


def record_converter(schema: StructType, send_null: bool = True) -> Converter:
    """JSON record of a row, or of a struct value, of type ``schema``."""
    names = schema.names
    convs = [_converter(f.dataType) for f in schema.fields]

    def convert(v: Any) -> dict:
        # a Row (or a tuple) holds the values in field order, as does
        # the dict Arrow gives for a nested struct
        values = v.values() if isinstance(v, dict) else v
        d = {n: _apply(c, x) for n, c, x in zip(names, convs, values)}
        return d if send_null else {k: x for k, x in d.items() if x is not None}

    return convert


def _arrow_ready(
    dt: DataType, key: bool = False, nullable: bool = False, listed: bool = False
) -> bool:
    """Does the converter give ``dt``'s Arrow values the JSON of its Row
    values? A map key holding an array is a list in a Row, which PySpark
    cannot hash into its dict (the request fails), so it keeps the Rows.
    So do two shapes the JVM's Arrow writer gets wrong: a struct that may
    be NULL (``nullable``) with a non-nullable field, whose NULL the cast
    in `toArrow()` rejects after the job, and a NULL type inside an array
    or map (``listed``), whose vector is written short."""
    if isinstance(dt, StructType):
        return all(
            (f.nullable or not nullable)
            and _arrow_ready(f.dataType, key, f.nullable, listed)
            for f in dt.fields
        )
    if isinstance(dt, ArrayType):
        return not key and _arrow_ready(dt.elementType, nullable=dt.containsNull, listed=True)
    if isinstance(dt, MapType):
        return _arrow_ready(dt.keyType, key=True, listed=True) and _arrow_ready(
            dt.valueType, nullable=dt.valueContainsNull, listed=True
        )
    return type(dt) in _ARROW_LEAVES and not (listed and isinstance(dt, NullType))


def _arrow_convertible(schema: StructType) -> bool:
    from pyspark.errors import PySparkException
    from pyspark.sql.pandas.types import to_arrow_schema

    if not schema.fields or not _arrow_ready(schema):
        return False
    try:
        to_arrow_schema(schema, error_on_duplicated_field_names_in_struct=True)
    except (PySparkException, TypeError, ValueError, NotImplementedError):
        # PySpark's own errors, or pyarrow's (ArrowInvalid is a ValueError)
        return False
    return True


def _driver_answers(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    return plan.getClass().getSimpleName() in _DRIVER_ROOTS


def collect_values(df: DataFrame) -> list[Any]:
    """All rows of ``df`` as sequences of values in column order, from
    one Spark action: tuples of Arrow's values, or Rows where `collect()`
    is kept. `record_converter` turns either into JSON."""
    if _driver_answers(df) or not _arrow_convertible(df.schema):
        return df.collect()
    table = df.toArrow()
    return list(zip(*(col.to_pylist() for col in table.columns)))


def json_records(df: DataFrame, send_null: bool = True) -> list[dict[str, Any]]:
    """Every row of ``df`` as a JSON record, in the frame's order."""
    convert = record_converter(df.schema, send_null)
    return [convert(r) for r in collect_values(df)]


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
    records = json_records(df, send_null)
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
    convert = record_converter(df.schema, send_null)
    for row in df.collect() if local else df.toLocalIterator(prefetchPartitions=True):
        yield json.dumps(convert(row), separators=(",", ":")) + "\n"
