"""Event batch ingestion: JSON records → typed Spark DataFrame.

End-to-end parity with the reference ingest path (SURVEY.md §3,
'Ingest lifecycle'): flatten → '@'-rename → conflict detection/renaming
→ V1 coercion → union-merge schema commit → engine columns
(p_timestamp/p_user_agent/p_src_ip, src/event/mod.rs:42-46) →
columnar batch. p_timestamp as a source field is rejected
(mod.rs:186-191).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from decimal import Decimal
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType, TimestampNTZType

from . import flatten as fl
from . import schema as sc

DEFAULT_TIMESTAMP_KEY = "p_timestamp"
# date/hour/minute are reserved alongside p_timestamp: the storage
# layout derives them as hive partition columns (storage/writer.py),
# and partitionBy strips partition columns from the data files — a
# user field with one of these names would silently read back NULL
# after its first flush.
RESERVED_COLUMNS = (DEFAULT_TIMESTAMP_KEY, "date", "hour", "minute")
USER_AGENT_KEY = "p_user_agent"
SRC_IP_KEY = "p_src_ip"
FORMAT_KEY = "p_format"

_META_FIELDS = (USER_AGENT_KEY, SRC_IP_KEY, FORMAT_KEY)


@dataclass
class StreamConfig:
    name: str
    schema_version: str = "v1"
    log_source: str = "json"
    separator: str = "_"  # '.' for OTel sources
    custom_partition: str | None = None
    infer_timestamp: bool = True
    max_flatten_level: int = fl.DEFAULT_MAX_FLATTEN_LEVEL
    # static-schema stream (static_schema.rs): the registry is seeded at
    # creation and ingestion rejects fields outside it — no evolution
    static_schema_flag: bool = False
    # user time partition (SURVEY §1.5; reference json/flatten.rs:157-220):
    # events carry their own timestamp field, which replaces ingest time
    # as p_timestamp; first event must be within `time_partition_limit`
    # days of now, later ones within `max_chunk_age_hours` of the first
    time_partition: str | None = None
    time_partition_limit_days: int = 30
    max_chunk_age_hours: int = 24
    # z-order clustering at compaction (storage/layout.py): multi-column
    # Morton sort inside each compacted file, so row-group min/max stats
    # are tight on EVERY listed column (entity+time access patterns);
    # None keeps the reference's time-desc sort
    zorder_cols: list[str] | None = None


@dataclass
class PreparedBatch:
    records: list[dict[str, Any]]
    is_first: bool  # batch added new fields to the stream schema
    # user-time-partition streams: the stream's reference timestamp
    # after this batch. Process-lifetime state, like the reference's
    # in-memory REFERENCE_TIMESTAMP (json/flatten.rs:183-188): a
    # restart re-anchors the chunk-age window on the next first event.
    reference_ts: datetime | None = None


def _parse_event_time(v: Any, field_name: str) -> datetime:
    """Reference validate_time_partition's parse rules (json/
    flatten.rs:168-181): present, a string, RFC3339-parseable."""
    if v is None:
        raise ValueError(f"field {field_name!r} is not part of the log")
    if not isinstance(v, str):
        raise ValueError(f"field {field_name!r} is not a string")
    try:
        dt = datetime.fromisoformat(v.replace("Z", "+00:00").replace("z", "+00:00"))
    except ValueError:
        raise ValueError(
            f"field {field_name!r} is not a valid RFC3339 timestamp"
        ) from None
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def validate_time_partition(
    records: list[dict[str, Any]],
    config: "StreamConfig",
    reference_ts: datetime | None = None,
    now: datetime | None = None,
) -> tuple[list[datetime], datetime]:
    """Per-record event-time extraction + the reference's two-stage age
    validation (json/flatten.rs:157-220): the stream's FIRST timestamp
    must be within `time_partition_limit_days` of now; every later one
    within `max_chunk_age_hours` BEFORE the reference timestamp.
    Returns (per-record timestamps, updated reference timestamp)."""
    from datetime import timedelta

    now = now or datetime.now(timezone.utc).replace(tzinfo=None)
    if now.tzinfo is not None:
        now = now.astimezone(timezone.utc).replace(tzinfo=None)
    out: list[datetime] = []
    ref = reference_ts
    for rec in records:
        dt = _parse_event_time(rec.get(config.time_partition), config.time_partition)
        if ref is None:
            cutoff = now - timedelta(days=config.time_partition_limit_days)
            if dt < cutoff:
                raise ValueError(
                    f"field {config.time_partition!r} timestamp {dt.isoformat()} is "
                    f"older than the {config.time_partition_limit_days}-day limit"
                )
            ref = dt
        else:
            oldest = ref - timedelta(hours=config.max_chunk_age_hours)
            if dt < oldest:
                raise ValueError(
                    f"field {config.time_partition!r} timestamp {dt.isoformat()} is "
                    f"more than {config.max_chunk_age_hours}h older than the "
                    f"stream reference {ref.isoformat()}"
                )
        out.append(dt.replace(microsecond=dt.microsecond // 1000 * 1000))
    return out, ref


_INT_RANGES = {sc.INT64: (-(1 << 63), 1 << 63), sc.UINT64: (0, 1 << 64)}


def _coerce_value(v: Any, t: str) -> Any:
    if v is None:
        return None
    if t == sc.FLOAT64:
        return float(v)
    if t == sc.TIMESTAMP_MS:
        if isinstance(v, str):
            try:
                dt = datetime.fromisoformat(
                    v.replace("Z", "+00:00").replace("z", "+00:00")
                )
            except ValueError:
                # the schema layer classifies RFC2822 strings as
                # TIMESTAMP_MS too (parses_as_datetime); coercion must
                # accept everything classification accepts or a typed
                # batch is rejected (driver path) / kills the
                # mapInPandas task (distributed path)
                from email.utils import parsedate_to_datetime

                dt = parsedate_to_datetime(v)
            if dt.tzinfo is not None:
                dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
            # millisecond precision, like the reference's Timestamp(ms)
            return dt.replace(microsecond=dt.microsecond // 1000 * 1000)
        return v
    if t in _INT_RANGES and isinstance(v, int) and not isinstance(v, bool):
        lo, hi = _INT_RANGES[t]
        if not lo <= v < hi:
            # the Arrow frame and the parquet column cannot hold it:
            # staged, it would fail every later scan and flush
            raise ValueError(f"value {v} is out of range for {t}")
    if t == sc.UINT64:
        return Decimal(v)
    if t == sc.UTF8:
        return v if isinstance(v, str) else str(v)
    if t == sc.LIST:
        return [None if x is None else str(x) for x in v] if isinstance(v, list) else v
    return v


def prepare_batch(
    body: Any,
    registry: sc.SchemaRegistry,
    config: StreamConfig,
    p_timestamp: datetime | None = None,
    p_custom_fields: dict[str, str] | None = None,
    reference_ts: datetime | None = None,
    now: datetime | None = None,
) -> PreparedBatch:
    """Run the full normalization pipeline against the stream's
    committed schema; mutates `registry` via union-merge. On
    user-time-partition streams each record's p_timestamp is its OWN
    validated event time, not the ingest time."""
    records = fl.flatten_json_body(
        body,
        separator=config.separator,
        schema_version=config.schema_version,
        log_source=config.log_source,
        max_level=config.max_flatten_level,
        custom_partition=config.custom_partition,
    )
    for rec in records:
        for r in RESERVED_COLUMNS:
            # p_timestamp per reference mod.rs:186-191; date/hour/minute
            # because the hive-partitioned layout derives them — Spark's
            # partitionBy strips partition columns from the data files,
            # so a user field with one of these names would read back
            # NULL after every flush while staged rows still showed it
            # (silent post-flush corruption; review finding). Loud
            # rejection at the door, same contract as p_timestamp.
            if r in rec:
                raise ValueError(f"field {r} is a reserved column")
    records = sc.rename_json_keys(records)

    raw_inferred = sc.infer_batch_schema(records)
    conflicts = sc.detect_schema_conflicts(
        raw_inferred, registry.fields, records, config.schema_version
    )
    records = sc.rename_conflicting_fields(
        records, conflicts, registry.fields, config.schema_version
    )
    records = sc.rename_per_record_type_mismatches(
        records, raw_inferred, registry.fields, config.schema_version
    )

    inferred = sc.infer_batch_schema(records)
    coerced = sc.override_data_type(
        inferred, records, config.schema_version, config.infer_timestamp,
        committed=registry.fields,
    )
    # committed types win for already-known fields (derive_arrow_schema path)
    batch_schema = {k: registry.fields.get(k, t) for k, t in coerced.items()}
    if config.static_schema_flag:
        # static streams reject data fields outside the declared schema
        # (is_schema_matching, reference event/format/mod.rs:213-233) —
        # conflict-renamed fields (type mismatches) land here too since
        # their renamed names are never declared. The fixed p_* meta
        # fields stay exempt (add_parseable_fields appends them after
        # the schema check in the reference as well).
        unknown = sorted(
            k for k, t in coerced.items() if t != sc.NULL and k not in registry.fields
        )
        if unknown:
            raise ValueError(
                f"static schema mismatch for stream {config.name!r}: "
                f"fields {unknown} are not in the declared schema"
            )
    # every validation that can reject the batch runs BEFORE the merge —
    # a rejected batch must not commit new fields to the stream schema
    event_times: list[datetime] | None = None
    new_reference = reference_ts
    if config.time_partition:
        event_times, new_reference = validate_time_partition(
            records, config, reference_ts=reference_ts, now=now
        )
    # ... including value coercion: dry-run it against the would-be
    # post-merge types (committed types win for existing fields). A
    # batch like [{"t": "2024-01-01T00:00:00Z"}, {"t": "yesterday"}]
    # infers TIMESTAMP from the first sample and rejects on the second —
    # without the dry run the rejected batch had already committed
    # t:timestamp to the shared registry (review finding).
    effective = {**batch_schema, **registry.fields}
    for rec in records:
        for k, v in rec.items():
            t = effective.get(k)
            if t is not None:
                _coerce_value(v, t)
    is_first = registry.merge(batch_schema)

    ts = p_timestamp or datetime.now(timezone.utc).replace(tzinfo=None)
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    ts = ts.replace(microsecond=ts.microsecond // 1000 * 1000)
    meta = p_custom_fields or {}
    # Arbitrary custom fields become string columns on every record,
    # never overwriting a field the stream already has (reference
    # add_parseable_fields, src/utils/arrow/mod.rs:134-144); the fixed
    # p_* meta fields are handled separately below.
    extra = {
        k: str(v)
        for k, v in meta.items()
        if k not in _META_FIELDS
        and k != DEFAULT_TIMESTAMP_KEY
        and k not in batch_schema  # data fields of THIS batch win
        and registry.fields.get(k, sc.UTF8) == sc.UTF8  # never retype
    }
    if extra:
        registry.merge({k: sc.UTF8 for k in extra})

    out_records = []
    for i, rec in enumerate(records):
        typed = {
            k: _coerce_value(v, registry.fields[k])
            for k, v in rec.items()
            if registry.fields.get(k) is not None  # drop all-null untyped fields
        }
        typed[DEFAULT_TIMESTAMP_KEY] = event_times[i] if event_times else ts
        for mk in _META_FIELDS:
            if mk in meta:
                typed[mk] = meta[mk]
        typed.update(extra)
        out_records.append(typed)
    return PreparedBatch(
        records=out_records,
        is_first=is_first,
        reference_ts=new_reference,
    )


def batch_spark_schema(registry: sc.SchemaRegistry, meta_fields: bool = True) -> StructType:
    fields = [StructField(DEFAULT_TIMESTAMP_KEY, TimestampNTZType(), False)]
    if meta_fields:
        fields += [StructField(mk, StringType(), True) for mk in _META_FIELDS]
    return StructType(fields + list(registry.to_spark_schema().fields))


def to_dataframe(
    spark: SparkSession, registry: sc.SchemaRegistry, records: list[dict[str, Any]]
) -> DataFrame:
    """``records`` as one frame of batch_spark_schema(registry), built
    from one Arrow array per field: it plans as a LocalRelation, where a
    list of rows plans as an RDD scan. A field a record lacks reads NULL."""
    schema = batch_spark_schema(registry)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([rec.get(f.name) for rec in records], type=f.type) for f in arrow],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=schema)


@dataclass
class Stream:
    """A named append-only event table (reference Stream,
    src/parseable/streams.rs:216): holds config + committed schema and
    accepts JSON batches."""

    config: StreamConfig
    registry: sc.SchemaRegistry = field(default_factory=sc.SchemaRegistry)
    # user-time-partition streams: first accepted event time, the anchor
    # for the chunk-age validation (reference REFERENCE_TIMESTAMP)
    reference_timestamp: datetime | None = None

    def ingest(
        self,
        spark: SparkSession,
        body: Any,
        p_timestamp: datetime | None = None,
        p_custom_fields: dict[str, str] | None = None,
    ) -> DataFrame:
        batch = prepare_batch(
            body, self.registry, self.config, p_timestamp, p_custom_fields,
            reference_ts=self.reference_timestamp,
        )
        self.reference_timestamp = batch.reference_ts
        return to_dataframe(spark, self.registry, batch.records)
