"""Staged batches become one DataFrame: one Arrow-built frame over every
staged row, whatever the number of batches, with the stream's full
schema. Scans read it unsorted; only flush sorts what it writes."""

from __future__ import annotations

import math
from datetime import datetime, timedelta
from decimal import Decimal

import pytest

from parseable_spark.ingest import schema as sc
from parseable_spark.ingest.events import StreamConfig, batch_spark_schema, to_dataframe
from parseable_spark.storage.store import StreamStore

BASE = datetime(2026, 8, 10, 9, 0)
N_BATCHES = 48


def _leaves(df) -> list[str]:
    """Node names of the optimised plan's leaves."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.length())]


def _jobs_submitted(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _rows(df) -> list[dict]:
    return sorted(
        (r.asDict() for r in df.collect()), key=lambda r: (r["p_timestamp"], r["i"])
    )


def test_staged_batches_build_one_frame(spark, tmp_path):
    """48 one-minute batches of 5 rows, a new field every 4th batch:
    one LocalRelation leaf and no RDD scan, earlier rows read NULL for
    later fields, and the flush writes one file per minute holding the
    same rows."""
    store = StreamStore(spark, str(tmp_path), StreamConfig(name="st"))
    fields = [f"f{k}" for k in range(N_BATCHES // 4)]
    want = []
    for m in range(N_BATCHES):
        ts = BASE + timedelta(minutes=m)
        new = fields[m // 4]  # batch m first carries field f{m//4} when m % 4 == 0
        body = [{"i": i, new: f"{m}-{i}"} for i in range(5)]
        store.ingest(body, p_timestamp=ts)
        want += [
            {"p_timestamp": ts, "i": i, **{f: f"{m}-{i}" if f == new else None for f in fields}}
            for i in range(5)
        ]
    want.sort(key=lambda r: (r["p_timestamp"], r["i"]))

    df = store.staging_df()
    assert _leaves(df) == ["LocalRelation"]  # one leaf, and no RDD scan
    got = _rows(df)
    assert [{k: r[k] for k in want[0]} for r in got] == want
    # a row of the first batch reads NULL for the last batch's field
    assert got[0][fields[-1]] is None and got[-1][fields[0]] is None

    assert store.flush() == N_BATCHES * 5
    assert len(store.manifest.files) == N_BATCHES
    assert store.staging_df() is None
    assert _rows(store.scan()) == got


def test_staging_adds_no_job_to_a_windowed_count(spark, tmp_path):
    """A windowed count over six flushed minutes plus four staged ones
    starts no more Spark jobs than the same window over the files
    alone: staging is not sorted for a scan. A window with nothing to
    read is a LocalRelation too."""
    store = StreamStore(spark, str(tmp_path), StreamConfig(name="jobs"))
    lo, hi = BASE, BASE + timedelta(minutes=10)
    for m in range(6):
        store.ingest([{"i": i} for i in range(5)], p_timestamp=BASE + timedelta(minutes=m))
        store.flush()
    assert len(store.manifest.files) == 6
    store.scan(lo, hi).count()  # warm the session's file reads
    before = _jobs_submitted(spark)
    assert store.scan(lo, hi).count() == 30
    files_alone = _jobs_submitted(spark) - before

    for m in range(6, 10):
        store.ingest([{"i": i} for i in range(5)], p_timestamp=BASE + timedelta(minutes=m))
    before = _jobs_submitted(spark)
    assert store.scan(lo, hi).count() == 50
    assert _jobs_submitted(spark) - before <= files_alone

    # flush still sorts: one file per staged minute
    assert store.flush() == 20
    assert len(store.manifest.files) == 10

    empty = store.scan(lo - timedelta(days=1), lo - timedelta(hours=1))
    assert _leaves(empty) == ["LocalRelation"] and empty.count() == 0


def _canon(rows) -> list[tuple]:
    """Rows as comparable tuples: floats by repr, so NaN equals NaN and
    -0.0 differs from 0.0."""
    return [
        tuple(repr(v) if isinstance(v, float) else v for v in r) for r in rows
    ]


def _assert_same_as_rows(spark, registry, records):
    """to_dataframe matches createDataFrame over a list of rows (the
    oracle) in schema, rows and row order."""
    schema = batch_spark_schema(registry)
    rows = [tuple(rec.get(f.name) for f in schema.fields) for rec in records]
    want = spark.createDataFrame(rows, schema=schema)
    got = to_dataframe(spark, registry, records)
    assert got.schema == want.schema
    assert _canon(got.collect()) == _canon(want.collect())


def test_arrow_frame_matches_row_frame_for_every_type(spark):
    """Every registry type with its edge values, and all-NULL columns."""
    registry = sc.SchemaRegistry(
        fields={
            "b": sc.BOOL,
            "i": sc.INT64,
            "u": sc.UINT64,
            "f": sc.FLOAT64,
            "s": sc.UTF8,
            "t": sc.TIMESTAMP_MS,
            "l": sc.LIST,
            "nb": sc.BOOL,
            "nu": sc.UINT64,
            "nt": sc.TIMESTAMP_MS,
            "nl": sc.LIST,
        }
    )
    floats = [math.nan, math.inf, -math.inf, -0.0, 0.0, 3.0, -7.0, 0.1, 1e308]
    values = {
        "b": [True, False, None],
        "i": [0, -1, 2**63 - 1, -(2**63), None],
        "u": [Decimal(0), Decimal(2**63), Decimal(2**64 - 1), None],
        "f": floats + [None],
        "s": ["", "ascii", "né", "日本語", "🙂", None],
        "t": [
            datetime(1969, 12, 31, 23, 59, 59, 999000),
            datetime(1900, 1, 1),
            datetime(2026, 8, 10, 9, 0, 0, 123000),
            None,
        ],
        "l": [[], ["a"], ["a", None, "c"], [None], None],
    }
    n = max(len(v) for v in values.values())
    records = []
    for k in range(n):
        rec = {"p_timestamp": BASE + timedelta(milliseconds=k)}
        for name, vs in values.items():
            if k < len(vs):
                rec[name] = vs[k]
        records.append(rec)
    _assert_same_as_rows(spark, registry, records)
    _assert_same_as_rows(spark, registry, [])  # no rows at all


@pytest.mark.parametrize(
    "version, types",
    [
        ("v0", {"a": sc.INT64, "tags": sc.LIST, "event_time": sc.UTF8}),
        ("v1", {"a": sc.FLOAT64, "tags": sc.UTF8, "event_time": sc.TIMESTAMP_MS}),
    ],
    ids=["v0", "v1"],
)
def test_arrow_frame_matches_row_frame_across_schema_evolution(
    spark, tmp_path, version, types
):
    """Batches ingested through the store's normal path, the schema
    growing on the way: the staged frame equals the row oracle over the
    same records, and earlier batches read NULL for later fields."""
    store = StreamStore(spark, str(tmp_path), StreamConfig(name="evo", schema_version=version))
    bodies = [
        [{"a": 1, "s": "x"}, {"a": 2, "s": ""}],
        [{"a": 3, "flag": True, "tags": ["p", "q"]}],
        [{"event_time": "2025-01-02T03:04:05.678Z", "s": "é"}],
        [{"nested": {"k": "v", "n": -4}}, {"tags": []}],
        [{"a": None, "s": None}],
    ]
    for k, body in enumerate(bodies):
        store.ingest(body, p_timestamp=BASE + timedelta(seconds=k))
    registry = store.stream.registry
    assert {k: registry.fields[k] for k in types} == types
    assert registry.fields["flag"] == sc.BOOL and registry.fields["nested_k"] == sc.UTF8
    records = [r for b in store._staging for r in b.records]
    _assert_same_as_rows(spark, registry, records)
    first = to_dataframe(spark, registry, records[:1]).collect()[0]
    assert first["a"] == 1 and first["event_time"] is None and first["nested_k"] is None
    # staging rows come in no promised order
    assert sorted(map(repr, _canon(store.staging_df().collect()))) == sorted(
        map(repr, _canon(to_dataframe(spark, registry, records).collect()))
    )


@pytest.mark.parametrize(
    "body",
    [
        {"n": 2**63},
        {"n": 2**64 - 1},
        {"n": -(2**63) - 1},
        {"__series_hash_u64": 2**64},
        {"__series_hash_u64": -1},
    ],
    ids=["int64_max_plus_1", "u64_max", "int64_min_minus_1", "u64_too_big", "u64_negative"],
)
def test_out_of_range_integer_is_rejected_at_ingest(spark, tmp_path, body):
    """An integer its column type cannot hold is a 400 at ingest: the
    batch stages nothing and commits no field, and the stream still
    ingests, scans and flushes. The extremes of each range are kept."""
    from parseable_spark.server import ApiError, ParseableAPI

    version = "v1" if "__series_hash_u64" in body else "v0"
    api = ParseableAPI(spark, str(tmp_path))
    api.create_stream("big")
    store = api._stores["big"]
    store.config.schema_version = version  # before the first batch: v0 keeps ints int64
    (name,) = body
    lo, hi = (0, 2**64 - 1) if name.startswith("__") else (-(2**63), 2**63 - 1)
    with pytest.raises(ApiError) as ei:
        api.ingest("big", [{name: lo}, body])
    assert ei.value.status == 400 and "out of range" in str(ei.value)
    assert store.staged_rows == 0 and name not in store.stream.registry.fields
    assert api.ingest("big", [{name: lo}, {name: hi}]) == 2
    assert store.scan().count() == 2
    assert store.flush() == 2
    got = sorted(int(r[0]) for r in store.scan().select(name).collect())
    assert got == [lo, hi]
