"""Query responses come from one Arrow action and flush runs no
range-sampling job.

- The JSON body built from `DataFrame.toArrow()` equals, byte for byte
  on a UTC host, the body the Row path gives (the oracle below keeps
  the Row serializer the response module used before), for every type
  it serializes; the Row path gave a map's entries in the JVM hash
  map's order, so maps compare with it as parsed JSON, and every route
  now gives them sorted, in the same bytes. Types the Row path cannot
  serialize fail with the same status.
- TIMESTAMP renders as the UTC wall clock whatever the host's zone.
- Spark's driver-side answers keep `collect()`: a plain LIMIT runs no
  more tasks than its incremental take, the manifest's COUNT(*) row
  starts no job.
- flush() hash-partitions by the minute directories: one job fewer
  than the sampled global sort, and one time-desc file per minute even
  when adaptive execution does not coalesce the shuffle.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import urllib.error
import urllib.request
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal
from typing import Any

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from parseable_spark.ingest.events import StreamConfig
from parseable_spark.query.response import ndjson_lines, query_response
from parseable_spark.server import ParseableAPI, serve_background
from parseable_spark.storage.store import StreamStore

# --- the Row-path oracle ------------------------------------------------


def _oracle_value(v: Any) -> Any:
    if isinstance(v, datetime):
        return v.isoformat(sep="T", timespec="milliseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        f = float(v)
        return f if Decimal(repr(f)) == v else str(v)
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, Row):
        return {k: _oracle_value(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_oracle_value(x) for x in v]
    if isinstance(v, dict):
        return {_oracle_key(k): _oracle_value(x) for k, x in v.items()}
    return v


def _oracle_key(k: Any) -> Any:
    if isinstance(k, (str, int, float, bool)) or k is None:
        return k
    converted = _oracle_value(k)
    return converted if isinstance(converted, str) else json.dumps(converted)


def _oracle_body(df, fields: bool, send_null: bool, rows=None):
    records = []
    for row in df.collect() if rows is None else rows:
        d = {k: _oracle_value(v) for k, v in row.asDict().items()}
        records.append(d if send_null else {k: v for k, v in d.items() if v is not None})
    return {"fields": df.columns, "records": records} if fields else records


def _dumps(body) -> str:
    return json.dumps(body, separators=(",", ":"))


@pytest.fixture()
def utc_host(host_zone):
    with host_zone("UTC"):
        yield


@pytest.fixture()
def arrow_calls(spark, monkeypatch):
    """How many times a DataFrame was collected as Arrow."""
    cls = type(spark.range(1))
    orig = cls.toArrow
    calls = []

    def spy(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "toArrow", spy)
    return calls


def _frame(spark, n: int, exprs: dict[str, str]):
    # a Range leaf plans as a scan, not a driver-side local table
    return spark.range(0, n, 1, 3).selectExpr(*(f"{e} AS {k}" for k, e in exprs.items()))


SCALARS = {
    "b": "CASE WHEN id % 7 = 0 THEN NULL ELSE id % 3 = 0 END",
    "i8": "CAST(CASE id % 4 WHEN 0 THEN -128 WHEN 1 THEN 127 WHEN 2 THEN NULL ELSE id % 100 END AS TINYINT)",
    "i16": "CAST(CASE id % 3 WHEN 0 THEN -32768 WHEN 1 THEN 32767 ELSE id END AS SMALLINT)",
    "i32": "CAST(CASE id % 3 WHEN 0 THEN -2147483648 WHEN 1 THEN 2147483647 ELSE id END AS INT)",
    "i64": "CASE id % 4 WHEN 0 THEN -9223372036854775808 WHEN 1 THEN 9223372036854775807 "
    "WHEN 2 THEN NULL ELSE id * 1000003 END",
    "f32": "CAST(CASE id % 7 WHEN 0 THEN 'NaN' WHEN 1 THEN 'Infinity' WHEN 2 THEN '-Infinity' "
    "WHEN 3 THEN '-0.0' WHEN 4 THEN NULL ELSE CAST(id / 7 AS STRING) END AS FLOAT)",
    "f64": "CAST(CASE id % 7 WHEN 0 THEN 'NaN' WHEN 1 THEN 'Infinity' WHEN 2 THEN '-Infinity' "
    "WHEN 3 THEN '-0.0' WHEN 4 THEN NULL ELSE CAST(id / 7 + 0.1 AS STRING) END AS DOUBLE)",
    "d10": "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id * 1.25 - 1999.99 AS DECIMAL(10,2)) END",
    "d38": "CASE id % 4 WHEN 0 THEN CAST('12345678901234567890123456789012.123456' AS DECIMAL(38,6)) "
    "WHEN 1 THEN CAST(0.1 AS DECIMAL(38,6)) WHEN 2 THEN NULL "
    "ELSE CAST(id / 3 AS DECIMAL(38,6)) END",
    "ts": "CASE id % 4 WHEN 0 THEN TIMESTAMP'1900-01-01 00:00:00.001' "
    "WHEN 1 THEN TIMESTAMP'2026-10-20 12:34:56.789' WHEN 2 THEN NULL "
    "ELSE timestamp_micros(1760963696789123 + id * 1000003) END",
    "ntz": "CASE id % 3 WHEN 0 THEN TIMESTAMP_NTZ'1900-01-01 00:00:00.001' WHEN 1 THEN NULL "
    "ELSE CAST(timestamp_micros(1760963696789123 - id * 86400000001) AS TIMESTAMP_NTZ) END",
    "d": "CASE WHEN id % 6 = 0 THEN NULL ELSE date_add(DATE'1899-12-31', CAST(id * 17 AS INT)) END",
    "bin": "CASE id % 5 WHEN 0 THEN NULL WHEN 1 THEN X'' ELSE unhex(hex(id * 257)) END",
    "s": "CASE WHEN id % 9 = 0 THEN NULL ELSE concat('é\"\\\\ ', id) END",
}

NESTED = {
    "arr_i": "CASE WHEN id % 4 = 0 THEN NULL ELSE array(id, NULL, id + 1) END",
    "arr_f": "array(CAST('NaN' AS DOUBLE), NULL, 1.5D, CAST('-Infinity' AS DOUBLE), -0.0D)",
    "arr_dec": "array(CAST(id / 3 AS DECIMAL(38,6)), NULL)",
    "arr_ts": "array(TIMESTAMP'1900-01-01 00:00:00.001', NULL, timestamp_micros(id * 1001))",
    "arr_empty": "CAST(array() AS ARRAY<BIGINT>)",
    "st": "named_struct('a', id, 'b', named_struct('c', CAST(NULL AS STRING), "
    "'d', array(DATE'2026-01-02', NULL)), 'e', X'00ff', 'f', CAST('Infinity' AS DOUBLE))",
    "st_null": "CASE WHEN id % 2 = 0 THEN NULL ELSE named_struct('x', CAST(NULL AS INT), 'y', "
    "CASE WHEN id % 3 > 0 THEN named_struct('z', nullif(id, 5)) END) END",
    "arr_st": "array(named_struct('t', CASE WHEN id >= 0 THEN TIMESTAMP_NTZ'2026-10-20 12:00:00.5' END, "
    "'n', CAST(NULL AS STRING)), NULL)",
}

MAPS = {
    "m_str": "map(concat('k', id), id, 'zz', NULL, 'a', id * 2)",
    "m_int": "map(id, 'v', id + 17, NULL, id + 1, 'w')",
    "m_date": "map(date_add(DATE'2026-01-01', CAST(id % 3 AS INT)), 1.5D, DATE'1900-01-01', CAST('NaN' AS DOUBLE))",
    "m_nested": "map('s', named_struct('ts', TIMESTAMP'2026-10-20 12:34:56.789', 'b', X'01'))",
    "m_null": "CASE WHEN id % 2 = 0 THEN NULL ELSE map('a', 1) END",
}

FLAGS = [(False, True), (True, True), (False, False), (True, False)]


def _assert_same_bodies(df, as_json: bool = False):
    rows = df.collect()
    for fields, send_null in FLAGS:
        got = query_response(df, fields=fields, send_null=send_null)
        want = _oracle_body(df, fields, send_null, rows)
        if as_json:
            assert json.loads(_dumps(got)) == json.loads(_dumps(want))
        else:
            assert _dumps(got) == _dumps(want)
    lines = list(ndjson_lines(df, send_null=False))
    want = [_dumps(r) + "\n" for r in _oracle_body(df, False, False, rows)]
    if as_json:
        assert [json.loads(x) for x in lines] == [json.loads(x) for x in want]
    else:
        assert lines == want


@pytest.mark.parametrize(
    "columns, n",
    [(SCALARS, 3000), (NESTED, 40), ({"n": "NULL"}, 3)],
    ids=["scalars_3000_rows", "nested", "select_null"],
)
def test_arrow_body_equals_row_body(spark, utc_host, arrow_calls, columns, n):
    df = _frame(spark, n, columns)
    _assert_same_bodies(df)
    assert len(arrow_calls) == len(FLAGS)  # every batch body came from Arrow


def test_arrow_maps_equal_row_maps_as_json(spark, utc_host, arrow_calls):
    """Maps are dicts from Rows and (key, value) pairs from Arrow; the
    entries' order differs (the JVM hash map's against the map's own),
    the JSON objects are equal."""
    df = _frame(spark, 30, MAPS)
    _assert_same_bodies(df, as_json=True)
    assert len(arrow_calls) == len(FLAGS)


def test_every_route_sorts_map_entries(spark, utc_host, arrow_calls):
    """The Arrow body, the driver-side LIMIT take's Rows and the NDJSON
    stream give the same bytes: numeric keys by value, others by their
    JSON text."""
    df = _frame(spark, 30, MAPS)
    arrow = query_response(df)
    assert len(arrow_calls) == 1
    rows = query_response(df.limit(29))  # a CollectLimitExec: Rows
    assert len(arrow_calls) == 1
    assert _dumps(rows) == _dumps(arrow[:29])
    assert [_dumps(r) + "\n" for r in arrow] == list(ndjson_lines(df))
    assert list(arrow[1]["m_str"]) == ["a", "k1", "zz"]
    assert list(arrow[1]["m_int"]) == [1, 2, 18]
    assert list(arrow[2]["m_date"]) == ["1900-01-01", "2026-01-03"]


def test_empty_result_keeps_fields(spark, utc_host, arrow_calls):
    df = _frame(spark, 50, SCALARS).where("id < 0")
    assert query_response(df, fields=True) == {"fields": list(SCALARS), "records": []}
    assert query_response(df) == []
    assert len(arrow_calls) == 2


@pytest.mark.parametrize(
    "expr, body",
    [
        ("array()", [{"x": []}]),  # to_arrow_schema: NULL element not nullable
        ("named_struct('a', 1, 'a', 2)", [{"x": {"a": 2}}]),  # duplicated field names
        # the cast inside toArrow() fails after the job on a NULL struct
        # whose field is not nullable
        ("CASE WHEN id = 0 THEN NULL ELSE named_struct('a', id) END", [{"x": None}]),
        ("array(named_struct('a', id), NULL)", [{"x": [{"a": 0}, None]}]),
        # the JVM writes a NULL type's vector short inside a list
        ("array(NULL, NULL)", [{"x": [None, None]}]),
        ("map('a', named_struct('n', NULL))", [{"x": {"a": {"n": None}}}]),
    ],
    ids=[
        "empty_array_literal",
        "duplicate_struct_fields",
        "null_struct",
        "null_struct_element",
        "null_type_elements",
        "null_type_in_map_value",
    ],
)
def test_schemas_arrow_rejects_keep_the_rows(spark, arrow_calls, expr, body):
    df = spark.range(1, numPartitions=1).selectExpr(f"{expr} AS x")
    assert query_response(df) == body
    assert arrow_calls == []


def test_day_time_interval_fails_as_before(spark, arrow_calls):
    """Rows give a timedelta, which json.dumps rejects; the frame is
    not collected as Arrow, so the failure is unchanged."""
    df = _frame(spark, 2, {"dt": "INTERVAL '1 02:03:04.5' DAY TO SECOND"})
    body = query_response(df)
    assert arrow_calls == []
    with pytest.raises(TypeError):
        json.dumps(body)
    with pytest.raises(TypeError):
        json.dumps(_oracle_body(df, False, True))


# --- through HTTP -------------------------------------------------------

T0 = datetime(2026, 10, 20, 12, 0)


def _iso(d: datetime) -> str:
    return d.strftime("%Y-%m-%dT%H:%M:%SZ")


def _post(base, path, body, streaming=False):
    req = urllib.request.Request(
        base + path + ("?streaming=true" if streaming else ""),
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        if streaming:
            return [json.loads(line) for line in resp.read().splitlines()]
        return json.loads(resp.read())


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """(api, base): a stream of 3 staged rows with ms p_timestamps."""
    api = ParseableAPI(spark, str(tmp_path_factory.mktemp("resp")))
    api.create_stream("app")
    for i in range(3):
        api._stores["app"].ingest(
            [{"i": i}], p_timestamp=T0 + timedelta(minutes=i, milliseconds=123 * (i + 1))
        )
    srv, base = serve_background(api)
    yield api, base
    srv.shutdown()


def _window(sql):
    return {"query": sql, "startTime": _iso(T0), "endTime": _iso(T0 + timedelta(hours=1))}


def test_timestamp_is_utc_on_any_host(served, host_zone):
    """TIMESTAMP is the UTC wall clock on a host in New York, on the
    batch (Arrow and collect paths) and the NDJSON route."""
    _, base = served
    sql = (
        "SELECT i, CAST(p_timestamp AS TIMESTAMP) AS t, p_timestamp AS n, "
        "TIMESTAMP'2026-10-20 12:34:56.789' AS lit FROM app"
    )
    want = [
        {
            "i": i,
            "t": (T0 + timedelta(minutes=i, milliseconds=123 * (i + 1))).isoformat(
                timespec="milliseconds"
            ),
            "lit": "2026-10-20T12:34:56.789",
        }
        for i in range(3)
    ]
    with host_zone("America/New_York"):
        for q in (f"{sql} ORDER BY i", f"{sql} ORDER BY i LIMIT 10"):
            for streaming in (False, True):
                got = _post(base, "/api/v1/query", _window(q), streaming)
                assert [{k: r[k] for k in ("i", "t", "lit")} for r in got] == want
                assert [r["n"] for r in got] == [r["t"] for r in want]


@pytest.mark.parametrize(
    "sql, status",
    [
        ("SELECT INTERVAL '1-2' YEAR TO MONTH AS y FROM app", 400),
        ("SELECT parse_json('{\"a\": 1}') AS v FROM app", 500),
        ("SELECT INTERVAL '1 02:03:04' DAY TO SECOND AS d FROM app", 500),
    ],
    ids=["year_month_interval", "variant", "day_time_interval"],
)
def test_unserializable_types_keep_their_status(served, sql, status):
    _, base = served
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(base, "/api/v1/query", _window(sql))
    assert ei.value.code == status


# --- job and task pins --------------------------------------------------


def _jobs_and_tasks(spark, fn):
    """(result, jobs started, tasks completed) of ``fn()``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    first = jsc.dagScheduler().numTotalJobs()
    out = fn()
    last = jsc.dagScheduler().numTotalJobs()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    tasks = 0
    for j in range(first, last):
        for s in tracker.getJobInfo(j).stageIds:
            stage = tracker.getStageInfo(s)
            tasks += stage.numCompletedTasks if stage else 0
    return out, last - first, tasks


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    """(api, base, t0): 48 one-minute files of 5 rows, served."""
    t0 = datetime.now(timezone.utc).replace(tzinfo=None, second=0, microsecond=0)
    t0 -= timedelta(hours=2)
    api = ParseableAPI(spark, str(tmp_path_factory.mktemp("wide")))
    api.create_stream("app", time_partition="ts")
    api.ingest(
        "app",
        [
            {"m": m, "i": i, "ts": _iso(t0 + timedelta(minutes=m, seconds=30))}
            for m in range(48)
            for i in range(5)
        ],
    )
    api.run_sync()
    assert len(api._stores["app"].manifest.files) == 48
    srv, base = serve_background(api)
    yield api, base, t0
    srv.shutdown()


def test_plain_limit_keeps_the_incremental_take(spark, wide, arrow_calls):
    """`LIMIT 5` is a CollectLimitExec: its take scans one partition and
    stops, where an Arrow collect runs them all. The ordered top-k is
    no driver-side take and comes from Arrow."""
    _, base, t0 = wide
    body = _window("SELECT m, i FROM app LIMIT 5")
    body["startTime"], body["endTime"] = _iso(t0), _iso(t0 + timedelta(hours=1))
    rows, jobs, tasks = _jobs_and_tasks(spark, lambda: _post(base, "/api/v1/query", body))
    assert len(rows) == 5 and arrow_calls == []
    assert (jobs, tasks) == (1, 1)
    body["query"] = "SELECT m, i FROM app ORDER BY m DESC, i LIMIT 5"
    rows = _post(base, "/api/v1/query", body)
    assert rows == [{"m": 47, "i": i} for i in range(5)] and len(arrow_calls) == 1


def test_manifest_count_row_starts_no_job(spark, wide, arrow_calls):
    _, base, t0 = wide
    body = _window("SELECT COUNT(*) AS n FROM app")
    body["startTime"], body["endTime"] = _iso(t0), _iso(t0 + timedelta(minutes=44))
    rows, jobs, _ = _jobs_and_tasks(spark, lambda: _post(base, "/api/v1/query", body))
    assert rows == [{"n": 220}] and jobs == 0 and arrow_calls == []


@contextlib.contextmanager
def _confs(spark, **confs):
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_one_minute_flush_runs_no_sampling_job(spark, tmp_path):
    """The shuffle's map stage and the write: two jobs, where the global
    time sort added a third, the RangePartitioner's sampling job."""
    store = StreamStore(spark, str(tmp_path), StreamConfig(name="one"))
    store.ingest([{"i": i} for i in range(20)], p_timestamp=T0 + timedelta(seconds=7))
    n, jobs, _ = _jobs_and_tasks(spark, store.flush)
    assert n == 20 and jobs == 2
    assert len(store.manifest.files) == 1


def test_each_minute_is_one_time_desc_file(spark, tmp_path):
    """48 minutes of 10 distinct event times each, flushed with 96
    uncoalesced shuffle partitions: every minute directory holds one
    file, sorted time-desc. The range partitioning of a global time
    sort cut every minute in two at these settings."""
    api = ParseableAPI(spark, str(tmp_path))
    api.create_stream("app", time_partition="ts")
    api.ingest(
        "app",
        [
            {"m": m, "k": k, "ts": (T0 + timedelta(minutes=m, seconds=5 * k + m % 5)).isoformat() + "Z"}
            for m in range(48)
            for k in range(10)
        ],
    )
    store = api._stores["app"]
    with _confs(
        spark,
        **{
            "spark.sql.shuffle.partitions": "96",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    ):
        assert store.flush() == 480
    dirs = sorted(glob.glob(os.path.join(store.data_dir, "date=*", "hour=*", "minute=*")))
    assert len(dirs) == 48
    for d in dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, d
        ts = pq.read_table(files[0]).column("ts").to_pylist()
        assert len(ts) == 10 and ts == sorted(ts, reverse=True)
