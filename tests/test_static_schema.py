"""Static-schema streams (ingest/static_schema.py + server wiring).

Reference: src/static_schema.rs (declaration validation + type map),
src/parseable/mod.rs:1336-1365 (validate_static_schema on create),
src/event/format/mod.rs:213-233 (is_schema_matching: ingestion rejects
fields outside the declared schema — no evolution).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from parseable_spark.ingest import schema as sc
from parseable_spark.ingest.static_schema import parse_static_schema

FIELDS = {
    "fields": [
        {"name": "level", "data_type": "string"},
        {"name": "latency_ms", "data_type": "int"},
        {"name": "ratio", "data_type": "double"},
        {"name": "ok", "data_type": "boolean"},
        {"name": "ts", "data_type": "datetime"},
    ]
}


class TestParse:
    def test_type_mapping(self):
        out = parse_static_schema(FIELDS)
        assert out == {
            "level": sc.UTF8,
            "latency_ms": sc.INT64,
            "ratio": sc.FLOAT64,
            "ok": sc.BOOL,
            "ts": sc.TIMESTAMP_MS,
        }
        # list types map to element types (V1 flattening explodes rows)
        lst = parse_static_schema(
            {"fields": [{"name": "tags", "data_type": "string_list"}]}
        )
        assert lst == {"tags": sc.UTF8}

    @pytest.mark.parametrize(
        "body,msg",
        [
            ({}, "fields"),
            ({"fields": []}, "at least one"),
            ({"fields": [{"name": "", "data_type": "int"}]}, "empty"),
            ({"fields": [{"name": "p_timestamp", "data_type": "int"}]}, "reserved"),
            (
                {"fields": [{"name": "a", "data_type": "int"}, {"name": "a", "data_type": "int"}]},
                "duplicate",
            ),
            ({"fields": [{"name": "a", "data_type": "uuid"}]}, "unrecognized"),
        ],
    )
    def test_rejections(self, body, msg):
        with pytest.raises(ValueError, match=msg):
            parse_static_schema(body)

    def test_partition_fields_must_be_declared(self):
        with pytest.raises(ValueError, match="custom partition"):
            parse_static_schema(FIELDS, custom_partition="level,region")
        parse_static_schema(FIELDS, custom_partition="level")  # ok
        with pytest.raises(ValueError, match="time partition"):
            parse_static_schema(FIELDS, time_partition="event_ts")
        out = parse_static_schema(
            {"fields": [{"name": "event_ts", "data_type": "string"}]},
            time_partition="event_ts",
        )
        assert out["event_ts"] == sc.TIMESTAMP_MS  # forced to datetime


def _req(method, base, path, body=None, headers=None):
    data = None if body is None else json.dumps(body).encode()
    r = urllib.request.Request(
        base + path, data=data, method=method,
        headers={"Content-Type": "application/json", **(headers or {})},
    )
    resp = urllib.request.urlopen(r, timeout=30)
    return resp, json.loads(resp.read())


def test_static_stream_http_lifecycle(spark, tmp_path):
    """Create a static stream over HTTP, ingest conforming events,
    reject non-conforming ones, keep enforcement across a restart."""
    from parseable_spark.server import ParseableAPI, serve_background

    api = ParseableAPI(spark, str(tmp_path))
    srv, base = serve_background(api)
    try:
        # declaration is validated at create
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req("PUT", base, "/api/v1/logstream/bad",
                 body={"fields": [{"name": "x", "data_type": "uuid"}]},
                 headers={"x-p-static-schema-flag": "true"})
        assert ei.value.code == 400

        _, out = _req("PUT", base, "/api/v1/logstream/fixed", body=FIELDS,
                      headers={"x-p-static-schema-flag": "true"})
        assert out["status"] == "created log stream fixed"
        # declared schema is the committed schema immediately
        _, schema = _req("GET", base, "/api/v1/logstream/fixed/schema")
        names = {f["name"] for f in schema["fields"]}
        assert {"level", "latency_ms", "ratio", "ok"} <= names

        # conforming event ingests
        _, out = _req("POST", base, "/api/v1/ingest",
                      body=[{"level": "info", "latency_ms": 12, "ok": True}],
                      headers={"x-p-stream": "fixed"})
        assert out["records"] == 1
        # unknown field is rejected — no evolution on static streams
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req("POST", base, "/api/v1/ingest",
                 body=[{"level": "info", "surprise_column": 1}],
                 headers={"x-p-stream": "fixed"})
        assert ei.value.code == 400
        assert b"static schema mismatch" in ei.value.read()
        # type mismatch routes through conflict renaming -> renamed
        # field is undeclared -> rejected too
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req("POST", base, "/api/v1/ingest",
                 body=[{"latency_ms": "not a number"}],
                 headers={"x-p-stream": "fixed"})
        assert ei.value.code == 400
    finally:
        srv.shutdown()

    # restart: flag rediscovered from the persisted stream config
    api2 = ParseableAPI(spark, str(tmp_path))
    assert api2._stores["fixed"].config.static_schema_flag
    with pytest.raises(Exception, match="static schema mismatch"):
        api2.ingest("fixed", [{"brand_new": 1}])
    assert api2.ingest("fixed", [{"level": "warn"}]) == 1


def test_dynamic_streams_unaffected(spark, tmp_path):
    from parseable_spark.server import ParseableAPI

    api = ParseableAPI(spark, str(tmp_path))
    assert api.ingest("free", [{"anything": 1}, {"goes": "here"}]) == 2


class TestTimePartition:
    """User time partition (SURVEY §1.5; reference json/flatten.rs:
    157-220): the event's own timestamp field replaces ingest time as
    p_timestamp, with the two-stage age validation."""

    def test_event_time_replaces_ingest_time(self, spark, tmp_path):
        from datetime import datetime

        from parseable_spark.ingest.events import StreamConfig
        from parseable_spark.storage.store import StreamStore

        store = StreamStore(
            spark, str(tmp_path), StreamConfig(name="tp", time_partition="event_ts")
        )
        now = datetime.utcnow()
        iso = lambda d: d.isoformat() + "Z"  # noqa: E731
        from datetime import timedelta

        t0, t1 = now - timedelta(hours=2), now - timedelta(hours=1)
        store.ingest([
            {"event_ts": iso(t0), "msg": "a"},
            {"event_ts": iso(t1), "msg": "b"},
        ])
        rows = {r["msg"]: r["p_timestamp"] for r in store.staging_df().collect()}
        assert abs((rows["a"] - t0).total_seconds()) < 0.001
        assert abs((rows["b"] - t1).total_seconds()) < 0.001

    def test_age_validation_two_stage(self, spark, tmp_path):
        from datetime import datetime, timedelta

        import pytest as _pytest

        from parseable_spark.ingest.events import StreamConfig
        from parseable_spark.storage.store import StreamStore

        cfg = StreamConfig(
            name="tp2", time_partition="event_ts",
            time_partition_limit_days=30, max_chunk_age_hours=24,
        )
        store = StreamStore(spark, str(tmp_path), cfg)
        now = datetime.utcnow()
        iso = lambda d: d.isoformat() + "Z"  # noqa: E731
        # first event older than the 30-day limit -> rejected
        with _pytest.raises(ValueError, match="30-day limit"):
            store.ingest([{"event_ts": iso(now - timedelta(days=40)), "m": 1}])
        # first valid event anchors the reference
        store.ingest([{"event_ts": iso(now - timedelta(days=2)), "m": 1}])
        # >24h BEFORE the reference -> rejected
        with _pytest.raises(ValueError, match="older than the"):
            store.ingest([{"event_ts": iso(now - timedelta(days=4)), "m": 2}])
        # within the chunk-age window -> accepted
        assert store.ingest([{"event_ts": iso(now - timedelta(days=2, hours=20)), "m": 3}]) == 1
        # missing / non-string / unparseable field
        for bad in [{}, {"event_ts": 5}, {"event_ts": "not a time"}]:
            with _pytest.raises(ValueError):
                store.ingest([{**bad, "m": 4}])

    def test_http_create_with_time_partition_and_restart(self, spark, tmp_path):
        from datetime import datetime, timedelta

        from parseable_spark.server import ParseableAPI, serve_background

        api = ParseableAPI(spark, str(tmp_path))
        srv, base = serve_background(api)
        try:
            _req("PUT", base, "/api/v1/logstream/evts", headers={
                "x-p-time-partition": "event_ts",
                "x-p-time-partition-limit": "90d",
            })
            cfg = api._stores["evts"].config
            assert cfg.time_partition == "event_ts"
            assert cfg.time_partition_limit_days == 90
            with pytest.raises(urllib.error.HTTPError) as ei:
                _req("PUT", base, "/api/v1/logstream/evts2",
                     headers={"x-p-time-partition-limit": "soon"})
            assert ei.value.code == 400
        finally:
            srv.shutdown()
        # restart keeps the partition config
        api2 = ParseableAPI(spark, str(tmp_path))
        cfg2 = api2._stores["evts"].config
        assert cfg2.time_partition == "event_ts"
        assert cfg2.time_partition_limit_days == 90
        iso = (datetime.utcnow() - timedelta(days=100)).isoformat() + "Z"
        with pytest.raises(Exception, match="90-day limit"):
            api2.ingest("evts", [{"event_ts": iso}])


def test_time_partition_flush_scan_prunes_by_event_time(spark, tmp_path):
    """Event-time p_timestamp flows through flush → manifest → pruned
    scan: a query window over the events' OWN times finds them even
    though ingest happened 'now', and a disjoint window excludes them."""
    from datetime import datetime, timedelta

    from parseable_spark.ingest.events import StreamConfig
    from parseable_spark.storage.store import StreamStore

    now = datetime.utcnow()
    # microsecond-free base: stored event times are ms-truncated
    base = (now - timedelta(days=1)).replace(microsecond=0)
    cfg = StreamConfig(name="evtp", time_partition="event_ts")
    store = StreamStore(spark, str(tmp_path), cfg)
    iso = lambda d: d.isoformat() + "Z"  # noqa: E731
    store.ingest(
        [{"event_ts": iso(base + timedelta(minutes=i)), "n": i} for i in range(5)]
    )
    store.flush()
    df = store.scan()
    got = df.filter(
        (df["p_timestamp"] >= base) & (df["p_timestamp"] < base + timedelta(minutes=10))
    )
    assert got.count() == 5
    # the events are NOT at ingest time
    assert df.filter(df["p_timestamp"] >= now - timedelta(minutes=5)).count() == 0
    # manifest prunes a disjoint window to zero files, keeps the real one
    assert (
        store.manifest.prune_paths(
            "p_timestamp",
            (base + timedelta(hours=6)).isoformat(),
            (base + timedelta(hours=7)).isoformat(),
        )
        == []
    )
    assert len(
        store.manifest.prune_paths(
            "p_timestamp",
            base.isoformat(),
            (base + timedelta(minutes=10)).isoformat(),
        )
    ) > 0


def test_rejected_batch_commits_no_schema_fields(spark, tmp_path):
    """Review finding: a time-partition-rejected batch must NOT leave
    its new fields in the committed schema."""
    from datetime import datetime, timedelta

    from parseable_spark.ingest.events import StreamConfig
    from parseable_spark.storage.store import StreamStore

    cfg = StreamConfig(name="tpx", time_partition="event_ts")
    store = StreamStore(spark, str(tmp_path), cfg)
    old = (datetime.utcnow() - timedelta(days=40)).isoformat() + "Z"
    with pytest.raises(ValueError):
        store.ingest([{"event_ts": old, "phantom_field": 1}])
    assert "phantom_field" not in store.stream.registry.fields
    assert store.stream.reference_timestamp is None  # nothing anchored
