"""Querier → ingestor Flight fan-out (VERDICT r1 next-9, stretch):
sub-minute events staged on a second simulated ingestor process appear
in the querier's results, merged as temporary events before execution.

Reference: src/handlers/airplane.rs:155-184 (fan out `select * from
"<stream>"` over gRPC to every ingestor, append returned batches),
src/utils/arrow/flight.rs:91-160 (append_temporary_events +
send_to_ingester hot-window gate).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from parseable_spark.flight import querier_query, send_to_ingester, serve
from parseable_spark.ingest.events import StreamConfig
from parseable_spark.query.engine import QueryEngine
from parseable_spark.storage.store import StreamStore

pytest.importorskip("pyarrow.flight")

NOW = datetime(2026, 8, 13, 12, 0, 30)


def _utc(dt: datetime) -> datetime:
    return dt.replace(tzinfo=timezone.utc)


def test_send_to_ingester_gate():
    now = _utc(NOW)
    # window ending inside the staging-fresh period → fan out
    assert send_to_ingester(now - timedelta(hours=1), now, now=now)
    # window entirely in the past (beyond the 300 s staging window) → local only
    assert not send_to_ingester(
        now - timedelta(hours=2), now - timedelta(minutes=30), now=now
    )
    # naive/aware mixing is normalized
    assert send_to_ingester(NOW - timedelta(minutes=5), NOW, now=now)


def test_fresh_ingestor_events_appear_in_querier_results(spark, tmp_path):
    # --- ingestor process B: staged-only (unflushed) sub-minute events
    store_b = StreamStore(spark, str(tmp_path / "b"), StreamConfig(name="applogs"))
    store_b.ingest(
        [
            {"level": "error", "msg": "fresh-on-B-1"},
            {"level": "info", "msg": "fresh-on-B-2"},
        ],
        p_timestamp=NOW - timedelta(seconds=20),
    )
    engine_b = QueryEngine(spark, time_col="p_timestamp")
    engine_b.register_stream("applogs", store_b.scan(), time_col="p_timestamp")
    server_b = serve(engine_b)

    # --- querier process A: its own store with older, flushed data
    store_a = StreamStore(spark, str(tmp_path / "a"), StreamConfig(name="applogs"))
    store_a.ingest(
        [{"level": "info", "msg": "old-on-A"}],
        p_timestamp=NOW - timedelta(minutes=30),
    )
    store_a.flush()
    engine_a = QueryEngine(spark, time_col="p_timestamp")
    local = store_a.scan()

    start = (NOW - timedelta(hours=1)).strftime("%Y-%m-%dT%H:%M:%SZ")
    end = (NOW + timedelta(minutes=1)).strftime("%Y-%m-%dT%H:%M:%SZ")

    try:
        # without fan-out: only A's local rows
        rows = querier_query(
            engine_a, "applogs", local,
            "SELECT msg FROM applogs ORDER BY msg", start, end, now=NOW,
        ).collect()
        assert [r["msg"] for r in rows] == ["old-on-A"]

        # with fan-out: B's staged events merge in as temporary events
        rows = querier_query(
            engine_a, "applogs", local,
            "SELECT msg FROM applogs ORDER BY msg", start, end,
            ingestor_ports=[server_b.port], now=NOW,
        ).collect()
        assert [r["msg"] for r in rows] == ["fresh-on-B-1", "fresh-on-B-2", "old-on-A"]

        # aggregates see the union too
        agg = querier_query(
            engine_a, "applogs", local,
            "SELECT level, count(*) AS cnt FROM applogs GROUP BY level ORDER BY level",
            start, end, ingestor_ports=[server_b.port], now=NOW,
        ).collect()
        assert [(r["level"], r["cnt"]) for r in agg] == [("error", 1), ("info", 2)]

        # a dead ingestor in the pool is skipped, not fatal (airplane.rs:173-177)
        rows = querier_query(
            engine_a, "applogs", local,
            "SELECT count(*) AS n FROM applogs", start, end,
            ingestor_ports=[1, server_b.port], now=NOW,
        ).collect()
        assert rows[0]["n"] == 3
    finally:
        server_b.shutdown()


def test_past_window_skips_rpc_entirely(spark, tmp_path):
    """Outside the staging-fresh window the querier never contacts the
    ingestors (ports list can even be bogus — no RPC is attempted)."""
    store = StreamStore(spark, str(tmp_path / "q"), StreamConfig(name="s2"))
    store.ingest([{"k": "v"}], p_timestamp=NOW - timedelta(hours=3))
    store.flush()
    engine = QueryEngine(spark, time_col="p_timestamp")
    local = store.scan()
    start = (NOW - timedelta(hours=4)).strftime("%Y-%m-%dT%H:%M:%SZ")
    end = (NOW - timedelta(hours=1)).strftime("%Y-%m-%dT%H:%M:%SZ")
    rows = querier_query(
        engine, "s2", local, "SELECT count(*) AS n FROM s2", start, end,
        ingestor_ports=[1],  # nothing listens here; must not matter
        now=NOW,
    ).collect()
    assert rows[0]["n"] == 1


def test_fetch_fresh_events_aligns_columns_by_name(spark, monkeypatch):
    """createDataFrame(pdf, schema) zips pandas columns to schema
    fields POSITIONALLY — an ingestor with a reordered or drifted
    schema (a fresh, not-yet-synced field) must be aligned by NAME:
    reordered values land in the right columns, unknown-to-local drift
    columns are dropped, locally-known-but-missing fields become null."""
    import pyarrow as pa

    from parseable_spark import flight as fl_mod

    local_df = spark.createDataFrame(
        [(1, "a", 1.5)], "id bigint, name string, score double"
    )

    # ingestor returns columns REORDERED plus a drift-only column,
    # and is missing 'score' entirely
    drifted = pa.table(
        {
            "name": ["x", "y"],
            "drift_col": [9, 9],
            "id": [10, 11],
        }
    )
    monkeypatch.setattr(fl_mod, "fetch", lambda *a, **k: drifted)
    out = fl_mod.fetch_fresh_events(
        spark, [1234], "s", "start", "end", schema=local_df.schema
    )
    rows = sorted(out.collect(), key=lambda r: r["id"])
    assert out.columns == ["id", "name", "score"]
    assert [(r["id"], r["name"], r["score"]) for r in rows] == [
        (10, "x", None),
        (11, "y", None),
    ]


def test_flight_requires_auth_when_configured(spark, tmp_path):
    """r6 review: the Flight SQL surface bypassed the HTTP layer's
    auth entirely. With auth configured every call must carry the
    Basic header; non-loopback binds without auth are refused."""
    import pyarrow.flight as fl

    from parseable_spark.flight import fetch, node_action

    store = StreamStore(spark, str(tmp_path / "s"), StreamConfig(name="app"))
    store.ingest([{"n": 1}], p_timestamp=NOW)
    engine = QueryEngine(spark, time_col="p_timestamp")
    engine.register_stream("app", store.scan(), time_col="p_timestamp")
    srv = serve(engine, auth=("cluster", "secret"))
    try:
        with pytest.raises(fl.FlightUnauthenticatedError):
            fetch(srv.port, "select * from `app`")
        with pytest.raises(fl.FlightUnauthenticatedError):
            fetch(srv.port, "select * from `app`", auth=("cluster", "wrong"))
        with pytest.raises(fl.FlightUnauthenticatedError):
            node_action(srv.port, "info")
        t = fetch(srv.port, "select * from `app`", auth=("cluster", "secret"))
        assert t.num_rows == 1
        assert node_action(srv.port, "info", auth=("cluster", "secret"))["status"] == "ok"
    finally:
        srv.shutdown()
    with pytest.raises(ValueError, match="loopback"):
        serve(engine, host="0.0.0.0")


def test_staging_only_fanout_does_not_double_count(spark, tmp_path):
    """r6 review: ingestors answering the fan-out with a FULL scan
    double-count parquet the querier already reads from the shared
    object store. With stores wired, the ticket's staging_only flag
    serves memory-resident staging exclusively — so a querier sharing
    the ingestor's store counts each event exactly once."""
    from parseable_spark.flight import fetch

    shared = StreamStore(spark, str(tmp_path / "shared"), StreamConfig(name="app"))
    shared.ingest(
        [{"msg": f"synced-{i}"} for i in range(3)],
        p_timestamp=NOW - timedelta(seconds=90),
    )
    shared.flush()  # 3 rows now in parquet (the "object store")
    shared.ingest(
        [{"msg": "staged-1"}, {"msg": "staged-2"}],
        p_timestamp=NOW - timedelta(seconds=10),
    )
    engine_i = QueryEngine(spark, time_col="p_timestamp")
    # the ingestor registers its FULL view (the hazardous wiring) —
    # the stores-aware staging_only path must still answer staging only
    engine_i.register_stream("app", shared.scan(), time_col="p_timestamp")
    ingestor = serve(engine_i, stores={"app": shared})
    try:
        start = (NOW - timedelta(hours=1)).strftime("%Y-%m-%dT%H:%M:%SZ")
        end = (NOW + timedelta(minutes=1)).strftime("%Y-%m-%dT%H:%M:%SZ")
        t = fetch(
            ingestor.port, "select * from `app`", start, end,
            ticket_extra={"staging_only": True, "stream": "app"},
        )
        assert t.num_rows == 2  # staging only, parquet NOT re-served
        msgs = set(t.column("msg").to_pylist())
        assert msgs == {"staged-1", "staged-2"}

        # end-to-end: a querier PROCESS reads the same object-store
        # root (its own StreamStore: manifest + parquet, no staging —
        # staging lives in the ingestor's memory) and fans out — each
        # event counted exactly once
        querier_store = StreamStore(
            spark, str(tmp_path / "shared"), StreamConfig(name="app")
        )
        assert querier_store.scan().count() == 3  # parquet only
        engine_q = QueryEngine(spark, time_col="p_timestamp")
        out = querier_query(
            engine_q,
            "app",
            querier_store.scan(),
            "select count(*) AS n from `app`",
            start,
            end,
            ingestor_ports=[ingestor.port],
            now=NOW,
        )
        assert out.collect()[0]["n"] == 5  # 3 synced + 2 staged, no dupes
    finally:
        ingestor.shutdown()


def test_send_to_ingester_mixed_awareness_does_not_raise():
    """r6 review: an aware start with a naive end raised TypeError
    (only `now` was normalized, keyed off end's awareness)."""
    aware = NOW.replace(tzinfo=timezone.utc)
    assert send_to_ingester(aware - timedelta(minutes=5), NOW, now=NOW)
    assert send_to_ingester(NOW - timedelta(minutes=5), aware, now=aware)


def test_staging_only_window_is_utc_on_any_host_zone(spark, tmp_path, host_zone):
    """The staging-only fan-out keeps exactly the staged rows inside the
    request window on a host in New York. A Python datetime literal
    would pass through the host's zone and shift the window by its
    offset (four hours in August), serving the wrong staged rows."""
    from parseable_spark.flight import fetch

    store = StreamStore(spark, str(tmp_path / "z"), StreamConfig(name="app"))
    for msg, at in (
        ("before", NOW - timedelta(hours=3)),
        ("inside-1", NOW - timedelta(minutes=50)),
        ("inside-2", NOW - timedelta(seconds=20)),
        ("after", NOW + timedelta(hours=3, minutes=30)),
    ):
        store.ingest([{"msg": msg}], p_timestamp=at)
    srv = serve(QueryEngine(spark, time_col="p_timestamp"), stores={"app": store})
    start = (NOW - timedelta(hours=1)).strftime("%Y-%m-%dT%H:%M:%SZ")
    end = (NOW + timedelta(minutes=1)).strftime("%Y-%m-%dT%H:%M:%SZ")
    try:
        with host_zone("America/New_York"):
            t = fetch(
                srv.port, "select * from `app`", start, end,
                ticket_extra={"staging_only": True, "stream": "app"},
            )
        assert sorted(t.column("msg").to_pylist()) == ["inside-1", "inside-2"]
    finally:
        srv.shutdown()
