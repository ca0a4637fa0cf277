"""Arrow Flight query transport.

Parity with the reference's Flight endpoint
(src/handlers/airplane.rs:126-248): `do_get` takes a ticket JSON
`{"query": sql, "startTime": ..., "endTime": ...}`, executes it through
the same engine as HTTP queries, and streams the result as Arrow IPC.

Spark side: the plan executes distributed, `DataFrame.toArrow()`
(Arrow-native collect, Spark ≥4.0) brings the result to the driver as
one Arrow table, and pyarrow.flight serves it. Results are
API-response-sized (the product surface always aggregates or limits);
bulk data movement stays on the object store, exactly as in the
reference (queriers read parquet directly, Flight carries results
only — airplane.rs fans out *queries*, not data).

Gated import: pyarrow.flight ships with pyarrow but grpc support can be
absent in minimal builds; `serve()` raises a clear error then.
"""

from __future__ import annotations

import json
import threading

try:
    import pyarrow.flight as _flight

    _FLIGHT_ERR = None
except ImportError as e:  # pragma: no cover - flight present in this env
    _flight = None
    _FLIGHT_ERR = e

from pyspark.sql import DataFrame

from .query.engine import QueryEngine


def _basic_header(auth: tuple[str, str]) -> bytes:
    import base64

    return b"Basic " + base64.b64encode(f"{auth[0]}:{auth[1]}".encode())


if _flight is not None:

    class _BasicAuthMiddlewareFactory(_flight.ServerMiddlewareFactory):
        """Per-call Basic auth on the gRPC metadata — the reference's
        Flight endpoint extracts and validates Basic credentials from
        request headers the same way (airplane.rs; it shares the HTTP
        layer's credential check). Without this, anyone who can reach
        the port runs arbitrary read SQL past the HTTP layer's RBAC
        (review finding)."""

        def __init__(self, auth: tuple[str, str]):
            self._want = _basic_header(auth)

        def start_call(self, info, headers):
            got = headers.get("authorization") or headers.get(b"authorization")
            vals = got if got else []
            for v in vals:
                v = v.encode() if isinstance(v, str) else v
                if v == self._want:
                    return None
            raise _flight.FlightUnauthenticatedError("credentials required")


class FlightQueryServer(_flight.FlightServerBase if _flight else object):
    """One do_get surface over a QueryEngine (airplane.rs:126-248),
    plus cluster-management actions (cluster/mod.rs get_cluster_info /
    fetch_stats_from_ingestors): `info` returns static node metadata,
    `metrics` returns the live stats snapshot, `ping` answers liveness
    (check_liveness probes peers the same way).

    Security posture (review findings, r6): binds loopback by default
    (cluster deployments opt into an external host AND credentials
    together); with ``auth`` every call must carry the Basic header;
    do_get executes under the engine's P_SQL_TIMEOUT deadline so a
    runaway ticket cannot pin a gRPC worker or collect unbounded
    results forever (the HTTP route has the same deadline). The SQL
    itself passes through engine.query → ensure_read_only."""

    def __init__(
        self,
        engine: QueryEngine,
        location: str = "grpc://127.0.0.1:0",
        node_info: dict | None = None,
        metrics_fn=None,
        auth: tuple[str, str] | None = None,
        stores: dict | None = None,
    ):
        if _flight is None:
            raise RuntimeError(f"pyarrow.flight unavailable: {_FLIGHT_ERR}")
        middleware = (
            {"auth": _BasicAuthMiddlewareFactory(auth)} if auth else None
        )
        super().__init__(location, middleware=middleware)
        self.engine = engine
        self.node_info = node_info or {}
        self.metrics_fn = metrics_fn
        self.stores = stores

    def do_get(self, context, ticket):
        req = json.loads(ticket.ticket.decode("utf-8"))
        if req.get("staging_only") and self.stores is not None:
            # querier fan-out path: serve ONLY memory-resident staging
            # for the stream — the reference appends ingestors'
            # temporary (unsynced) events to the querier view
            # (utils/arrow/flight.rs:91-160). Serving a full scan here
            # would double-count parquet the querier already reads
            # from the shared object store (review finding).
            store = self.stores.get(req.get("stream") or "")
            sdf = store.staging_df() if store is not None else None
            if sdf is None:
                import pyarrow as pa

                return _flight.RecordBatchStream(pa.table({}))
            df = sdf
            if req.get("startTime") and req.get("endTime"):
                from .query.timerange import TimeRange

                tr = TimeRange.parse(req["startTime"], req["endTime"])
                df = store.window_filter(sdf, tr.start, tr.end)
        else:
            df = self.engine.query(
                req["query"], req.get("startTime"), req.get("endTime")
            )
        table = self.engine.run_with_deadline(
            df.toArrow, f"flight:{str(req)[:100]}"
        )
        return _flight.RecordBatchStream(table)

    def do_action(self, context, action):
        name = action.type
        if name == "ping":
            payload = {"status": "ok"}
        elif name == "info":
            payload = {"status": "ok", **self.node_info}
        elif name == "metrics":
            payload = self.metrics_fn() if self.metrics_fn else {}
        else:
            raise KeyError(f"unknown action {name!r}")
        return iter([_flight.Result(json.dumps(payload).encode("utf-8"))])


def serve(
    engine: QueryEngine,
    port: int = 0,
    node_info: dict | None = None,
    metrics_fn=None,
    host: str = "127.0.0.1",
    auth: tuple[str, str] | None = None,
    stores: dict | None = None,
) -> "FlightQueryServer":
    """Start a Flight server (0 = ephemeral port); returns the server
    (server.port gives the bound port; call shutdown() to stop).
    Default bind is LOOPBACK — pass ``host="0.0.0.0"`` together with
    ``auth=(user, pw)`` for cluster deployments (an externally
    reachable unauthenticated SQL surface bypasses the HTTP layer's
    RBAC; review finding)."""
    if host not in ("127.0.0.1", "localhost") and auth is None:
        raise ValueError(
            "refusing to bind the Flight SQL surface on a non-loopback "
            "host without auth=(user, password)"
        )
    server = FlightQueryServer(
        engine,
        f"grpc://{host}:{port}",
        node_info=node_info,
        metrics_fn=metrics_fn,
        auth=auth,
        stores=stores,
    )
    threading.Thread(target=server.serve, daemon=True).start()
    return server


def _call_options(timeout: float | None = None, auth: tuple[str, str] | None = None):
    kw = {}
    if timeout is not None:
        kw["timeout"] = timeout
    if auth is not None:
        kw["headers"] = [(b"authorization", _basic_header(auth))]
    return _flight.FlightCallOptions(**kw)


def node_action(
    port: int, name: str, timeout: float = 2.0, auth: tuple[str, str] | None = None
) -> dict:
    """Client helper: invoke a cluster action on a peer node; raises on
    unreachable/dead peers (callers map that to reachable=false)."""
    if _flight is None:
        raise RuntimeError(f"pyarrow.flight unavailable: {_FLIGHT_ERR}")
    client = _flight.connect(f"grpc://localhost:{port}")
    try:
        opts = _call_options(timeout, auth)
        results = list(client.do_action(_flight.Action(name, b""), options=opts))
        return json.loads(results[0].body.to_pybytes()) if results else {}
    finally:
        client.close()


def fetch(
    port: int,
    query: str,
    start: str | None = None,
    end: str | None = None,
    auth: tuple[str, str] | None = None,
    ticket_extra: dict | None = None,
    timeout: float = 30.0,
):
    """Client helper: run a query over Flight, return a pyarrow Table
    (the reference client path: ticket JSON → IPC stream). The gRPC
    deadline is mandatory (r7 review): the querier fan-out runs under
    the server's API lock, and a wedged ingestor that accepts the TCP
    connection but never answers would otherwise block do_get forever
    and hang every subsequent query on the node."""
    if _flight is None:
        raise RuntimeError(f"pyarrow.flight unavailable: {_FLIGHT_ERR}")
    client = _flight.connect(f"grpc://localhost:{port}")
    try:
        ticket_body = {"query": query, **(ticket_extra or {})}
        if start is not None:
            ticket_body["startTime"] = start
        if end is not None:
            ticket_body["endTime"] = end
        ticket = _flight.Ticket(json.dumps(ticket_body).encode("utf-8"))
        return client.do_get(
            ticket, options=_call_options(timeout=timeout, auth=auth)
        ).read_all()
    finally:
        # the querier fan-out calls this once per ingestor per fresh
        # query — an abandoned client leaks a gRPC channel until GC
        client.close()


# --- querier → ingestor fan-out (airplane.rs:155-184) -----------------------


# Unsynced ingestor events are fetched only for windows that touch the
# last STAGING_WINDOW_SECONDS (reference send_to_ingester, 5 minutes);
# ingestors must therefore sync staging faster than this (the server's
# maintenance sub-tick is 60 s).
STAGING_WINDOW_SECONDS = 300


def send_to_ingester(
    start, end, now=None, window_seconds: int = STAGING_WINDOW_SECONDS
) -> bool:
    """True when the query window [start, end) touches the fresh-staging
    window — events that live only in ingestor memory and haven't been
    synced to the object store yet (reference send_to_ingester,
    src/utils/arrow/flight.rs:112-160)."""
    from datetime import datetime, timedelta, timezone

    now = now or datetime.now(timezone.utc)
    # normalize EVERYTHING to naive UTC (TimeRange.parse yields naive
    # UTC datetimes; callers/tests may pass aware ones — and a mixed
    # aware/naive start/end pair must not TypeError on the comparisons
    # below; review finding: only `now` was normalized, keyed off end)
    naive = lambda d: (  # noqa: E731
        d.astimezone(timezone.utc).replace(tzinfo=None)
        if d.tzinfo is not None
        else d
    )
    start, end, now = naive(start), naive(end), naive(now)
    return end > now - timedelta(seconds=window_seconds) and start <= now


def fetch_fresh_events(
    spark, ingestor_ports, stream_name: str, start: str, end: str,
    schema=None, auth: tuple[str, str] | None = None,
):
    """Pull the window's fresh events from every ingestor over Flight
    and return one DataFrame (None when no ingestor has fresh rows).
    The ticket carries ``staging_only`` + the stream name: an ingestor
    serving its stores answers from MEMORY-RESIDENT staging only — the
    reference appends ingestors' temporary (unsynced) events to the
    querier view (utils/arrow/flight.rs:91-160); a full-scan answer
    would double-count parquet the querier already reads from the
    shared object store (review finding). Ingestors wired with a
    staging-only engine view (no stores) answer the equivalent SQL.
    The stream identifier is backtick-quoted (the reference quotes it
    too, airplane.rs:158) so names that are not bare SQL identifiers
    still resolve. Per-ingestor failures are skipped but LOGGED — a
    silently-dropped fan-out would return stale results with no signal
    (reference `if let Ok(batches)`, airplane.rs:173-177)."""
    import logging

    import pyarrow as pa

    log = logging.getLogger(__name__)
    tables = []
    for port in ingestor_ports:
        try:
            t = fetch(
                port,
                f"select * from `{stream_name}`",
                start,
                end,
                auth=auth,
                ticket_extra={"staging_only": True, "stream": stream_name},
            )
        except Exception as e:  # noqa: BLE001 — a dead ingestor must not fail the query
            log.warning(
                "ingestor :%s fetch failed for stream %r: %s", port, stream_name, e
            )
            continue
        if t.num_rows:
            tables.append(t)
    if not tables:
        return None
    merged = pa.concat_tables(tables, promote_options="default")
    pdf = merged.to_pandas()
    if schema is None:
        return spark.createDataFrame(pdf)
    # createDataFrame(pdf, schema) zips pandas columns to schema fields
    # POSITIONALLY — an ingestor whose stream just committed a new or
    # reordered field (exactly the fresh-events case this fan-out
    # exists for) would silently land field B's values in column C, or
    # crash the whole querier query on an Arrow cast. Align by NAME:
    # fields the ingestor doesn't have yet become nulls; drift-only
    # columns the local view doesn't know are dropped (the caller's
    # unionByName would drop them anyway).
    names = [f.name for f in schema.fields]
    for n in names:
        if n not in pdf.columns:
            pdf[n] = None
    pdf = pdf[names]
    return spark.createDataFrame(pdf, schema=schema)


def querier_query(
    engine: QueryEngine,
    stream_name: str,
    local,
    sql: str,
    start: str,
    end: str,
    ingestor_ports=(),
    now=None,
    auth: tuple[str, str] | None = None,
    ctx=None,
):
    """Distributed querier execution (airplane.rs:155-199): when the
    window touches the staging-fresh period, fan out to the ingestors,
    append their fresh events to the local view as temporary events
    (append_temporary_events, utils/arrow/flight.rs:91-110), then run
    the SQL once over the union. Outside the fresh window this is a
    plain local query — no RPCs. ``local`` is the stream's local data:
    a DataFrame or a scan provider (QueryEngine.register_stream); it is
    the stream's registration again when this returns. ``ctx``: the
    request's context (QueryEngine.query)."""
    from .query.engine import TimeRange

    tr = TimeRange.parse(start, end, now=now)
    scan = (lambda s, e: local) if isinstance(local, DataFrame) else local
    fan_out = bool(ingestor_ports) and send_to_ingester(tr.start, tr.end, now=now)

    def with_fresh(s, e):
        df = scan(s, e)
        if not fan_out:
            return df
        # auth passes through to every ingestor fetch (r7 review: there
        # was no way to hand credentials down, so against the module's
        # own secured-bind posture every fan-out fetch failed auth and
        # was silently skipped — fresh staging events vanished)
        fresh = fetch_fresh_events(
            engine.spark, ingestor_ports, stream_name, start, end,
            schema=df.schema, auth=auth,
        )
        return df if fresh is None else df.unionByName(fresh, allowMissingColumns=True)

    engine.register_stream(stream_name, with_fresh, time_col=engine.time_col)
    try:
        return engine.query(sql, start, end, now=now, ctx=ctx)
    finally:
        engine.register_stream(stream_name, local, time_col=engine.time_col)
