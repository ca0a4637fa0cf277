"""The request's time window reaches the manifest prune on every
windowed read, staging joins a scan exactly when its time range
overlaps the window, and scheduled alerts read the stores' current
data through the engine's scan providers."""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

import pytest

from parseable_spark.catalog.manifest import ISO_MICRO_FMT, FileStats, Manifest
from parseable_spark.ingest.events import StreamConfig
from parseable_spark.query.alert_scheduler import CallbackTarget, ScheduledAlert
from parseable_spark.query.alerts import Alert
from parseable_spark.server import ParseableAPI
from parseable_spark.storage.store import StreamStore

BASE = datetime(2026, 8, 10, 9, 0)


def _iso(d: datetime) -> str:
    return d.strftime("%Y-%m-%dT%H:%M:%SZ")


@pytest.fixture()
def api(spark, tmp_path):
    """One stream, five flushed files an hour apart (10 rows each)."""
    api = ParseableAPI(spark, str(tmp_path / "wp"))
    api.create_stream("app")
    store = api._stores["app"]
    for h in range(5):
        store.ingest(
            [{"h": h, "i": i} for i in range(10)],
            p_timestamp=BASE + timedelta(hours=h, minutes=30),
        )
        store.flush()
    return api


def test_narrow_window_plans_only_overlapping_files(api):
    store = api._stores["app"]
    lo, hi = BASE + timedelta(hours=2), BASE + timedelta(hours=3)
    want = {
        os.path.basename(f.file_path)
        for f in store.manifest.files
        if f.time_bounds(store.time_col)[1] >= lo.strftime(ISO_MICRO_FMT)
        and f.time_bounds(store.time_col)[0] < hi.strftime(ISO_MICRO_FMT)
    }
    assert len(want) == 1 and len(store.manifest.files) == 5
    df = api._query_df(
        {"query": "SELECT h, i FROM app", "startTime": _iso(lo), "endTime": _iso(hi)}
    )
    assert {os.path.basename(p) for p in df.inputFiles()} == want
    assert sorted(r["i"] for r in df.collect()) == list(range(10))


def test_user_time_predicate_outside_window_sees_every_file(api):
    """The SQL constrains p_timestamp itself, so no filter is injected
    and the provider must not be handed the payload window either."""
    rows = api.query(
        {
            "query": "SELECT h, count(*) AS n FROM app "
            f"WHERE p_timestamp >= TIMESTAMP_NTZ '{BASE:%Y-%m-%d %H:%M:%S}' "
            "GROUP BY h ORDER BY h",
            "startTime": _iso(BASE + timedelta(hours=2)),
            "endTime": _iso(BASE + timedelta(hours=3)),
        }
    )
    assert rows == [{"h": h, "n": 10} for h in range(5)]


def test_windowed_routes_pass_the_window_to_the_prune(api, monkeypatch):
    windows = []
    orig = Manifest.prune_paths

    def spy(self, time_col, start=None, end=None, equals=None):
        windows.append((start, end))
        return orig(self, time_col, start, end, equals)

    monkeypatch.setattr(Manifest, "prune_paths", spy)
    lo, hi = BASE + timedelta(hours=1), BASE + timedelta(hours=2)
    want = (lo.strftime(ISO_MICRO_FMT), hi.strftime(ISO_MICRO_FMT))
    body = {"stream": "app", "startTime": _iso(lo), "endTime": _iso(hi), "numBins": 2}
    assert [r["count"] for r in api.counts(body)["records"]] == [0, 10]
    assert windows == []  # answered from the manifest: no scan to plan
    body["conditions"] = {
        "conditions": {"conditionConfig": [{"column": "i", "operator": ">=", "value": 0}]}
    }
    assert [r["count"] for r in api.counts(body)["records"]] == [0, 10]
    assert windows == [want]
    windows.clear()
    api.get_or_create_stream("other").ingest(
        [{"h": 1, "code": 7}], p_timestamp=BASE + timedelta(hours=1, minutes=30)
    )
    cid = api.save_correlation(
        {
            "title": "app x other",
            "tableConfigs": [
                {"tableName": "app", "selectedFields": ["i"]},
                {"tableName": "other", "selectedFields": ["code"]},
            ],
            "joinConfig": {
                "joinConditions": [
                    {"tableName": "app", "field": "h"},
                    {"tableName": "other", "field": "h"},
                ]
            },
        }
    )["id"]
    assert len(api.run_correlation(cid, _iso(lo), _iso(hi))) == 10
    assert windows == [want, want]


def test_staged_old_events_visible_before_sync(spark, tmp_path):
    """A time-partitioned stream's p_timestamp is the event time: events
    four hours old, still staged, must answer a windowed query over
    them (a wall-clock staging gate dropped them until the next sync)."""
    api = ParseableAPI(spark, str(tmp_path / "tp"))
    api.create_stream("tp", time_partition="ts")
    now = datetime.now(timezone.utc).replace(tzinfo=None, microsecond=0)
    old = now - timedelta(hours=4)
    api.ingest(
        "tp",
        [{"id": i, "ts": (old + timedelta(seconds=i)).isoformat() + "Z"} for i in range(3)],
    )
    payload = {
        "query": "SELECT id FROM tp ORDER BY id",
        "startTime": _iso(old - timedelta(minutes=5)),
        "endTime": _iso(old + timedelta(minutes=5)),
    }
    assert api.query(payload) == [{"id": 0}, {"id": 1}, {"id": 2}]
    # a window no staged event falls in leaves staging out of the plan
    store = api._stores["tp"]
    assert not store._staging_in_window(now - timedelta(hours=1), now)
    api.run_sync()
    assert api.query(payload) == [{"id": 0}, {"id": 1}, {"id": 2}]


def test_scheduled_alert_reads_current_data(spark, tmp_path):
    """The scheduler evaluates through the providers the server
    registered when it loaded each stream: no TABLE_OR_VIEW_NOT_FOUND on
    a fresh server, and rows ingested after the last query count."""
    root = str(tmp_path / "al")
    t = datetime.now(timezone.utc) - timedelta(minutes=3)
    first = ParseableAPI(spark, root)
    first.get_or_create_stream("s").ingest([{"v": i} for i in range(13)], p_timestamp=t)
    first.run_sync()

    api = ParseableAPI(spark, root)  # fresh: stream discovered on disk
    seen = []
    api.scheduler.register(
        ScheduledAlert(
            Alert("s", "count", "*", ">", 0.0),
            eval_frequency_s=0,
            targets=[CallbackTarget(lambda p: seen.append(p["value"]))],
            repeat_notifications=True,
        )
    )
    assert api.scheduler.run_pending() == 1
    assert seen == [13.0]
    api.query(
        {"query": "SELECT count(*) AS n FROM s", "startTime": "10m", "endTime": "now"}
    )
    api.get_or_create_stream("s").ingest([{"v": i} for i in range(10)], p_timestamp=t)
    api.run_sync()
    assert api.scheduler.run_pending() == 1
    assert seen == [13.0, 23.0]


def _linear_window_count(files, time_col, lo, hi):
    """The pre-index fast_count loop over every manifest file."""
    n = 0
    for f in files:
        tb = f.time_bounds(time_col)
        if tb is None:
            return None
        f_lo, f_hi = tb
        if (hi is not None and f_lo >= hi) or (lo is not None and f_hi < lo):
            continue
        if not ((lo is None or f_lo >= lo) and (hi is None or f_hi < hi)):
            return None
        nulls = (f.columns.get(time_col) or {}).get("nulls")
        if nulls is None:
            return None
        n += f.num_rows - nulls
    return n


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_indexed_window_count_matches_linear(seed):
    rng = random.Random(seed)
    iso = lambda m: (BASE + timedelta(seconds=m)).strftime(ISO_MICRO_FMT)  # noqa: E731
    files = []
    for i in range(300):
        lo = i * 60 + rng.randrange(0, 30)
        # a few files overlap their neighbours, a few are unknown
        hi = lo + (rng.choice([90, 600]) if rng.random() < 0.1 else rng.randrange(30))
        nulls = None if rng.random() < 0.05 else rng.choice([0, 0, 1])
        cols = {"p_timestamp": {"min": iso(lo), "max": iso(hi), "nulls": nulls}}
        if rng.random() < 0.01:
            cols = {}
        files.append(FileStats(f"f{i}", rng.randrange(1, 50), 1, cols))
    rng.shuffle(files)  # late data: the index must not assume append order
    answers = []
    for known in (files, [f for f in files if f.columns]):
        m = Manifest(known)
        for _ in range(400):
            a = rng.randrange(-120, 300 * 60)
            b = a + rng.choice([1, 60, 600, 3600, 20000])
            if rng.random() < 0.5:  # minute-aligned windows: fewer straddles
                a, b = a // 60 * 60, b // 60 * 60
            lo = None if rng.random() < 0.05 else iso(a)
            hi = None if rng.random() < 0.05 else iso(b)
            got = m.window_count("p_timestamp", lo, hi)
            assert got == _linear_window_count(known, "p_timestamp", lo, hi)
            answers.append(got)
    # both outcomes are exercised: proofs and forced scans
    assert any(x is None for x in answers)
    assert sum(x is not None and x > 0 for x in answers) > 20


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    """(store, times): six flushed one-minute files whose rows sit at :20
    and :40 of minutes 0-5, plus one staged batch on each of the minute
    boundaries 0-8 (a new field every third batch), so a minute-aligned
    window has staged rows at exactly its start and its end; ``times``
    is every row's time."""
    store = StreamStore(
        spark, str(tmp_path_factory.mktemp("staged")), StreamConfig(name="w")
    )
    for m in range(6):
        for sec in (20, 40):
            store.ingest(
                [{"m": m, "i": i} for i in range(3)],
                p_timestamp=BASE + timedelta(minutes=m, seconds=sec),
            )
    store.flush()
    for m in range(9):
        store.ingest(
            [{"m": m, f"g{m // 3}": i} for i in range(m % 3 + 1)],
            p_timestamp=BASE + timedelta(minutes=m),
        )
    times = [r[0] for r in store.scan().select("p_timestamp").collect()]
    assert len(store.manifest.files) == 6 and len(times) == 36 + 18
    return store, times


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_store_window_count_matches_scan(staged, seed):
    """count_fast_path(start, end), whenever it answers, is the window's
    row count: files fully inside plus staged rows in [start, end),
    bounds on staged rows and on file bounds included, aware bounds
    normalised like scan(); a sample is checked against scan().count()."""
    store, times = staged
    rng = random.Random(seed)
    plus2 = timezone(timedelta(hours=2))
    answers, scanned = [], 0
    for _ in range(800):
        a = rng.randrange(-120, 10 * 60)
        b = a + rng.choice([1, 20, 60, 200, 600])
        if rng.random() < 0.5:  # minute-aligned: staged rows sit on both bounds
            a, b = a // 60 * 60, b // 60 * 60 + 60
        elif rng.random() < 0.3:  # on a file's lowest or highest row
            a, b = a // 60 * 60 + 20, b // 60 * 60 + rng.choice([20, 40])
        lo = None if rng.random() < 0.05 else BASE + timedelta(seconds=a)
        hi = None if rng.random() < 0.05 else BASE + timedelta(seconds=b)
        want = sum((lo is None or t >= lo) and (hi is None or t < hi) for t in times)
        if rng.random() < 0.3:  # the same instants, as aware stamps
            lo, hi = [d and d.replace(tzinfo=timezone.utc).astimezone(plus2) for d in (lo, hi)]
        got = store.count_fast_path(lo, hi)
        answers.append(got)
        if got is None:
            continue
        assert got == want, (lo, hi)
        if scanned < 4:
            assert store.scan(lo, hi).count() == got, (lo, hi)
            scanned += 1
    # both outcomes are exercised: proofs and forced scans
    assert any(x is None for x in answers)
    assert sum(x is not None and x > 0 for x in answers) > 100


def test_concurrent_windows_stay_per_request(api):
    """Requests on one engine, run from more threads than cores, each
    see exactly their own window: a view installed for one request
    never answers another."""
    import sys
    import threading

    errors = []

    def worker(k: int) -> None:
        for j in range(3):
            h = (k + j) % 5
            lo = BASE + timedelta(hours=h)
            try:
                got = api.engine.query(
                    "SELECT h, count(*) AS n FROM app GROUP BY h",
                    _iso(lo),
                    _iso(lo + timedelta(hours=1)),
                ).collect()
                if [(r["h"], r["n"]) for r in got] != [(h, 10)]:
                    errors.append((k, h, got))
            except Exception as e:  # noqa: BLE001 — reported below
                errors.append((k, h, e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []


def _jobs_submitted(spark) -> int:
    """Spark jobs submitted so far in this application, from any thread
    or job group; counted at submission, so no listener lag."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    """(api, url, t0): one event-time stream of 48 one-minute files from
    t0 (5 rows each), served over HTTP: past Spark's default 32-path
    parallel-listing threshold."""
    from parseable_spark.server import serve_background

    t0 = datetime.now(timezone.utc).replace(tzinfo=None, microsecond=0)
    t0 = t0.replace(second=0) - timedelta(hours=2)
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


def _post_query(base, sql, lo, hi, streaming=False):
    import json
    import urllib.request

    body = {"query": sql, "startTime": _iso(lo), "endTime": _iso(hi)}
    req = urllib.request.Request(
        base + "/api/v1/query" + ("?streaming=true" if streaming else ""),
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        if streaming:
            return [json.loads(line) for line in resp.read().splitlines()]
        return json.loads(resp.read())


def test_manifest_window_scan_starts_no_listing_job(spark, wide):
    """The manifest is the listing: a 44-file window's DataFrame is
    planned without Spark's parallel-listing job."""
    api, _, t0 = wide
    store = api._stores["app"]
    lo, hi = t0 + timedelta(minutes=2), t0 + timedelta(minutes=46)
    before = _jobs_submitted(spark)
    df = store.scan(lo, hi)
    assert _jobs_submitted(spark) - before == 0
    assert len(df.inputFiles()) == 44
    assert df.count() == 44 * 5


def test_manifest_answered_bare_count_starts_no_job(spark, wide):
    """Through the HTTP route, a bare COUNT(*) the manifest answers
    starts no Spark job at all: not to plan its windowed scan, not to
    analyse it, not to return the one-row answer, on the batch and the
    streaming route alike. The same window with a filter runs its scan
    (the counter does count)."""
    _, base, t0 = wide
    lo, hi = t0, t0 + timedelta(minutes=44)
    before = _jobs_submitted(spark)
    assert _post_query(base, "SELECT COUNT(*) AS n FROM app", lo, hi) == [{"n": 220}]
    assert _jobs_submitted(spark) - before == 0
    streamed = _post_query(base, "SELECT COUNT(*) AS n FROM app", lo, hi, streaming=True)
    assert streamed == [{"n": 220}]
    assert _jobs_submitted(spark) - before == 0
    rows = _post_query(base, "SELECT COUNT(*) AS n FROM app WHERE i > 0", lo, hi)
    assert rows == [{"n": 176}]
    assert _jobs_submitted(spark) - before >= 1


def _post_counts(base, lo, hi, num_bins, conditions=None):
    import json
    import urllib.request

    body = {"stream": "app", "startTime": _iso(lo), "endTime": _iso(hi), "numBins": num_bins}
    if conditions:
        body["conditions"] = conditions
    req = urllib.request.Request(
        base + "/api/v1/counts",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        return [r["count"] for r in json.loads(resp.read())["records"]]


_I_POSITIVE = {
    "conditions": {
        "operator": "AND",
        "conditionConfig": [{"column": "i", "operator": ">", "value": 0}],
    }
}


def test_manifest_answered_counts_start_no_job(spark, wide):
    """An unconditioned counts request whose one-minute files each lie
    inside one bin starts no Spark job; the same window with a
    condition runs its scan."""
    _, base, t0 = wide
    lo, hi = t0, t0 + timedelta(minutes=40)
    before = _jobs_submitted(spark)
    assert _post_counts(base, lo, hi, 8) == [25] * 8
    assert _jobs_submitted(spark) - before == 0
    assert _post_counts(base, lo, hi, 8, _I_POSITIVE) == [20] * 8
    assert _jobs_submitted(spark) - before >= 1


def test_counts_scan_runs_under_the_deadline(wide, monkeypatch):
    """A counts scan past the SQL deadline is cancelled with a 504, and
    the API lock is released: the next request succeeds."""
    import urllib.error

    api, base, t0 = wide
    lo, hi = t0, t0 + timedelta(minutes=40)
    run = api.engine.run_with_deadline
    monkeypatch.setattr(
        api.engine, "run_with_deadline", lambda fn, label="collect", *_a: run(fn, label, 0)
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post_counts(base, lo, hi, 8, _I_POSITIVE)
    assert ei.value.code == 504
    monkeypatch.undo()
    assert _post_counts(base, lo, hi, 8, _I_POSITIVE) == [20] * 8


@pytest.mark.parametrize(
    "sql, n",
    [
        ("SELECT m, count(*) AS n FROM app GROUP BY m ORDER BY m LIMIT 1", [{"m": 3, "n": 5}]),
        ("SELECT COUNT(*) AS n FROM app", [{"n": 200}]),
    ],
    ids=["scan", "fast_count"],
)
def test_one_parse_per_query_request(wide, monkeypatch, sql, n):
    """The RBAC gate's parse is the request's only one: the views and
    fast-count detection read the table list from its context."""
    from parseable_spark.query import counts, engine

    calls, answered = [], []
    orig_parse, orig_fast = engine.extract_table_names, counts.fast_count

    def parse(*a, **k):
        calls.append(a[0])
        return orig_parse(*a, **k)

    def fast(*a, **k):
        out = orig_fast(*a, **k)
        answered.append(out is not None)
        return out

    monkeypatch.setattr(engine, "extract_table_names", parse)
    monkeypatch.setattr(counts, "fast_count", fast)
    _, base, t0 = wide
    lo = t0 + timedelta(minutes=3)
    assert _post_query(base, sql, lo, lo + timedelta(minutes=40)) == n
    assert calls == [sql]
    assert answered == [sql.startswith("SELECT COUNT")]
