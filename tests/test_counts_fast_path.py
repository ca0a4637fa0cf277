"""/api/v1/counts answers from metadata exactly when metadata proves
every bin: Manifest.histogram counts a file only when both its time
bounds fall in one bin, StreamStore.histogram_fast_path adds the staged
rows, and whenever the fast path answers, its bins are the scan's."""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta, timezone

import pytest

from parseable_spark.catalog.manifest import ISO_MICRO_FMT, FileStats, Manifest
from parseable_spark.query.counts import Bins
from parseable_spark.server import ParseableAPI
from parseable_spark.storage.store import StreamStore

BASE = datetime(2026, 8, 10, 9, 0)
PLUS2 = timezone(timedelta(hours=2))


def _bin_of(bins: Bins):
    return lambda s: bins.index(datetime.fromisoformat(s))


def _linear_histogram(files, time_col, lo, hi, n, bin_of):
    """The exact rule, one file at a time over every manifest entry."""
    out = [0] * n
    for f in files:
        c = f.columns.get(time_col) or {}
        if c.get("min") is None or c.get("max") is None:
            return None
        if c["max"] < lo or c["min"] >= hi:
            continue
        if c["min"] < lo or c["max"] >= hi or c.get("nulls") is None:
            return None
        if bin_of(c["min"]) != bin_of(c["max"]):
            return None
        out[bin_of(c["min"])] += f.num_rows - c["nulls"]
    return out


@pytest.mark.parametrize("seed", [5, 17])
def test_manifest_histogram_matches_linear(seed):
    """Synthetic FileStats, mostly one-minute files, some spanning
    minutes, some with NULL times, a few with unknown null counts or
    bounds, in shuffled order; the window count is the histogram's sum
    whenever the histogram answers."""
    rng = random.Random(seed)
    iso = lambda s: (BASE + timedelta(seconds=s)).strftime(ISO_MICRO_FMT)  # noqa: E731
    files = []
    for i in range(240):
        lo = i * 60 + rng.randrange(0, 50)
        hi = lo + (rng.choice([120, 900]) if rng.random() < 0.04 else rng.randrange(10))
        nulls = None if rng.random() < 0.01 else rng.choice([0, 0, 2])
        cols = {"p_timestamp": {"min": iso(lo), "max": iso(hi), "nulls": nulls}}
        if rng.random() < 0.005:
            cols = {}
        files.append(FileStats(f"f{i}", rng.randrange(3, 40), 1, cols))
    rng.shuffle(files)
    answers = []
    for known in (files, [f for f in files if f.columns]):
        m = Manifest(known)
        for _ in range(300):
            a = rng.randrange(-5, 240) * 60
            b = a + rng.choice([1, 5, 30, 50, 120]) * 60
            n = rng.choice([1, 2, 5, 7, 10, 13, 60, rng.randrange(1, 61)])
            bins = Bins(BASE + timedelta(seconds=a), BASE + timedelta(seconds=b), n)
            lo, hi = iso(a), iso(b)
            got = m.histogram("p_timestamp", lo, hi, n, _bin_of(bins))
            assert got == _linear_histogram(known, "p_timestamp", lo, hi, n, _bin_of(bins))
            if got is not None:
                assert m.window_count("p_timestamp", lo, hi) == sum(got)
            answers.append(got)
    assert any(x is None for x in answers)
    assert sum(x is not None and sum(x) > 0 for x in answers) > 20


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    """(api, store, times): stream "h" holding one file rolled up from
    the twenty one-minute files of 08:00-08:19 (compact level="hour"),
    forty one-minute files for 09:00-09:39 with rows at :15 and :45, and
    fourteen staged batches from 09:30 to 10:04 and back in 08:xx, new
    fields arriving all along; ``times`` is every row's time."""
    api = ParseableAPI(spark, str(tmp_path_factory.mktemp("mixed")))
    api.create_stream("h")
    store = api._stores["h"]
    hour8 = BASE - timedelta(hours=1)
    for m in range(20):
        store.ingest(
            [{"m": m, "i": i} for i in range(2)],
            p_timestamp=hour8 + timedelta(minutes=m, seconds=30),
        )
    store.flush()
    assert store.compact(level="hour") == 1 and len(store.manifest.files) == 1
    for m in range(40):
        for sec in (15, 45):
            store.ingest(
                [{"m": m, f"g{m // 10}": i} for i in range(m % 3 + 1)],
                p_timestamp=BASE + timedelta(minutes=m, seconds=sec),
            )
    store.flush()
    for k in range(12):
        store.ingest(
            [{"k": k, f"s{k // 4}": i} for i in range(k % 4 + 1)],
            p_timestamp=BASE + timedelta(minutes=30 + 3 * k, seconds=7 * k),
        )
    for k in range(2):  # staged late data inside the rolled-up hour
        store.ingest([{"k": k}], p_timestamp=hour8 + timedelta(minutes=5 + 40 * k))
    times = [r[0] for r in store.scan().select(store.time_col).collect()]
    assert len(store.manifest.files) == 41 and store.staged_rows == 32
    assert len(times) == 40 + 158 + 32
    return api, store, times


def _scan_bins(store, lo, hi, n) -> list[int]:
    """The scan route's bins: its window scan grouped by Bins.column."""
    bins = Bins(lo, hi, n)
    out = [0] * n
    for r in store.scan(lo, hi).groupBy(bins.column(store.time_col).alias("b")).count().collect():
        out[r["b"]] = r["count"]
    return out


@pytest.mark.parametrize("seed", [7, 23])
def test_store_histogram_matches_scan(mixed, seed):
    """Random windows (minute-aligned or not, 30 % with aware +02:00
    bounds) and 1..60 bins: whenever histogram_fast_path answers, its
    bins equal the bins of every row in the window under Bins.index,
    and for a sample, the bins the scan computes in Spark."""
    _, store, times = mixed
    rng = random.Random(seed)
    answers, scanned, fractional = [], 0, 0
    for _ in range(500):
        a = rng.randrange(-70, 75) * 60
        b = a + rng.choice([1, 5, 10, 30, 60, 90]) * 60
        if rng.random() < 0.3:
            a, b = a + rng.randrange(60), b + rng.randrange(60)
        n = rng.choice([1, 2, 5, 7, 10, 13, 60, rng.randrange(1, 61)])
        lo, hi = BASE + timedelta(seconds=a), BASE + timedelta(seconds=b)
        bins = Bins(lo, hi, n)
        want = [0] * n
        for t in times:
            if lo <= t < hi:
                want[bins.index(t)] += 1
        got = store.histogram_fast_path(
            *[d.replace(tzinfo=timezone.utc).astimezone(PLUS2) for d in (lo, hi)]
            if rng.random() < 0.3  # the same instants, as aware stamps
            else (lo, hi),
            n,
        )
        answers.append(got)
        if got is None:
            continue
        assert got == want, (lo, hi, n)
        if scanned < 5 or (fractional < 2 and bins.width_us % 1e6):
            assert _scan_bins(store, lo, hi, n) == got, (lo, hi, n)
            scanned += 1
            fractional += bool(bins.width_us % 1e6)
    assert fractional == 2
    assert any(x is None for x in answers)
    assert sum(x is not None and sum(x) > 0 for x in answers) > 50


def test_counts_route_same_bytes_from_metadata_and_scan(mixed, monkeypatch):
    """The route's body is the same JSON whether metadata or the scan
    answered: bin times, empty bins and counts alike; a window the
    metadata cannot prove scans."""
    api, store, _ = mixed
    cases = [
        ("2026-08-10T09:00:00Z", "2026-08-10T09:40:00Z", 8, True),
        ("2026-08-10T11:20:00+02:00", "2026-08-10T12:10:00+02:00", 10, True),
        ("2026-08-10T09:00:00Z", "2026-08-10T09:50:00Z", 1, True),
        ("2026-08-10T08:30:00Z", "2026-08-10T09:30:00Z", 60, True),
        ("2026-08-10T09:00:00Z", "2026-08-10T09:40:00Z", 7, False),
        ("2026-08-10T07:50:00Z", "2026-08-10T08:50:00Z", 6, False),
    ]
    answered = []
    orig = StreamStore.histogram_fast_path

    def spy(self, *a):
        out = orig(self, *a)
        answered.append(out is not None)
        return out

    for start, end, n, hit in cases:
        body = {"stream": "h", "startTime": start, "endTime": end, "numBins": n}
        monkeypatch.setattr(StreamStore, "histogram_fast_path", spy)
        fast = json.dumps(api.counts(body))
        monkeypatch.setattr(StreamStore, "histogram_fast_path", lambda *a: None)
        scan = json.dumps(api.counts(body))
        assert fast == scan, (start, end, n)
        assert answered.pop() is hit, (start, end, n)
        assert len(json.loads(fast)["records"]) == n
