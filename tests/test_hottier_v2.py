"""Hot-tier manager parity (reference src/hottier.rs): persisted
per-stream config, manifest-driven newest-first backfill, size/disk
validation, StreamHotTier v2 metadata."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest

from parseable_spark.ingest.events import StreamConfig
from parseable_spark.server import ApiError, ParseableAPI
from parseable_spark.storage.hottier import (
    HotTier,
    HotTierError,
    validate_disk_capacity,
)
from parseable_spark.storage.store import StreamStore


def _store_with_minutes(spark, root, minutes=(1, 2, 3)):
    """One committed parquet file per minute bucket (distinct
    p_timestamps → distinct minute= partition dirs)."""
    store = StreamStore(spark, str(root), StreamConfig(name="s1"))
    for m in minutes:
        store.ingest(
            [{"msg": f"m{m}", "v": m}],
            p_timestamp=datetime(2024, 1, 15, 10, m, tzinfo=timezone.utc),
        )
    store.flush()
    return store


class TestBackfill:
    def test_newest_first_until_quota(self, spark, tmp_path):
        """Reference sync walks dates newest-first and stops when
        available_size runs out (hottier.rs:797-1010) — with room for
        one file, only the NEWEST minute is cached."""
        store = _store_with_minutes(spark, tmp_path)
        files = sorted(
            store.manifest.files,
            key=lambda f: f.time_bounds(store.time_col)[1],
        )
        assert len(files) == 3
        newest = files[-1]
        ht = HotTier(
            cache_dir=str(tmp_path / "ht"), size_limit=newest.file_size + 1
        )
        added = ht.backfill(store.manifest, store.time_col)
        assert added == 1
        assert ht.lookup(newest.file_path) is not None
        for older in files[:-1]:
            assert ht.lookup(older.file_path) is None
        # oldest cached bucket == the newest minute
        assert ht.oldest_entry() == "2024-01-15T10:03:00.000Z"

    def test_backfill_is_idempotent_and_fills_all(self, spark, tmp_path):
        store = _store_with_minutes(spark, tmp_path)
        ht = HotTier(cache_dir=str(tmp_path / "ht"), size_limit=1 << 30)
        assert ht.backfill(store.manifest, store.time_col) == 3
        assert ht.backfill(store.manifest, store.time_col) == 0  # cached
        meta = ht.meta()
        assert meta["version"] == "v2"
        assert meta["used_size"] == sum(f.file_size for f in store.manifest.files)
        assert meta["available_size"] == (1 << 30) - meta["used_size"]
        assert meta["oldest_date_time_entry"] == "2024-01-15T10:01:00.000Z"


class TestValidation:
    def test_resize_below_used_rejected(self, spark, tmp_path):
        store = _store_with_minutes(spark, tmp_path)
        ht = HotTier(cache_dir=str(tmp_path / "ht"), size_limit=1 << 30)
        ht.backfill(store.manifest, store.time_col)
        used = ht.used_bytes()
        assert used > 0
        with pytest.raises(HotTierError):
            ht.validate_resize(used - 1)
        ht.validate_resize(used)  # exactly-used is allowed

    def test_disk_capacity_threshold(self, tmp_path, fake_volume):
        # a ~0% ceiling is always already exceeded by the volume itself
        with pytest.raises(HotTierError):
            validate_disk_capacity(
                str(tmp_path), 1 << 20, max_disk_usage_percent=0.000001
            )
        # a 100% ceiling admits a tiny tier
        validate_disk_capacity(str(tmp_path), 1, max_disk_usage_percent=100.0)

    def test_disk_gate_projects_total_minus_free(self, tmp_path, fake_volume):
        """Usage is `total - free`, as in the reference's
        is_disk_available (hottier.rs:1435-1467), not `used`: blocks
        that are in neither (e.g. reserved for root) count as taken."""
        fake_volume.used = fake_volume.total // 10  # 10% by `used`
        fake_volume.free = fake_volume.total * 3 // 10  # 70% by total - free
        request = fake_volume.total // 20  # +5%
        # 75% projected: over a 72% ceiling (by `used` it would be 15%)
        with pytest.raises(HotTierError):
            validate_disk_capacity(str(tmp_path), request, max_disk_usage_percent=72.0)
        validate_disk_capacity(str(tmp_path), request, max_disk_usage_percent=76.0)


@pytest.mark.usefixtures("fake_volume")
class TestApiSurface:
    def test_put_backfills_persists_and_survives_restart(self, spark, tmp_path):
        api = ParseableAPI(spark, str(tmp_path))
        store = api.get_or_create_stream("applogs")
        for m in (1, 2):
            store.ingest(
                [{"msg": f"m{m}"}],
                p_timestamp=datetime(2024, 1, 15, 10, m, tzinfo=timezone.utc),
            )
        store.flush()

        meta = api.put_hot_tier("applogs", {"size": 10_000_000})
        # PUT returns immediately; the history sync runs on a background
        # thread (the reference's spawn_stream_task — review finding:
        # inline backfill blocks the HTTP request for the whole copy).
        # The config is persisted before the sync starts.
        assert meta["size"] == 10_000_000
        assert (tmp_path / "applogs" / "hottier.json").exists()
        store._hottier_sync.join(timeout=30)
        synced = api.get_hot_tier("applogs")
        assert synced["used_size"] == sum(f.file_size for f in store.manifest.files)
        assert synced["oldest_date_time_entry"] == "2024-01-15T10:01:00.000Z"
        meta = synced

        # restart on the same root: config reloads, cache re-attaches;
        # the re-sync runs on a background thread (reference
        # spawn_stream_task) — drain it for a deterministic assert
        api2 = ParseableAPI(spark, str(tmp_path))
        api2._stores["applogs"]._hottier_sync.join(timeout=30)
        got = api2.get_hot_tier("applogs")
        assert got["size"] == 10_000_000
        assert got["used_size"] == meta["used_size"]
        # scans resolve to the local tier copies
        st2 = api2._stores["applogs"]
        local = st2.hot_tier.resolve([f.file_path for f in st2.manifest.files])
        assert all(p.startswith(st2.hot_tier.cache_dir) for p in local)

        # delete removes the persisted config too
        api2.delete_hot_tier("applogs")
        assert not (tmp_path / "applogs" / "hottier.json").exists()
        api3 = ParseableAPI(spark, str(tmp_path))
        with pytest.raises(ApiError) as ei:
            api3.get_hot_tier("applogs")
        assert ei.value.status == 404

    def test_shrink_below_used_is_400(self, spark, tmp_path):
        api = ParseableAPI(spark, str(tmp_path))
        store = api.get_or_create_stream("applogs")
        store.ingest([{"msg": "x"}])
        store.flush()
        api.put_hot_tier("applogs", {"size": 10_000_000})
        store._hottier_sync.join(timeout=30)
        used = store.hot_tier.used_bytes()
        assert used > 0
        with pytest.raises(ApiError) as ei:
            api.put_hot_tier("applogs", {"size": used - 1})
        assert ei.value.status == 400
        assert store.hot_tier.size_limit == 10_000_000  # unchanged

    def test_internal_stream_rejected(self, spark, tmp_path):
        api = ParseableAPI(spark, str(tmp_path))
        api.get_or_create_stream("pstats_x")
        with pytest.raises(ApiError) as ei:
            api.put_hot_tier("pstats_x", {"size": 1 << 20})
        assert ei.value.status == 400
        assert "internal" in str(ei.value).lower()

    def test_disk_threshold_is_400(self, spark, tmp_path, monkeypatch):
        monkeypatch.setenv("P_MAX_DISK_USAGE_PERCENT", "0.000001")
        api = ParseableAPI(spark, str(tmp_path))
        api.get_or_create_stream("applogs")
        with pytest.raises(ApiError) as ei:
            api.put_hot_tier("applogs", {"size": 1 << 30})
        assert ei.value.status == 400
        assert "threshold" in str(ei.value)


def test_run_compaction_all_streams(spark, tmp_path):
    """API-level OPTIMIZE pass: hour-level rollup across every stream,
    counts reported per stream; query results unchanged."""
    from datetime import timedelta

    api = ParseableAPI(spark, str(tmp_path))
    for name in ("a", "b"):
        st = api.get_or_create_stream(name)
        for m in (1, 2):
            st.ingest(
                [{"msg": f"{name}{m}"}],
                p_timestamp=datetime(2024, 1, 15, 10, m, tzinfo=timezone.utc),
            )
        st.flush()
    out = api.run_compaction(level="hour")
    assert out == {"a": 1, "b": 1}
    for name in ("a", "b"):
        st = api._stores[name]
        assert len(st.manifest.files) == 1
        df = st.scan(
            start=datetime(2024, 1, 15),
            end=datetime(2024, 1, 16),
        )
        assert df.count() == 2
    # idempotent second pass
    assert api.run_compaction(level="hour") == {"a": 0, "b": 0}


def test_maintenance_scheduler_runs_retention_and_compaction(spark, tmp_path):
    """In-process maintenance cadence (reference retention.rs:58-91
    runs retention inside the server daily): both jobs fire on the
    interval; a short interval makes it observable."""
    import time

    api = ParseableAPI(spark, str(tmp_path))
    st = api.get_or_create_stream("m")
    # two minute-files in one hour (compactable), one ancient date
    # (retainable under a 30d task)
    for m in (1, 2):
        st.ingest([{"msg": f"m{m}"}],
                  p_timestamp=datetime(2020, 1, 1, 10, m, tzinfo=timezone.utc))
    st.flush()
    api.put_retention("m", [
        {"description": "d", "action": "delete", "duration": "30d"}
    ])
    n_before = len(st.manifest.files)
    assert n_before == 2
    api.start_maintenance(interval_s=0.3)
    try:
        deadline = time.time() + 20
        while time.time() < deadline and st.manifest.files:
            time.sleep(0.2)
        # retention removed the 2020 partition entirely (30d window)
        assert st.manifest.files == []
        assert st.count_fast_path() == 0
    finally:
        api.stop_maintenance()
    # compaction leg: fresh recent data, no retention config
    api2 = ParseableAPI(spark, str(tmp_path / "c"))
    st2 = api2.get_or_create_stream("m2")
    from datetime import datetime as dt, timedelta

    now = dt.now(timezone.utc)
    base = now.replace(minute=10, second=0, microsecond=0)
    for m in (10, 11):
        st2.ingest([{"msg": f"m{m}"}], p_timestamp=base.replace(minute=m))
    st2.flush()
    assert len(st2.manifest.files) == 2
    api2.start_maintenance(interval_s=0.3)
    try:
        deadline = time.time() + 20
        while time.time() < deadline and len(st2.manifest.files) != 1:
            time.sleep(0.2)
        assert len(st2.manifest.files) == 1  # hour-rolled
    finally:
        api2.stop_maintenance()


class TestReviewRegressions:
    def test_delete_hot_tier_stops_backfill_thread(self, spark, tmp_path, fake_volume):
        """DELETE must close() the tier BEFORE rmtree so a mid-sync
        backfill thread cannot resurrect the deleted cache dir (review
        finding: the copier kept filling up to the full quota after the
        API reported the tier disabled)."""
        api = ParseableAPI(spark, str(tmp_path))
        store = api.get_or_create_stream("applogs")
        for m in range(1, 6):
            store.ingest(
                [{"msg": "x" * 2000}],
                p_timestamp=datetime(2024, 1, 15, 10, m, tzinfo=timezone.utc),
            )
            store.flush()
        api.put_hot_tier("applogs", {"size": 10_000_000})
        t = store._hottier_sync
        cache_dir = store.hot_tier.cache_dir if store.hot_tier else None
        # delete immediately — the sync thread may be mid-copy
        api.delete_hot_tier("applogs")
        t.join(timeout=30)
        assert not t.is_alive()
        assert store.hot_tier is None
        # r7: the rmtree is DEFERRED past the eviction grace (in-flight
        # queries resolved local paths under the lock but open them
        # after release) — a durable marker carries the deadline
        marker = os.path.join(cache_dir, ".ht-deleted")
        assert os.path.exists(cache_dir) and os.path.exists(marker)
        # expire the deadline and run the maintenance sweep
        with open(marker, "w") as f:
            f.write("0")
        api.reap_tombstones()
        assert not os.path.exists(cache_dir)

    def test_closed_tier_add_is_noop(self, tmp_path):
        from parseable_spark.storage.hottier import HotTier

        src = tmp_path / "remote.parquet"
        src.write_bytes(b"x" * 128)
        ht = HotTier(cache_dir=str(tmp_path / "cache"), size_limit=1 << 20)
        ht.close()
        assert ht.add(str(src)) is None
        assert ht.used_bytes() == 0

    def test_disk_gate_counts_peer_tenant_allocations(
        self, spark, tmp_path, fake_volume
    ):
        """Multi-tenant: every tenant caches onto the same volume, so
        one tenant's disk-capacity gate must count the quotas the OTHER
        tenants already allocated (review finding: N tenants could each
        pass the gate alone while jointly exceeding the threshold)."""
        from parseable_spark.tenants import TenantManager

        api = ParseableAPI(spark, str(tmp_path))
        mgr = TenantManager(api, multi_tenant=True)
        t1 = mgr.add_tenant("t1")
        s1 = t1.get_or_create_stream("logs")
        s1.ingest([{"msg": "x"}])
        s1.flush()
        # hand t1 an allocation the size of the whole volume (bypassing
        # its own gate) — the DEFAULT tenant's next request must see it
        from parseable_spark.storage.hottier import HotTier

        s1.hot_tier = HotTier(
            cache_dir=os.path.join(s1.stream_dir, "hottier"),
            size_limit=fake_volume.total,
        )
        api.get_or_create_stream("applogs")
        with pytest.raises(ApiError) as ei:
            api.put_hot_tier("applogs", {"size": 1 << 20})
        assert ei.value.status == 400
        assert "threshold" in str(ei.value)
        # without the peer allocation the same request is fine
        s1.hot_tier = None
        api.put_hot_tier("applogs", {"size": 1 << 20})


def test_reap_tombstones_across_streams(spark, tmp_path):
    """Between daily maintenance passes, the sub-tick reap deletes
    compaction-tombstoned inputs once past their grace (without it,
    swapped-out small files sat on disk a whole interval)."""
    api = ParseableAPI(spark, str(tmp_path))
    streams = {}
    for name in ("a", "b"):
        st = api.get_or_create_stream(name)
        for i in range(3):
            st.ingest(
                [{"msg": f"{name}{i}"}],
                p_timestamp=datetime(2024, 1, 15, 10, 1, tzinfo=timezone.utc),
            )
            st.flush()
        streams[name] = (st, [f.file_path for f in st.manifest.files])
    assert api.run_compaction(level="minute") == {"a": 1, "b": 1}
    # default grace: inputs tombstoned, still on disk
    for st, old_paths in streams.values():
        assert all(os.path.exists(p) for p in old_paths)
        assert os.path.exists(st._tombstone_path)
    api.reap_tombstones(grace_seconds=0)
    for st, old_paths in streams.values():
        assert not any(os.path.exists(p) for p in old_paths)
        assert not os.path.exists(st._tombstone_path)
    # idempotent no-op when nothing is tombstoned
    api.reap_tombstones(grace_seconds=0)


def test_reap_tombstones_isolates_stream_failures(spark, tmp_path):
    """A persistently-failing stream must not starve the reap of every
    stream after it — the sub-tick retries forever, so without per-store
    isolation one PermissionError would leak the others' swapped-out
    files indefinitely."""
    api = ParseableAPI(spark, str(tmp_path))
    streams = {}
    for name in ("a", "b"):
        st = api.get_or_create_stream(name)
        for i in range(3):
            st.ingest(
                [{"msg": f"{name}{i}"}],
                p_timestamp=datetime(2024, 1, 15, 10, 1, tzinfo=timezone.utc),
            )
            st.flush()
        streams[name] = (st, [f.file_path for f in st.manifest.files])
    assert api.run_compaction(level="minute") == {"a": 1, "b": 1}

    st_a = streams["a"][0]
    orig = st_a._reap_tombstones

    def boom(lock, grace):
        raise PermissionError("disk says no")

    st_a._reap_tombstones = boom
    try:
        api.reap_tombstones(grace_seconds=0)  # must not raise
    finally:
        st_a._reap_tombstones = orig
    # stream b (iterated after a) was still reaped
    st_b, old_b = streams["b"]
    assert not any(os.path.exists(p) for p in old_b)
    assert not os.path.exists(st_b._tombstone_path)
    # stream a recovers on the next sub-tick
    api.reap_tombstones(grace_seconds=0)
    assert not any(os.path.exists(p) for p in streams["a"][1])
