"""Alert scheduler, hot-tier cache, EXPLAIN surface."""

from __future__ import annotations

import os
from datetime import datetime

from parseable_spark.query.alert_scheduler import (
    AlertScheduler,
    CallbackTarget,
    ScheduledAlert,
)
from parseable_spark.query.alerts import Alert, AlertState
from parseable_spark.query.engine import QueryEngine
from parseable_spark.storage.hottier import HotTier
from parseable_spark.tables import load_table
from tests.conftest import SF_SMALL


def _engine(spark):
    eng = QueryEngine(spark, time_col="ts")
    eng.register_stream("events", load_table(spark, SF_SMALL, "events"), time_col="ts")
    return eng


class TestAlertScheduler:
    def test_rolling_window_eval_and_notify(self, spark):
        eng = _engine(spark)
        fired = []
        # events data lives around 2024-01; "now" anchors the window
        sa = ScheduledAlert(
            alert=Alert("events", "count", "*", ">", 0),
            eval_start="2 days",
            eval_frequency_s=0,
            targets=[CallbackTarget(fired.append)],
        )
        sched = AlertScheduler(eng)
        sched.register(sa)
        n = sched.run_pending(now=datetime(2024, 1, 15))
        assert n == 1
        assert sa.alert.state is AlertState.TRIGGERED
        assert len(fired) == 1 and fired[0]["state"] == "triggered"
        assert fired[0]["value"] > 0
        # second eval: still triggered, no transition => no re-notification
        sa._last_eval = 0.0
        sched.run_pending(now=datetime(2024, 1, 15))
        assert len(fired) == 1

    def test_transition_back_notifies(self, spark):
        eng = _engine(spark)
        fired = []
        sa = ScheduledAlert(
            alert=Alert("events", "count", "*", ">", 0),
            eval_start="2 days",
            eval_frequency_s=0,
            targets=[CallbackTarget(fired.append)],
        )
        sched = AlertScheduler(eng)
        sched.register(sa)
        sched.run_pending(now=datetime(2024, 1, 15))  # triggered
        sa._last_eval = 0.0
        sched.run_pending(now=datetime(2030, 1, 1))  # empty window -> resolve
        assert sa.alert.state is AlertState.NOT_TRIGGERED
        assert [f["state"] for f in fired] == ["triggered", "not-triggered"]


class TestHotTier:
    def _mk_file(self, d, name, size):
        p = os.path.join(d, name)
        with open(p, "wb") as f:
            f.write(b"x" * size)
        return p

    def test_cache_hit_and_resolve(self, tmp_path):
        remote = tmp_path / "remote"
        remote.mkdir()
        f1 = self._mk_file(str(remote), "date=2026-01-01.parquet", 100)
        f2 = self._mk_file(str(remote), "date=2026-01-02.parquet", 100)
        ht = HotTier(str(tmp_path / "hot"), size_limit=1000)
        local1 = ht.add(f1)
        assert local1 and os.path.exists(local1)
        resolved = ht.resolve([f1, f2])
        assert resolved[0] == local1  # hit
        assert resolved[1] == f2  # miss falls back to remote

    def test_oldest_first_eviction(self, tmp_path):
        remote = tmp_path / "remote"
        remote.mkdir()
        files = [
            self._mk_file(str(remote), f"date=2026-01-0{i}.parquet", 400)
            for i in (1, 2, 3)
        ]
        ht = HotTier(str(tmp_path / "hot"), size_limit=900)
        ht.add(files[0])
        ht.add(files[1])
        ht.add(files[2])  # quota forces eviction of the oldest date
        assert ht.lookup(files[0]) is None
        assert ht.lookup(files[1]) and ht.lookup(files[2])
        assert ht.used_bytes() <= 900

    def test_oversized_file_rejected(self, tmp_path):
        remote = tmp_path / "remote"
        remote.mkdir()
        big = self._mk_file(str(remote), "big.parquet", 2000)
        ht = HotTier(str(tmp_path / "hot"), size_limit=1000)
        assert ht.add(big) is None
        assert ht.resolve([big]) == [big]

    def test_rescan_on_restart(self, tmp_path):
        remote = tmp_path / "remote"
        remote.mkdir()
        f1 = self._mk_file(str(remote), "a.parquet", 100)
        ht = HotTier(str(tmp_path / "hot"), size_limit=1000)
        ht.add(f1)
        ht2 = HotTier(str(tmp_path / "hot"), size_limit=1000)
        assert ht2.used_bytes() == 100
        assert ht2.lookup(f1)


class TestExplain:
    def test_injected_filter_visible(self, spark):
        eng = _engine(spark)
        plan = eng.explain(
            "SELECT count(*) FROM events",
            "2024-01-10T00:00:00Z",
            "2024-01-12T00:00:00Z",
        )
        assert "Physical Plan" in plan
        # the injected time bound must appear in the analyzed plan
        assert "2024-01-10" in plan


class TestScanProviderCompletion:
    def test_hot_tier_scan_integration(self, spark, tmp_path):
        from parseable_spark.ingest.events import StreamConfig
        from parseable_spark.storage.store import StreamStore

        ht = HotTier(str(tmp_path / "hot"), size_limit=10_000_000)
        store = StreamStore(
            spark, str(tmp_path), StreamConfig(name="s1"), hot_tier=ht
        )
        store.ingest(
            [{"status": "ok"}, {"status": "err"}], p_timestamp=datetime(2026, 8, 1)
        )
        store.flush()
        for f in store.manifest.files:
            ht.add(f.file_path)
        df = store.scan(
            start=datetime(2026, 7, 31), end=datetime(2026, 8, 2),
        )
        assert df.count() == 2
        # the scan read the hot-tier copies, not the remote paths
        scanned = df.inputFiles()
        assert scanned and all(str(tmp_path / "hot") in p for p in scanned)

    def test_legacy_scan_globs_partitions(self, spark, tmp_path):
        from parseable_spark.ingest.events import StreamConfig
        from parseable_spark.storage.store import StreamStore

        store = StreamStore(spark, str(tmp_path), StreamConfig(name="s1"))
        store.ingest([{"status": "ok"}], p_timestamp=datetime(2026, 8, 1, 10, 30))
        store.flush()
        os.remove(store.manifest_path)  # pre-manifest data
        legacy = StreamStore(spark, str(tmp_path), StreamConfig(name="s1"))
        assert legacy.manifest.total_rows() == 0
        df = legacy.legacy_scan()
        assert df.count() == 1
        assert {"date", "hour", "minute"} <= set(df.columns)

    def test_snapshot_merge(self, tmp_path):
        from parseable_spark.catalog.manifest import Snapshot

        a, b = Snapshot(), Snapshot()
        a.items.append({"manifest_path": "i1/m.json", "time_lower_bound": "2026-01-02",
                        "time_upper_bound": "2026-01-03", "events_ingested": 10,
                        "storage_size": 100})
        b.items.append({"manifest_path": "i2/m.json", "time_lower_bound": "2026-01-01",
                        "time_upper_bound": "2026-01-02", "events_ingested": 5,
                        "storage_size": 50})
        m = Snapshot.merge([a, b])
        assert m.total_rows() == 15
        assert [it["manifest_path"] for it in m.items] == ["i2/m.json", "i1/m.json"]
        assert m.manifests_for_range("2026-01-02T12", "2026-01-04") == ["i1/m.json"]

    def test_tenant_namespaced_views(self, spark):
        eng = QueryEngine(spark, time_col="ts")
        ev = load_table(spark, SF_SMALL, "events")
        eng.register_stream("events", ev.limit(10), time_col="ts", tenant="acme")
        eng.register_stream("events", ev.limit(20), time_col="ts", tenant="globex")
        assert spark.sql("SELECT count(*) c FROM _t_acme__events").first()["c"] == 10
        assert spark.sql("SELECT count(*) c FROM _t_globex__events").first()["c"] == 20

    def test_flush_populates_hot_tier(self, spark, tmp_path):
        from parseable_spark.ingest.events import StreamConfig
        from parseable_spark.storage.store import StreamStore

        ht = HotTier(str(tmp_path / "hot"), size_limit=10_000_000)
        store = StreamStore(spark, str(tmp_path), StreamConfig(name="s1"), hot_tier=ht)
        store.ingest([{"a": 1.0}], p_timestamp=datetime(2026, 8, 1))
        store.flush()
        # flush warmed the tier without an explicit add()
        assert ht.used_bytes() > 0
        df = store.scan(
            start=datetime(2026, 7, 31), end=datetime(2026, 8, 2),
        )
        assert all(str(tmp_path / "hot") in p for p in df.inputFiles())
