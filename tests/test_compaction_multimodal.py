"""Compaction, multimodal resize/frame-sample, streaming session ops."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from parseable_spark.ingest.events import StreamConfig
from parseable_spark.llm import multimodal
from parseable_spark.storage.store import StreamStore
from parseable_spark.streaming.ingest import sessionized_counts, streaming_dedup
from parseable_spark.tables import load_table
from tests.conftest import SF_SMALL


class TestCompaction:
    def test_compact_merges_partition_files(self, spark, tmp_path):
        store = StreamStore(spark, str(tmp_path), StreamConfig(name="s1"))
        ts = datetime(2026, 8, 1, 10, 30)
        # three flushes land three files in the same minute partition
        for i in range(3):
            store.ingest([{"status": f"s{i}", "n": float(i)}], p_timestamp=ts)
            store.flush()
        dirs = {f.file_path.rsplit("/", 1)[0] for f in store.manifest.files}
        assert len(dirs) == 1 and len(store.manifest.files) == 3
        before_rows = store.count_fast_path()

        assert store.compact() == 1
        assert len(store.manifest.files) == 1
        assert store.count_fast_path() == before_rows
        df = store.scan(
            start=ts - timedelta(days=1), end=ts + timedelta(days=1),
        )
        assert df.count() == 3
        assert {r["status"] for r in df.collect()} == {"s0", "s1", "s2"}
        # reopen: persisted manifest reflects the rewrite
        again = StreamStore(spark, str(tmp_path), StreamConfig(name="s1"))
        assert len(again.manifest.files) == 1
        assert again.count_fast_path() == before_rows

    def test_compact_noop_on_single_files(self, spark, tmp_path):
        store = StreamStore(spark, str(tmp_path), StreamConfig(name="s1"))
        store.ingest([{"status": "x"}], p_timestamp=datetime(2026, 8, 1))
        store.flush()
        assert store.compact() == 0

    def test_hour_level_rollup(self, spark, tmp_path):
        """Per-minute compaction still leaves one file per minute;
        level='hour' merges across the minute dirs of one hour (the
        pass that bounds file counts at scale), removes the emptied
        minute dirs, and leaves scans/pruning identical."""
        store = StreamStore(spark, str(tmp_path), StreamConfig(name="s1"))
        base = datetime(2026, 8, 1, 10, 0)
        for m in (1, 2, 3):
            store.ingest(
                [{"status": f"m{m}", "n": float(m)}],
                p_timestamp=base.replace(minute=m),
            )
        # and one file in a DIFFERENT hour, which must not merge in
        store.ingest([{"status": "h11"}], p_timestamp=base.replace(hour=11))
        store.flush()
        assert len(store.manifest.files) == 4
        before_rows = store.count_fast_path()

        assert store.compact(level="minute") == 0  # one file per minute
        assert store.compact(level="hour") == 1  # merges the 3, not h11
        assert len(store.manifest.files) == 2
        rolled = [f for f in store.manifest.files if "hour=10" in f.file_path]
        assert len(rolled) == 1
        assert "minute=" not in rolled[0].file_path
        import os

        hour_dir = os.path.dirname(rolled[0].file_path)
        # default tombstone grace: swapped-out minute files stay on disk
        # (an in-flight query that resolved them pre-swap keeps reading)
        # but are OUT of the manifest — invisible to new scans
        assert [d for d in os.listdir(hour_dir) if d.startswith("minute=")]
        assert os.path.exists(store._tombstone_path)
        # a later pass past the grace window reaps them + the empty dirs
        assert store.compact(level="hour", tombstone_grace_seconds=0) == 0
        assert not [d for d in os.listdir(hour_dir) if d.startswith("minute=")]
        assert not os.path.exists(store._tombstone_path)
        assert store.count_fast_path() == before_rows
        # scan + time pruning still correct (stats carry the time col)
        df = store.scan(
            start=base, end=base.replace(minute=59)
        )
        assert {r["status"] for r in df.collect()} == {"m1", "m2", "m3"}
        pruned = store.manifest.prune_paths(
            store.time_col,
            base.replace(hour=11).strftime("%Y-%m-%dT%H:%M:%S.%f"),
            base.replace(hour=12).strftime("%Y-%m-%dT%H:%M:%S.%f"),
        )
        assert pruned == [f.file_path for f in store.manifest.files
                          if "hour=11" in f.file_path]

    def test_legacy_scan_survives_mixed_depth_rollup(self, spark, tmp_path):
        """Hour-rollup leaves hour-level files next to untouched
        minute-level files in OTHER hours; partition discovery rejects
        that ('conflicting partition column names'), so legacy_scan
        must detect mixed depth and fall back to a recursive listing
        (review finding)."""
        store = StreamStore(spark, str(tmp_path), StreamConfig(name="s1"))
        base = datetime(2026, 8, 1, 10, 0)
        for m in (1, 2):
            store.ingest([{"status": f"m{m}"}], p_timestamp=base.replace(minute=m))
        store.ingest([{"status": "h11"}], p_timestamp=base.replace(hour=11))
        store.flush()
        assert store.compact(level="hour") == 1  # mixed depths now
        df = store.legacy_scan()
        assert {r["status"] for r in df.collect()} == {"m1", "m2", "h11"}

    def test_rollup_respects_target_size(self, spark, tmp_path):
        """Groups already at target size are not rewritten — a rollup
        pass over mostly-compacted history must not re-churn it."""
        store = StreamStore(spark, str(tmp_path), StreamConfig(name="s1"))
        base = datetime(2026, 8, 1, 10, 0)
        for m in (1, 2):
            store.ingest(
                [{"status": f"m{m}"}], p_timestamp=base.replace(minute=m)
            )
        store.flush()
        assert len(store.manifest.files) == 2
        # tiny target: ceil(total/1) ≥ 2 output files → rewriting gains
        # nothing, group skipped
        assert store.compact(level="hour", target_file_bytes=1) == 0
        assert len(store.manifest.files) == 2
        # real target: merged to one hour-level file
        assert store.compact(level="hour") == 1
        assert len(store.manifest.files) == 1
        df = store.scan(
            start=base, end=base + timedelta(hours=1)
        )
        assert {r["status"] for r in df.collect()} == {"m1", "m2"}


class TestMultimodal:
    def test_resize_clamps_and_preserves_aspect(self, spark):
        media = multimodal.synthesize_media_from_documents(
            load_table(spark, SF_SMALL, "documents")
        )
        out = multimodal.resize_images(media, max_w=100, max_h=100)
        rows = out.collect()
        assert rows and all(r["media_type"] == "image" for r in rows)
        assert all(r["width"] <= 100 and r["height"] <= 100 for r in rows)
        src = {r["media_id"]: r for r in media.filter("media_type='image'").collect()}
        for r in rows:
            s = src[r["media_id"]]
            if s["width"] <= 100 and s["height"] <= 100:
                assert (r["width"], r["height"]) == (s["width"], s["height"])

    def test_frame_sampling_cardinality(self, spark):
        media = multimodal.synthesize_media_from_documents(
            load_table(spark, SF_SMALL, "documents")
        )
        frames = multimodal.sample_frames(media, every_ms=1000)
        vids = media.filter("media_type='video'").select(
            "media_id", (F.ceil(F.greatest(F.col("duration_ms"), F.lit(1)) / 1000)).alias("n")
        )
        expected = {r["media_id"]: r["n"] for r in vids.collect()}
        got = {
            r["media_id"]: r["cnt"]
            for r in frames.groupBy("media_id").agg(F.count("*").alias("cnt")).collect()
        }
        assert got == expected
        one = frames.filter("frame_idx = 0").first()
        assert one["ts_ms"] == 0 and len(one["frame_payload"]) <= 16


class TestStreamingOps:
    def test_sessionized_counts_batch_semantics(self, spark):
        base = datetime(2026, 8, 13, 12, 0, 0)
        rows = [
            (base, "u1"),
            (base + timedelta(minutes=1), "u1"),  # same session (gap 5m)
            (base + timedelta(minutes=20), "u1"),  # new session
            (base + timedelta(minutes=2), "u2"),
        ]
        df = spark.createDataFrame(rows, "p_timestamp timestamp_ntz, user string")
        out = sessionized_counts(df, gap="5 minutes", group_cols=["user"]).collect()
        per_user = {}
        for r in out:
            per_user.setdefault(r["user"], []).append(r["count"])
        assert sorted(per_user["u1"]) == [1, 2]
        assert per_user["u2"] == [1]

    def test_streaming_dedup_batch_fallback(self, spark):
        base = datetime(2026, 8, 13, 12, 0, 0)
        rows = [(base, "a"), (base, "a"), (base, "b")]
        df = spark.createDataFrame(rows, "p_timestamp timestamp_ntz, k string")
        out = streaming_dedup(df, ["k"])
        assert out.count() == 2


class TestConnectedComponents:
    def test_known_graph(self, spark):
        from parseable_spark.llm.dedup import connected_components

        # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
            "id_a bigint, id_b bigint",
        )
        out = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_long_chain_converges(self, spark):
        from parseable_spark.llm.dedup import connected_components

        n = 12  # diameter > a couple of rounds
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint"
        )
        out = connected_components(pairs, max_iterations=20).collect()
        assert {r["cluster_id"] for r in out} == {0}
        assert len(out) == n + 1
