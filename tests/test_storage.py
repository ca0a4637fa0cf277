"""Storage/catalog tests: sink layout, manifest stats, pruning, count
fast path, staging union, retention."""

from __future__ import annotations

from datetime import datetime, timedelta
from glob import glob

from parseable_spark.catalog.manifest import Manifest, build_file_stats
from parseable_spark.ingest.events import StreamConfig
from parseable_spark.query.counts import Bins
from parseable_spark.storage.store import StreamStore


def _mk_store(spark, tmp_path, name="s1") -> StreamStore:
    return StreamStore(spark, str(tmp_path), StreamConfig(name=name))


def _ts(day: int, hour: int = 0, minute: int = 0) -> datetime:
    return datetime(2026, 8, day, hour, minute, 0)


class TestSinkAndManifest:
    def test_partition_layout_and_sorted_files(self, spark, tmp_path):
        st = _mk_store(spark, tmp_path)
        st.ingest([{"level": "info", "n": 1}], p_timestamp=_ts(1, 10, 5))
        st.ingest([{"level": "warn", "n": 2}], p_timestamp=_ts(1, 10, 5))
        st.ingest([{"level": "error", "n": 3}], p_timestamp=_ts(2, 11, 7))
        assert st.flush() == 3
        files = glob(f"{st.data_dir}/**/*.parquet", recursive=True)
        assert any("date=2026-08-01/hour=10/minute=05" in f for f in files)
        assert any("date=2026-08-02/hour=11/minute=07" in f for f in files)
        # manifest has footer stats incl. time bounds
        assert st.manifest.total_rows() == 3
        fs = st.manifest.files[0]
        assert fs.time_bounds("p_timestamp") is not None
        assert fs.file_size > 0

    def test_count_fast_path_agrees_with_scan(self, spark, tmp_path):
        st = _mk_store(spark, tmp_path)
        st.ingest([{"x": i} for i in range(50)], p_timestamp=_ts(1))
        st.flush()
        st.ingest([{"x": 99}], p_timestamp=_ts(3))  # still staged
        assert st.count_fast_path() == 51
        assert st.scan().count() == 51

    def test_manifest_pruning_skips_files(self, spark, tmp_path):
        st = _mk_store(spark, tmp_path)
        for day in (1, 2, 3):
            st.ingest([{"d": day}], p_timestamp=_ts(day))
            st.flush()  # one file per day
        all_paths = [f.file_path for f in st.manifest.files]
        pruned = st.manifest.prune_paths(
            "p_timestamp", "2026-08-02T00:00:00", "2026-08-03T00:00:00"
        )
        assert len(all_paths) == 3 and len(pruned) == 1
        df = st.scan(_ts(2), _ts(3))
        assert df.count() == 1
        assert df.collect()[0]["d"] == 2.0

    def test_limit_truncation(self, spark, tmp_path):
        st = _mk_store(spark, tmp_path)
        for day in (1, 2, 3):
            st.ingest([{"d": day} for _ in range(10)], p_timestamp=_ts(day))
            st.flush()
        paths = [f.file_path for f in st.manifest.files]
        assert len(st.manifest.limit_truncate(paths, 15)) == 2

    def test_metadata_histogram(self, spark, tmp_path):
        st = _mk_store(spark, tmp_path)
        for day in (1, 1, 2):
            st.ingest([{"d": day}], p_timestamp=_ts(day))
        st.flush()
        bins = Bins(_ts(1), _ts(3), 2)
        got = st.manifest.histogram(
            "p_timestamp",
            "2026-08-01T00:00:00.000000",
            "2026-08-03T00:00:00.000000",
            2,
            lambda s: bins.index(datetime.fromisoformat(s)),
        )
        assert got == [2, 1]


class TestStagingWindow:
    def test_staging_included_only_in_fresh_window(self, spark, tmp_path):
        st = _mk_store(spark, tmp_path)
        st.ingest([{"x": 1}], p_timestamp=_ts(1, 10, 0))
        st.flush()
        st.ingest([{"x": 2}], p_timestamp=_ts(1, 12, 4))  # staged only
        # window overlaps the staged batch's time range → staging unioned in
        fresh = st.scan(_ts(1, 0, 0), _ts(1, 12, 5))
        assert fresh.count() == 2
        # window ends before the staged batch's time range → parquet only
        old = st.scan(_ts(1, 0, 0), _ts(1, 11, 0))
        assert old.count() == 1
        assert not st._staging_in_window(_ts(1, 0, 0), _ts(1, 11, 0))
        assert st._staging_in_window(_ts(1, 12, 4), _ts(1, 12, 5))

    def test_schema_evolution_across_flushes(self, spark, tmp_path):
        st = _mk_store(spark, tmp_path)
        st.ingest([{"a": 1}], p_timestamp=_ts(1))
        st.flush()
        st.ingest([{"b": "x"}], p_timestamp=_ts(2))
        st.flush()
        df = st.scan()
        assert {"a", "b"} <= set(df.columns)
        rows = {r["b"] for r in df.collect()}
        assert rows == {None, "x"}  # old file null-padded for new column


class TestRetention:
    def test_retention_deletes_old_partitions(self, spark, tmp_path):
        st = _mk_store(spark, tmp_path)
        for day in (1, 5, 9):
            st.ingest([{"d": day}], p_timestamp=_ts(day))
        st.flush()
        removed = st.apply_retention(days=5, now=_ts(10))
        assert removed == 1  # day 1 is >5 days old
        assert st.scan().count() == 2
        assert st.manifest.total_rows() == 2


class TestFileStats:
    def test_build_file_stats_minmax(self, spark, tmp_path):
        p = str(tmp_path / "t.parquet")
        spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(p)
        f = glob(f"{p}/*.parquet")[0]
        fs = build_file_stats(f)
        assert fs.num_rows == 100
        assert fs.columns["id"]["min"] == 0 and fs.columns["id"]["max"] == 99
        assert fs.columns["v"]["max"] == 198

    def test_prune_on_equals(self, spark, tmp_path):
        m = Manifest()
        p1 = str(tmp_path / "a.parquet")
        p2 = str(tmp_path / "b.parquet")
        spark.range(0, 10).coalesce(1).write.parquet(p1)
        spark.range(100, 110).coalesce(1).write.parquet(p2)
        for p in (p1, p2):
            m.add_file(glob(f"{p}/*.parquet")[0])
        assert len(m.prune_paths("id", equals={"id": 105})) == 1
        assert len(m.prune_paths("id", equals={"id": 50})) == 0


class TestManifestTimeIndex:
    """r6 (VERDICT r5 next-6): planning ops run over a lazily-built
    time index (sorted lowers + prefix-max uppers). The index must be
    EXACTLY equivalent to the linear scan under arbitrary overlap and
    out-of-order entries, survive in-place extension on ordered
    add_file, and invalidate on mutation."""

    @staticmethod
    def _manifest(entries):
        """One file per (lo, hi) or (lo, hi, nulls) entry; a None lo
        gives a file without time stats, a missing nulls an unknown
        null count."""
        from parseable_spark.catalog.manifest import FileStats, Manifest

        return Manifest(
            files=[
                FileStats(
                    file_path=f"f{i}",
                    num_rows=10 + i,
                    file_size=1,
                    columns={
                        "ts": {"min": e[0], "max": e[1], "nulls": e[2] if len(e) > 2 else None}
                    }
                    if e[0]
                    else {},
                )
                for i, e in enumerate(entries)
            ]
        )

    @staticmethod
    def _linear_prune(files, start, end):
        out = []
        for f in files:
            c = f.columns.get("ts")
            if c and c.get("min") is not None:
                if c["max"] < start or c["min"] >= end:
                    continue
            out.append(f.file_path)
        return out

    def test_equivalent_to_linear_scan_under_overlap(self):
        import random

        rng = random.Random(42)
        entries = []
        for _ in range(300):
            a, b = sorted(rng.sample(range(1000), 2))
            entries.append((f"t{a:04d}", f"t{b:04d}"))
        rng.shuffle(entries)  # out-of-order, heavily overlapping
        entries.insert(7, (None, None))  # statless file: always kept
        m = self._manifest(entries)
        for s, e in [(0, 1000), (100, 101), (990, 1500), (0, 1), (500, 600)]:
            start, end = f"t{s:04d}", f"t{e:04d}"
            assert m.prune_paths("ts", start, end) == self._linear_prune(
                m.files, start, end
            ), (s, e)

    def test_histogram_matches_linear_reference(self):
        """The exact rule: a file counts in bin i only when both its
        bounds fall in bin i, less its NULL-time rows; None when a file
        straddles a bin edge or a window bound, or its bounds or null
        count are unknown. The bin edges here are every 10 ticks."""
        from tests.test_counts_fast_path import _linear_histogram

        def t(i):
            return f"t{i:04d}"

        inside = [(t(i), t(i + 8), i % 3) for i in range(1, 100, 10)]  # t0001-t0009, ...
        cases = [
            (inside, 10, 60, [9, 12, 12, 12, 15]),
            (inside + [(t(75), t(76))], 10, 60, [9, 12, 12, 12, 15]),  # outside
            (inside + [(t(35), t(36))], 10, 60, None),  # unknown null count
            (inside + [(None, None)], 10, 60, None),  # unknown bounds
            (inside + [(t(39), t(41), 0)], 10, 60, None),  # straddles a bin edge
            (inside, 15, 60, None),  # t0011-t0019 straddles the window start
            (inside, 10, 55, None),  # t0051-t0059 straddles the window end
            ([(t(i), t(i + 1), 0) for i in range(100)], 10, 60, None),  # files share edges
        ]
        for entries, a, b, want in cases:
            m = self._manifest(entries)
            n = (b - a + 9) // 10

            def bin_of(s, a=a, n=n):
                return min((int(s[1:]) - a) // 10, n - 1)

            args = ("ts", t(a), t(b), n, bin_of)
            assert _linear_histogram(m.files, *args) == want, (entries, a, b)
            assert m.histogram(*args) == want, (entries, a, b)

    def test_ordered_add_file_extends_index_in_place(self, spark, tmp_path):
        from glob import glob as _glob

        from parseable_spark.catalog.manifest import Manifest

        m = Manifest()
        paths = []
        for i in range(3):
            p = str(tmp_path / f"p{i}.parquet")
            # string-typed pseudo-timestamps, same shape the store's
            # p_timestamp stats take (time bounds compare as strings)
            spark.range(i * 100, i * 100 + 50).selectExpr(
                "lpad(cast(id AS string), 6, '0') AS ts"
            ).coalesce(1).write.parquet(p)
            paths.append(_glob(f"{p}/*.parquet")[0])
        m.add_file(paths[0])
        assert m.total_rows() == 50
        assert len(m.prune_paths("ts", "000000", "999999")) == 1  # builds index
        m.add_file(paths[1])  # ordered append: extends in place
        assert m._index is not None and len(m._index["ts"][0]) == 2
        assert m.total_rows() == 100
        got = m.prune_paths("ts", "000100", "000200")
        assert got == [paths[1]]
        # out-of-order mutation invalidates; results stay correct
        m.files = list(reversed(m.files))
        assert m._index is None
        assert m.prune_paths("ts", "000100", "000200") == [paths[1]]
        m.add_file(paths[2])
        assert m.total_rows() == 150
        assert m.prune_paths("ts", "000200", "000300") == [paths[2]]
