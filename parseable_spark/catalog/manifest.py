"""Manifest catalog — file-level statistics for planning-time pruning.

Reference mapping (SURVEY.md §1.6):
- File{file_path, num_rows, file_size, columns: [Column]} built from
  parquet footer metadata (src/catalog/manifest.rs:139-225).
- Column min/max TypedStatistics (src/catalog/column.rs:26-59); stats
  dropped on type mismatch or NaN (column.rs:78-135) — we drop NaN too.
- Snapshot = list of ManifestItem{manifest_path, time bounds,
  events_ingested, ...} (src/catalog/snapshot.rs:25-82).
- Pruning: files whose [min,max] time range misses the query window
  are skipped at planning time (stream_schema_provider.rs:505-600);
  LIMIT truncation by cumulative num_rows (:581-597).
- COUNT(*) fast path answers from num_rows sums without touching data
  (src/query/mod.rs:427-462); the counts histogram (:537-662) is
  answered only when every file in the window lies inside one bin, so
  the metadata answer equals the scan's; otherwise the caller scans.

At 100 TB this is the difference between listing+reading thousands of
parquet footers per query and one small JSON read; Spark still applies
its own row-group pruning inside the files we do scan.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import asdict, dataclass, field
from datetime import datetime
from decimal import Decimal
from typing import Any, Callable

import pyarrow.parquet as pq

# fixed-width timestamp form so lexicographic order == time order
# (isoformat() drops zero microseconds, which breaks string
# comparison). Load-bearing at EVERY site that compares against
# manifest bounds — store.scan, count_fast_path — so it lives in exactly
# one place (r6 review: three hand-copied literals).
ISO_MICRO_FMT = "%Y-%m-%dT%H:%M:%S.%f"


def _stat_value(v: Any) -> Any:
    if isinstance(v, datetime):
        return v.strftime(ISO_MICRO_FMT)
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None  # reference drops NaN ranges (column.rs:118-135)
    if isinstance(v, Decimal):
        # uint64 columns (__series_hash_u64) store as decimal(20,0);
        # Decimal is not JSON-serializable and crashed manifest.save on
        # the FIRST flush of any OTel metrics stream (found via the
        # asInt ingest-to-query regression test). Integral decimals
        # round-trip exactly as int; fractional ones as float (pruning
        # comparisons only need ordering, and Manifest JSON reloads
        # them consistently).
        return int(v) if v == v.to_integral_value() else float(v)
    return v


@dataclass
class FileStats:
    file_path: str
    num_rows: int
    file_size: int
    columns: dict[str, dict[str, Any]]  # name -> {"min": .., "max": ..}

    def time_bounds(self, time_col: str) -> tuple[str, str] | None:
        c = self.columns.get(time_col)
        if c and c.get("min") is not None and c.get("max") is not None:
            return (c["min"], c["max"])
        return None


def build_file_stats(path: str) -> FileStats:
    """Footer-only read — one metadata fetch per file, no data pages
    (reference create_from_parquet_file, manifest.rs:192-225)."""
    md = pq.ParquetFile(path).metadata
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, Any] = {}  # per-column null counts (None = unknown)
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            st = col.statistics
            # null counts: parquet min/max stats IGNORE nulls, so a
            # "fully contained" file can still hold NULL-time rows the
            # equivalent real scan (ts >= lo AND ts < hi) would drop —
            # the windowed COUNT(*) fast path needs this to not
            # overcount (review finding)
            nc = st.null_count if st is not None and st.has_null_count else None
            if name not in nulls:
                nulls[name] = nc
            elif nulls[name] is not None:
                nulls[name] = None if nc is None else nulls[name] + nc
            if st is None or not st.has_min_max:
                mins[name] = maxs[name] = None
                continue
            mn, mx = _stat_value(st.min), _stat_value(st.max)
            if mn is None or mx is None:
                mins[name] = maxs[name] = None
                continue
            if name not in mins or (mins[name] is not None and mn < mins[name]):
                mins[name] = mn
            if name not in maxs or (maxs[name] is not None and mx > maxs[name]):
                maxs[name] = mx
    columns = {
        n: {"min": mins.get(n), "max": maxs.get(n), "nulls": nulls.get(n)}
        for n in set(mins) | set(maxs)
    }
    return FileStats(
        file_path=path,
        num_rows=md.num_rows,
        file_size=os.path.getsize(path),
        columns=columns,
    )


class Manifest:
    """File-stats catalog for one stream. Planning-time operators run
    against a lazily-built TIME INDEX (files sorted by the time
    column's lower bound + a prefix-max of upper bounds), so a window
    query binary-searches its candidate range instead of scanning
    every entry — at minute flush granularity a year of one stream is
    ~525k entries, and the linear scans measured 20 ms (prune) / 246 ms
    (histogram) at 10^5 entries (tools/catalog_probe.py, r6): the
    catalog would out-cost Spark planning. The index is invalidated on
    any mutation (add_file, or reassigning ``files`` — which is a
    property for exactly that reason). Code that mutates the list
    IN PLACE must call ``invalidate()``; in-repo callers only append
    via add_file or reassign."""

    def __init__(self, files: list[FileStats] | None = None) -> None:
        self._files = list(files) if files else []
        self._index: dict[str, tuple] | None = None
        self._rows_cache: int | None = None
        self._rows_by_path: dict[str, int] | None = None

    @property
    def files(self) -> list[FileStats]:
        return self._files

    @files.setter
    def files(self, v: list[FileStats]) -> None:
        self._files = list(v)
        self.invalidate()

    def invalidate(self) -> None:
        self._index = None
        self._rows_cache = None
        self._rows_by_path = None

    def add_file(self, path: str) -> FileStats:
        fs = build_file_stats(path)
        pos = len(self._files)
        self._files.append(fs)
        # steady-state ingest appends in time order — extend the live
        # caches in place instead of forcing a full O(n log n) rebuild
        # (1 s at 10^6 entries) on the first query after every flush.
        # Out-of-order arrivals (late data) fall back to invalidation.
        extendable = True
        for col, (lowers, bounded, pmax, unknown) in (self._index or {}).items():
            tb = fs.time_bounds(col)
            if tb is None:
                unknown.append(pos)
            elif not lowers or tb[0] >= lowers[-1]:
                lowers.append(tb[0])
                bounded.append((tb[0], tb[1], fs.num_rows, pos))
                pmax.append(max(pmax[-1], tb[1]) if pmax else tb[1])
            else:
                extendable = False
        if extendable:
            if self._rows_cache is not None:
                self._rows_cache += fs.num_rows
            if self._rows_by_path is not None:
                self._rows_by_path[fs.file_path] = fs.num_rows
        else:
            self.invalidate()
        return fs

    def _time_index(self, time_col: str) -> tuple:
        """(lowers, uppers, rows, pos, pmax_upper, unknown_pos) with
        entries sorted by lower bound; built once per mutation epoch."""
        if self._index is None:
            self._index = {}
        cached = self._index.get(time_col)
        if cached is not None:
            return cached
        bounded, unknown = [], []
        for i, f in enumerate(self._files):
            tb = f.time_bounds(time_col)
            if tb is None:
                unknown.append(i)
            else:
                bounded.append((tb[0], tb[1], f.num_rows, i))
        bounded.sort(key=lambda e: e[0])
        lowers = [e[0] for e in bounded]
        pmax: list = []
        cur = None
        for e in bounded:
            cur = e[1] if cur is None else max(cur, e[1])
            pmax.append(cur)
        idx = (lowers, bounded, pmax, unknown)
        self._index[time_col] = idx
        return idx

    # --- planning-time operators (metadata only) ----------------------
    def total_rows(self) -> int:
        """COUNT(*) fast path (reference src/query/mod.rs:427-462)."""
        if self._rows_cache is None:
            self._rows_cache = sum(f.num_rows for f in self._files)
        return self._rows_cache

    def prune_paths(
        self,
        time_col: str,
        start: str | None = None,
        end: str | None = None,
        equals: dict[str, Any] | None = None,
    ) -> list[str]:
        """File-level min/max pruning: keep files whose stats ranges can
        satisfy the predicates (stream_schema_provider.rs:505-600,
        1032-1137). Unknown stats ⇒ keep (never prune unsafely). The
        time window goes through overlapping()."""

        def _eq_keep(f: FileStats) -> bool:
            for col, v in (equals or {}).items():
                c = f.columns.get(col)
                if not c or c.get("min") is None or v is None:
                    continue  # unknown stats / NULL probe ⇒ keep
                try:
                    if not (c["min"] <= v <= c["max"]):
                        return False
                except TypeError:
                    # probe/stat type mismatch (e.g. '500' vs int
                    # stats): the reference DROPS the stat on mismatch
                    # (column.rs:78-135); crashing the planner here
                    # violated the never-prune-unsafely contract
                    # (r7 review, reproduced)
                    continue
            return True

        return [
            f.file_path for f in self.overlapping(time_col, start, end) if _eq_keep(f)
        ]

    def overlapping(
        self, time_col: str, start: str | None = None, end: str | None = None
    ) -> list[FileStats]:
        """Files whose time range can hold a row of [start, end), plus
        every file with unknown time bounds, in original file order.

        Candidates come from the time index: bisect on sorted lower
        bounds caps the range at `lower < end`, and bisect on the
        (non-decreasing) prefix-max of upper bounds skips the prefix
        where every upper < start — O(log n + window) for append-ordered
        logs, exact-filtered so arbitrary overlap stays correct."""
        import bisect

        if start is None and end is None:
            return list(self._files)
        lowers, bounded, pmax, unknown = self._time_index(time_col)
        # one-sided windows prune too ("everything since T" is a common
        # shape): bisect handles an absent bound as the respective end
        # of the index — bailing to a full listing cost O(history)
        # files per open-ended query (r7 review)
        p = len(bounded) if end is None else bisect.bisect_left(lowers, end)
        k = 0 if start is None else bisect.bisect_left(pmax, start)
        kept_pos = list(unknown)  # unknown bounds ⇒ keep (never prune unsafely)
        for lo, hi, _rows, pos in bounded[k:p]:
            if (start is not None and hi < start) or (
                end is not None and lo >= end
            ):
                continue
            kept_pos.append(pos)
        kept_pos.sort()
        return [self._files[i] for i in kept_pos]

    def window_count(
        self, time_col: str, start: str | None = None, end: str | None = None
    ) -> int | None:
        """Rows of the files in [start, end): the one-bin histogram, so
        None exactly when metadata cannot prove the count."""
        h = self.histogram(time_col, start, end, 1, lambda _t: 0)
        return None if h is None else h[0]

    def limit_truncate(self, paths: list[str], limit: int) -> list[str]:
        """Planning-time LIMIT: stop adding files once cumulative
        num_rows covers the limit (stream_schema_provider.rs:581-597)."""
        if self._rows_by_path is None:
            self._rows_by_path = {f.file_path: f.num_rows for f in self._files}
        out, acc = [], 0
        for p in paths:
            out.append(p)
            acc += self._rows_by_path.get(p, 0)
            if acc >= limit:
                break
        return out

    def histogram(
        self,
        time_col: str,
        start: str | None,
        end: str | None,
        num_bins: int,
        bin_of: Callable[[str], int],
    ) -> list[int] | None:
        """Exact per-bin row counts of [start, end) from metadata alone,
        visiting only the files ``overlapping`` yields (O(log n +
        window)). ``bin_of`` maps a time bound to its bin in
        0..num_bins-1 and must never decrease as time grows, so a file
        whose two bounds share a bin has every row there.

        None when metadata cannot prove the bins and a real scan must
        count: a file has unknown time bounds or an unknown time null
        count, straddles start or end, or straddles a bin edge. A file
        adds its rows less its NULL-time rows: the windowed scan
        (ts >= start AND ts < end) drops those, and parquet min/max
        stats ignore them, so containment says nothing about them."""
        counts = [0] * num_bins
        for f in self.overlapping(time_col, start, end):
            tb = f.time_bounds(time_col)
            nulls = (f.columns.get(time_col) or {}).get("nulls")
            if tb is None or nulls is None:
                return None
            f_lo, f_hi = tb
            if (start is not None and f_lo < start) or (end is not None and f_hi >= end):
                return None
            b = bin_of(f_lo)
            if b != bin_of(f_hi):
                return None
            counts[b] += f.num_rows - nulls
        return counts

    # --- persistence (versioned via migration.py, transported via the
    #     metastore seam) ------------------------------------------------
    def save(self, path: str) -> None:
        from ..migration import save_versioned

        save_versioned("manifest", path, {"files": [asdict(x) for x in self.files]})

    @classmethod
    def load(cls, path: str) -> "Manifest":
        from ..migration import load_versioned

        data = load_versioned("manifest", path)
        if data is None:
            return cls()
        return cls(files=[FileStats(**x) for x in data["files"]])


@dataclass
class Snapshot:
    """Stream-level index over manifests (snapshot.rs:25-82): one entry
    per manifest with aggregate time bounds, so planning can skip whole
    manifests before reading them."""

    items: list[dict[str, Any]] = field(default_factory=list)

    def add_manifest(
        self, manifest_path: str, manifest: Manifest, time_col: str
    ) -> None:
        bounds = [b for f in manifest.files if (b := f.time_bounds(time_col))]
        self.items.append(
            {
                "manifest_path": manifest_path,
                "time_lower_bound": min(b[0] for b in bounds) if bounds else None,
                "time_upper_bound": max(b[1] for b in bounds) if bounds else None,
                "events_ingested": manifest.total_rows(),
                "storage_size": sum(f.file_size for f in manifest.files),
            }
        )

    def manifests_for_range(self, start: str | None, end: str | None) -> list[str]:
        out = []
        for it in self.items:
            lo, hi = it["time_lower_bound"], it["time_upper_bound"]
            if lo is not None and hi is not None and start is not None and end is not None:
                if hi < start or lo >= end:
                    continue
            out.append(it["manifest_path"])
        return out

    def total_rows(self) -> int:
        return sum(it["events_ingested"] for it in self.items)

    @classmethod
    def merge(cls, snapshots: list["Snapshot"]) -> "Snapshot":
        """Querier-side merge of every ingestor's snapshot — distributed
        mode reads all ingestors' manifest lists at plan time
        (stream_schema_provider.rs:649-668, src/query/mod.rs:778-792).
        Items stay per-manifest; planning over the merged list is
        identical to the single-writer case."""
        merged = cls()
        for s in snapshots:
            merged.items.extend(s.items)
        merged.items.sort(key=lambda it: (it["time_lower_bound"] or "", it["manifest_path"]))
        return merged

    def save(self, path: str) -> None:
        from ..migration import save_versioned

        save_versioned("snapshot", path, {"items": self.items})

    @classmethod
    def load(cls, path: str) -> "Snapshot":
        from ..migration import load_versioned

        data = load_versioned("snapshot", path)
        if data is None:
            return cls()
        return cls(items=data["items"])
