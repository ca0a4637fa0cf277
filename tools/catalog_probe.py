"""Catalog planning-time scale probe (VERDICT r5 next-6).

`prune_paths` / `manifests_for_range` / `Snapshot.merge` are
driver-side Python over in-memory lists. At minute flush granularity a
year of ONE stream is ~525k manifest entries — planning latency must
stay sane at 10^4..10^6 entries or the catalog becomes the query-path
bottleneck long before Spark executes anything.

Synthesizes FileStats/Snapshot items with minute-granularity time
bounds over a year (append-ordered, the real layout) and times, per N:

- Manifest.prune_paths for a 1-hour window (the common dashboard case)
- Manifest.histogram over 48 two-minute bins (the exact rule, with
  query.counts.Bins as the bin index; it answers, so every file in
  the window is visited)
- Manifest.total_rows
- Snapshot.manifests_for_range for the same window
- Snapshot.merge of 8 equal shards (querier fan-in)

Prints one JSON line with milliseconds per (op, N) plus peak RSS
delta. Run on a quiet box.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parseable_spark.catalog.manifest import FileStats, Manifest, Snapshot  # noqa: E402
from parseable_spark.query.counts import Bins  # noqa: E402

TIME_COL = "p_timestamp"


def _iso(minute: int) -> str:
    # minute index -> ISO string (28-day months, years roll over so
    # bounds stay strictly monotonic at any N); fast arithmetic fmt
    d, rem = divmod(minute, 1440)
    h, m = divmod(rem, 60)
    months, day = divmod(d, 28)
    year, mo = divmod(months, 12)
    return f"{2026 + year}-{mo + 1:02d}-{day + 1:02d}T{h:02d}:{m:02d}:00"


def synth_manifest(n: int) -> Manifest:
    # build the list first and hand it to the constructor — in-place
    # .append on man.files would bypass the index invalidation contract
    files = [
        FileStats(
            file_path=f"s3://bucket/stream/f{i}.parquet",
            num_rows=1000,
            file_size=1 << 20,
            # one-minute files: rows from :00 to :59, no NULL times
            columns={TIME_COL: {"min": _iso(i), "max": _iso(i)[:-2] + "59", "nulls": 0}},
        )
        for i in range(n)
    ]
    return Manifest(files=files)


def main() -> None:
    ns = [int(x) for x in sys.argv[1:]] or [10_000, 100_000, 1_000_000]
    out: dict[str, dict] = {}
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for n in ns:
        man = synth_manifest(n)
        mid = n // 2
        start, end = _iso(mid), _iso(mid + 60)  # 1-hour window mid-log
        hist_end = _iso(mid + 96)
        bins = Bins(datetime.fromisoformat(start), datetime.fromisoformat(hist_end), 48)

        def bin_of(s: str, bins=bins) -> int:
            return bins.index(datetime.fromisoformat(s))

        def t(fn, reps=5):
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return round(best * 1000, 2)

        # first call after a mutation pays the index build (sort +
        # prefix-max over all entries) — report it separately so the
        # steady-state numbers aren't mistaken for the cold cost
        t0 = time.perf_counter()
        man.prune_paths(TIME_COL, start, end)
        cold_ms = round((time.perf_counter() - t0) * 1000, 2)
        res = {
            "index_build_ms": cold_ms,
            "prune_1h_ms": t(lambda: man.prune_paths(TIME_COL, start, end)),
            "prune_rows": len(man.prune_paths(TIME_COL, start, end)),
            "histogram48_ms": t(
                lambda: man.histogram(TIME_COL, start, hist_end, 48, bin_of), 3
            ),
            "histogram48_answered": man.histogram(TIME_COL, start, hist_end, 48, bin_of)
            is not None,
            "total_rows_ms": t(man.total_rows),
        }
        # snapshot over n//60 manifests (one per synthetic hour)
        snap = Snapshot()
        for i in range(0, n, 60):
            snap.items.append(
                {
                    "manifest_path": f"m{i}.json",
                    "time_lower_bound": _iso(i),
                    "time_upper_bound": _iso(i + 60),
                    "events_ingested": 60_000,
                    "storage_size": 60 << 20,
                }
            )
        res["snap_range_ms"] = t(lambda: snap.manifests_for_range(start, end))
        shards = []
        for s in range(8):
            sh = Snapshot()
            sh.items = snap.items[s::8]
            shards.append(sh)
        res["snap_merge8_ms"] = t(lambda: Snapshot.merge(shards), 3)
        out[str(n)] = res
    rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    print(
        json.dumps(
            {"ops_ms": out, "peak_rss_mb": round((rss1 - rss0) / 1024, 1)}
        )
    )


if __name__ == "__main__":
    main()
