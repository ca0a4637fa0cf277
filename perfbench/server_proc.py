"""Server process of the ``logs_http`` workload.

    python3 perfbench/server_proc.py STORAGE_ROOT TRACE [SPANS_JSON]

Starts ``ParseableAPI`` (basic auth on, no maintenance thread) behind
``serve_background`` on a free localhost port and prints
``READY <url>``. Maintenance runs only when the workload asks for it,
one command per stdin line, each answered by one JSON line on stdout:

- ``sync``: ``run_sync()``; ``compact``: ``run_compaction()``
- ``mark``: start (first call) or end (second call) of the measured
  phase; per-layer metrics cover only spans that start in between
- ``exit``: stop the server and Spark; with TRACE=1 the reply carries
  the per-layer metrics, computed from spans recorded in this process,
  and the spans are written to SPANS_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

AUTH = ("perfbench", "perfbench-pass")


def _instrument(tracer) -> None:
    """Spans and counters around the server-side public functions."""
    from parseable_spark import server
    from parseable_spark.catalog import manifest
    from parseable_spark.query import counts, engine
    from parseable_spark.storage import store

    api = server.ParseableAPI
    tracer.wrap(api, "query", "server.query", after=_rows_out)
    tracer.wrap(api, "counts", "server.counts")
    tracer.wrap(api, "ingest", "server.ingest")
    tracer.wrap(engine, "extract_table_names", "query.parse")
    tracer.wrap(engine.QueryEngine, "query", "query.analyze")
    tracer.wrap(engine.QueryEngine, "run_with_deadline", "query.exec")
    tracer.wrap(counts, "fast_count", "query.fast_count", after=_fast_count)
    tracer.wrap(manifest.Manifest, "prune_paths", "catalog.prune", after=_pruned)
    tracer.wrap(manifest.Manifest, "save", "catalog.commit")
    tracer.wrap(manifest.Snapshot, "save", "catalog.commit")
    tracer.wrap(store.StreamStore, "scan", "storage.scan")
    tracer.wrap(store, "prepare_batch", "ingest.prepare", after=_new_fields)

    def staging_df(orig):
        def wrapped(self):
            cached = self._staging_cache
            with tracer.span("storage.staging_df"):
                df = orig(self)
            if df is not None:
                tracer.add("storage.staging_df_calls")
                tracer.add("storage.staged_batches", len(self._staging))
                if cached is not None and df is cached[1]:
                    tracer.add("storage.staging_memo_hits")
            return df

        return wrapped

    def flush(orig):
        def wrapped(self, *a, **k):
            batches = len(self._staging)
            files = {f.file_path: f.file_size for f in self.manifest.files}
            with tracer.span("storage.flush"):
                n = orig(self, *a, **k)
            if n:
                new = [f for f in self.manifest.files if f.file_path not in files]
                tracer.add("storage.flushes")
                tracer.add("storage.flush_batches", batches)
                tracer.add("storage.files_written", len(new))
                tracer.add("storage.flush_write_bytes", sum(f.file_size for f in new))
            return n

        return wrapped

    tracer.patch(store.StreamStore, "staging_df", staging_df)
    tracer.patch(store.StreamStore, "flush", flush)
    tracer.wrap(store.StreamStore, "compact", "storage.compact")


def _rows_out(tracer, args, kwargs, result) -> None:
    if isinstance(result, list):
        tracer.add("query.rows_out", len(result))
        tracer.add("query.row_reads")


def _fast_count(tracer, args, kwargs, result) -> None:
    tracer.add("query.fast_count_calls")
    if result is not None:
        tracer.add("query.fast_count_hits")


def _pruned(tracer, args, kwargs, result) -> None:
    self = args[0]
    tracer.add("catalog.prune_files", len(self.files))
    tracer.add("catalog.prune_kept", len(result))


def _new_fields(tracer, args, kwargs, result) -> None:
    if result.is_first:
        tracer.add("ingest.new_fields")


def layer_metrics(
    tracer, marks: list[tuple[float, dict]], compact_wchar: int, eventlog: str
) -> dict:
    """The server-side per-layer metrics over the measured phase: spans
    starting between the two marks and counter growth between them,
    plus the compaction step (which the workload runs after it)."""
    from layers import spark_layers
    from spans import spark_counters
    from stats import median

    (t0, c0), (t1, c1) = marks
    c = defaultdict(float, {k: c1[k] - c0.get(k, 0.0) for k in c1})
    inside = [s for s in tracer.spans if t0 <= s["start"] <= t1]

    def durations(*names: str) -> list[float]:
        return [1e3 * (s["end"] - s["start"]) for s in inside if s["name"] in names]

    def med(*names: str) -> float:
        xs = durations(*names)
        return median(xs) if xs else 0.0

    # the HTTP handler parses the SQL once before calling
    # ParseableAPI.query, so parse spans are counted per query call,
    # not only those nested inside it
    queries = sum(1 for s in inside if s["name"] == "server.query")
    parses = sum(1 for s in inside if s["name"] == "query.parse")
    waits = tracer.first_child_wait_ms({"server.query", "server.counts", "server.ingest"}, inside)
    flushes = max(1.0, c["storage.flushes"])
    out = {
        "server.read_ms": med("server.query", "server.counts"),
        "server.ingest_ms": med("server.ingest"),
        "server.lock_wait_ms": median(waits) if waits else 0.0,
        "query.parse_calls_per_read": parses / max(1, queries),
        "query.analyze_ms": med("query.analyze"),
        "query.exec_ms": med("query.exec"),
        "query.rows_out": c["query.rows_out"] / max(1.0, c["query.row_reads"]),
        "query.fast_count_hit_ratio": c["query.fast_count_hits"] / max(1.0, c["query.fast_count_calls"]),
        "catalog.prune_ms": med("catalog.prune"),
        "catalog.files_kept_ratio": c["catalog.prune_kept"] / max(1.0, c["catalog.prune_files"]),
        "catalog.commit_ms": med("catalog.commit"),
        "storage.scan_ms": med("storage.scan"),
        "storage.staging_df_ms": med("storage.staging_df"),
        "storage.staged_batches": c["storage.staged_batches"] / max(1.0, c["storage.staging_df_calls"]),
        "storage.staging_memo_hit_ratio": c["storage.staging_memo_hits"]
        / max(1.0, c["storage.staging_df_calls"]),
        "storage.flush_ms": med("storage.flush"),
        "storage.flush_batches": c["storage.flush_batches"] / flushes,
        "storage.flush_write_mb": c["storage.flush_write_bytes"] / flushes / 2**20,
        "storage.files_written": c["storage.files_written"],
        "storage.compact_ms": sum(
            1e3 * (s["end"] - s["start"]) for s in tracer.by_name("storage.compact") if s["start"] > t1
        ),
        "storage.compact_rewrite_mb": compact_wchar / 2**20,
        "ingest.prepare_ms": med("ingest.prepare"),
        "ingest.new_fields": c["ingest.new_fields"],
    }
    off = tracer.epoch_offset
    intervals = [
        ("read" if s["name"] != "storage.flush" else "flush", off + s["start"], off + s["end"])
        for s in inside
        if s["name"] in ("server.query", "server.counts", "storage.flush")
    ]
    out.update(spark_layers(spark_counters(eventlog, intervals)))
    return out


def main() -> int:
    root, trace = sys.argv[1], sys.argv[2] == "1"
    from harness import java_child, proc_io, stop_spark
    from parseable_spark.server import ParseableAPI, serve_background
    from parseable_spark.session import get_spark
    from spans import NullTracer, Tracer
    from stats import wchar_delta

    tracer = Tracer() if trace else NullTracer()
    if trace:
        _instrument(tracer)
    spark = get_spark("perfbench-server")
    api = ParseableAPI(spark, root, auth=AUTH)
    srv, url = serve_background(api)
    jvm = java_child(os.getpid(), timeout=5.0)
    print(f"READY {url}", flush=True)
    marks: list[tuple[float, dict]] = []
    compact_wchar = 0
    for line in sys.stdin:
        cmd = line.strip()
        t0 = time.perf_counter()
        if cmd == "sync":
            reply = {"rows": api.run_sync()}
        elif cmd == "compact":
            io0 = proc_io(jvm)
            reply = {"groups": api.run_compaction()}
            compact_wchar += wchar_delta(io0, proc_io(jvm))
        elif cmd == "mark":
            marks.append((t0, dict(tracer.counters)))
            reply = {}
        elif cmd == "exit":
            srv.shutdown()
            srv.server_close()
            stop_spark(spark)
            reply = {}
            if trace:
                eventlog = os.path.join(os.path.dirname(root), "eventlog")
                reply["layers"] = layer_metrics(tracer, marks, compact_wchar, eventlog)
                reply["spans"] = tracer.summary()
                reply["span_count"] = len(tracer.spans)
                tracer.dump(sys.argv[3])
            print(json.dumps(reply), flush=True)
            return 0
        else:
            reply = {"error": f"unknown command {cmd!r}"}
        reply["seconds"] = time.perf_counter() - t0
        print(json.dumps(reply), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
