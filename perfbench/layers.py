"""Per-layer metrics of the traced run, and the prediction each carries.

Every entry names the repository module it measures, the end-to-end
metric it should move and the workload it should move it on, and the
workload where it must not move (its layer is not on that path).
Later changes cite these names when they claim which layer moved.
``BENCHMARK.json``'s ``per_layer`` list is this table, in this order.
"""

from __future__ import annotations

# the headline queries the headline workload runs (bench.HEADLINE has 16;
# a run has room for these seven: the scan-aggregate noise control,
# the three function families, the broadcast join, the deployable q25
# dedup plan and the text features)
QUERIES = [
    "q01_pricing_summary",
    "q05_date_bin_histogram",
    "q08_asof_join",
    "q12_local_supplier_volume",
    "q25_dedup_minhash_production",
    "q31_text_features",
    "q34_sessionization",
]

H, L = "headline", "logs_http"

# (name, unit, better, moves, on, not_on, what it measures)
LAYERS: list[tuple[str, str, str, str, str, str, str]] = []
for _q in QUERIES:
    LAYERS += [
        (f"queries.{_q}.build_ms", "ms", "lower", "ops_per_s p50_ms", H, L,
         "registry function returning its DataFrame: planning plus any eager collect"),
        (f"queries.{_q}.exec_ms", "ms", "lower", "ops_per_s p50_ms read_mb_per_op", H, L,
         "the noop write of that DataFrame"),
    ]
LAYERS += [
    ("llm.minhash_ms", "ms", "lower", "ops_per_s", H, L,
     "dedup.minhash_lsh_candidates inside the measured q25 build"),
    ("llm.jaccard_ms", "ms", "lower", "ops_per_s", H, L,
     "dedup.jaccard_verify inside the measured q25 build"),
]
for _kind, _on, _what in (
    ("pass", H, "the measured headline pass"),
    ("read", L, "one logs_http read"),
    ("flush", L, "one run_sync"),
):
    LAYERS += [
        (f"spark.{_kind}_jobs", "count", "lower", "ops_per_s p50_ms", _on, "",
         f"Spark jobs submitted during {_what}"),
        (f"spark.{_kind}_task_ms", "ms", "lower", "ops_per_s p50_ms", _on, "",
         "summed executor run time of those jobs' tasks"),
        (f"spark.{_kind}_shuffle_mb", "MB", "lower", "write_mb_per_op ops_per_s", _on, "",
         "shuffle bytes written by those jobs"),
        (f"spark.{_kind}_spill_mb", "MB", "lower", "write_mb_per_op ops_per_s", _on, "",
         "memory plus disk spill of those jobs"),
    ]
LAYERS += [
    ("server.read_ms", "ms", "lower", "p50_ms ops_per_s", L, H,
     "ParseableAPI.query and ParseableAPI.counts"),
    ("server.ingest_ms", "ms", "lower", "ops_per_s ingest_p50_ms", L, H,
     "ParseableAPI.ingest"),
    ("server.lock_wait_ms", "ms", "lower", "p50_ms ops_per_s", L, H,
     "entering a server call to its first child span (API lock wait)"),
    ("query.parse_calls_per_read", "count", "lower", "p50_ms", L, H,
     "extract_table_names calls per read"),
    ("query.analyze_ms", "ms", "lower", "p50_ms", L, H,
     "QueryEngine.query, the window holding _VIEW_LOCK"),
    ("query.exec_ms", "ms", "lower", "p50_ms", L, H,
     "QueryEngine.run_with_deadline"),
    ("query.rows_out", "count", "lower", "p50_ms", L, H,
     "result rows per /api/v1/query read"),
    ("query.fast_count_hit_ratio", "ratio", "higher", "p50_ms", L, H,
     "share of fast_count calls answered from the manifest"),
    ("catalog.prune_ms", "ms", "lower", "p50_ms", L, H,
     "Manifest.prune_paths"),
    ("catalog.files_kept_ratio", "ratio", "lower", "read_mb_per_op p50_ms", L, H,
     "share of manifest files prune_paths keeps"),
    ("catalog.commit_ms", "ms", "lower", "flush_s", L, H,
     "Manifest.save plus Snapshot.save"),
    ("storage.scan_ms", "ms", "lower", "p50_ms read_mb_per_op", L, H,
     "StreamStore.scan"),
    ("storage.staging_df_ms", "ms", "lower", "fresh_p50_ms", L, H,
     "StreamStore.staging_df"),
    ("storage.staged_batches", "count", "lower", "fresh_p50_ms", L, H,
     "staged batches a staging_df call unions (mean)"),
    ("storage.staging_memo_hit_ratio", "ratio", "higher", "fresh_p50_ms", L, H,
     "share of staging_df calls served from its memo"),
    ("storage.flush_ms", "ms", "lower", "flush_s", L, H,
     "StreamStore.flush"),
    ("storage.flush_batches", "count", "lower", "flush_s", L, H,
     "staged batches per flush (mean)"),
    ("storage.flush_write_mb", "MB", "lower", "write_mb_per_op stored_bytes_ratio", L, H,
     "parquet bytes a flush adds to the manifest (mean)"),
    ("storage.files_written", "count", "lower", "flush_s p50_ms", L, H,
     "parquet files flushes add to the manifest (total)"),
    ("storage.compact_ms", "ms", "lower", "tail_ms", L, H,
     "StreamStore.compact"),
    ("storage.compact_rewrite_mb", "MB", "lower", "stored_bytes_ratio", L, H,
     "parquet bytes compaction writes"),
    ("ingest.prepare_ms", "ms", "lower", "ingest_p50_ms", L, H,
     "prepare_batch"),
    ("ingest.new_fields", "count", "lower", "ingest_p50_ms", L, H,
     "batches that added fields to a stream schema"),
    ("trace.spans", "count", "lower", "", H + " " + L, "",
     "spans recorded (the tracing's own volume)"),
]
NAMES = [row[0] for row in LAYERS]
UNITS = {row[0]: row[1] for row in LAYERS}


def report(values: dict[str, float], tracer) -> dict[str, dict]:
    """Every per-layer metric, 0 where the workload does not reach the
    layer."""
    values = dict(values)
    values.setdefault("trace.spans", len(tracer.spans))
    unknown = set(values) - set(NAMES)
    if unknown:
        raise KeyError(f"per-layer metrics missing from the table: {sorted(unknown)}")
    return {n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]} for n in NAMES}


def spark_layers(counters: dict[str, dict[str, float]]) -> dict[str, float]:
    """``spark.<kind>_*`` per operation of each kind, from
    ``spans.spark_counters``."""
    out = {}
    for kind, c in counters.items():
        ops = max(1, c["ops"])
        for k in ("jobs", "task_ms", "shuffle_mb", "spill_mb"):
            out[f"spark.{kind}_{k}"] = c[k] / ops
    return out
