"""SparkSession construction and runtime configuration.

Mirrors the reference engine's session tuning (SURVEY.md §4.3,
reference src/query/mod.rs:212-277, src/cli.rs:221-229, 466-491) with
Spark-native equivalents: AQE instead of fixed target_partitions,
unified memory manager instead of a fixed memory pool.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs that the engine depends on. Applied both when
# we build our own session and when the caller hands us one (the
# driver's verify harness builds its own SparkSession).
RUNTIME_CONFS = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's
    # vectorized reader rejects; read as long and convert ourselves
    # (see tables.normalize_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime shuffle-partition coalescing and skew-join handling
    # are essential at 100 TB; harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # deterministic timestamp semantics vs the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # point-lookup IN-lists (dedup_index.partitioned_chunked_isin) must
    # push per-value parquet predicates, not the default min/max-range
    # fallback that prunes nothing for hash-distributed keys; chunks
    # are ≤512 values since r10 (whole-stage codegen's split-method
    # call chain overflows the executor stack ~1k literals in a fused
    # scan stage — measured, SCALE.md r10; parquet predicate
    # conversion itself overflows ~1.5k — r7). The threshold stays at
    # 1001 so an operator-tuned larger chunk still pushes. Engine-wide
    # and documented here rather than mutated ad hoc per probe (r7).
    "spark.sql.parquet.pushdown.inFilterThreshold": "1001",
    # NOT set: spark.sql.parquet.aggregatePushdown — it only activates
    # on the V2 parquet source (parquet is in useV1SourceList by
    # default), and flipping the whole engine to V2 changes
    # pushdown/stats behavior everywhere for a win the manifest
    # COUNT(*) fast path already covers. Measured inert on V1, reverted.
    # The manifest is the listing: a StreamStore scan hands Spark the
    # exact file paths the manifest pruned, all local. Above this
    # threshold (Spark's default is 32 paths) Spark re-lists them in a
    # Spark job with one task per path, at DataFrame creation: 0.17 MB
    # of JVM read I/O to plan an 80- or a 40-file window, against
    # 0.01-0.015 MB listed on the driver (Spark 4.1, local[4]). Remote
    # roots put the default back (objectstore.s3a_spark_conf,
    # azureblob.abfs_spark_conf, storage/boot.py's GCS conf), where
    # per-path round trips make the parallel listing pay.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "2147483647",
}

# Spark's own default for the listing threshold above; the remote conf
# builders return it so an object-store root keeps parallel listing.
REMOTE_LISTING_CONF = {"spark.sql.sources.parallelPartitionDiscovery.threshold": "32"}


def default_parallelism() -> int:
    """SPARK_GRAFT_CPUS, clamped sane: an empty/garbage value (a wrapper
    exporting an unset var) or 0 must not brick every get_spark() call
    with ValueError / local[0] (review finding)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "")
    try:
        n = int(raw)
    except ValueError:
        n = os.cpu_count() or 8
    return max(1, n) if n > 0 else (os.cpu_count() or 8)


def _physical_ram_bytes() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # no sysconf / unknown
        return None


def driver_memory() -> str:
    """SPARK_GRAFT_DRIVER_MEM, else 16g capped at half the host's
    physical RAM: a heap cap above the RAM can never bind before the
    host runs out of memory, and the other half is left to the Python
    workers, the page cache and any other JVM on the host."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = _physical_ram_bytes()
    if ram is None or ram // 2 >= 16 * 2**30:
        return "16g"
    return f"{max(1, ram // 2 // 2**20)}m"


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-provided)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build; engine degrades gracefully
    return spark


def get_spark(app_name: str = "parseable-spark", master: str | None = None) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # one shuffle partition per core locally; a real cluster would
        # size this to ~2-3x total cores (AQE coalesces the excess)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
