"""Test-table loading and normalization.

The driver materializes TPC-H-ish tables plus `events`, `documents`,
`embeddings` under /root/testdata/sf*/ (TESTDATA.md). `events.ts` is a
parquet TIMESTAMP(NANOS) column which Spark cannot read natively; with
spark.sql.legacy.parquet.nanosAsLong=true it arrives as a raw
nanosecond epoch long and we rebuild a microsecond TIMESTAMP_NTZ with
pure (timezone-independent) arithmetic — bit-identical to DuckDB's
microsecond truncation of the same column.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.sql import functions as F

from .session import configure

# NTZ epoch arithmetic: avoids session-timezone dependence entirely.
_NS_TO_NTZ = (
    "timestampadd(MICROSECOND, (ts div 1000) % 1000000, "
    "timestampadd(SECOND, ts div 1000000000, TIMESTAMP_NTZ '1970-01-01 00:00:00'))"
)


def normalize_events(df: DataFrame) -> DataFrame:
    """Convert the nanosAsLong `ts` column back to TIMESTAMP_NTZ (µs)."""
    if dict(df.dtypes).get("ts") == "bigint":
        return df.withColumn("ts", F.expr(_NS_TO_NTZ))
    return df


# Session confs that change how Spark converts a parquet footer into a
# StructType: part of the schema-cache key, so flipping any of them
# re-infers instead of reusing a schema converted under other rules.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# At most this many (file version, confs) schemas are kept; the least
# recently used one is dropped first.
_SCHEMA_CACHE_MAX = 256
_schema_cache: OrderedDict[tuple, StructType] = OrderedDict()
_schema_lock = threading.Lock()


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """(abs path, inode, size, mtime_ns, schema confs) of a regular
    local file; None for anything else (directory, URI, failed stat)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    return (os.path.abspath(path), st.st_ino, st.st_size, st.st_mtime_ns) + confs


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    with _schema_lock:
        schema = _schema_cache.get(key)
        if schema is not None:
            _schema_cache.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)  # Spark infers the schema (one job)
    schema = df.schema
    with _schema_lock:
        _schema_cache[key] = schema
        while len(_schema_cache) > _SCHEMA_CACHE_MAX:
            _schema_cache.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read `<sf_dir>/<name>.parquet` (plus the `events` ts fix-up).

    Schema cache: a bare `spark.read.parquet` runs one Spark job to
    infer the schema from the footer on every call. Instead, the
    StructType Spark inferred the first time is kept and later loads
    plan with `spark.read.schema(cached).parquet(path)`, which starts
    no job. The key is the absolute path, the file's `st_ino`,
    `st_size` and `st_mtime_ns`, and the values of the session confs
    in `_SCHEMA_CONFS`; rewriting the file or flipping one of those
    confs is a miss and re-infers (a rewrite that keeps inode, size and
    mtime_ns all unchanged goes unnoticed). Only regular local files are
    cached: a directory-shaped `x.parquet`, a remote URI or a failed
    stat is read exactly as before. At most `_SCHEMA_CACHE_MAX`
    schemas are kept (least recently used evicted); the cache is
    shared by all threads and sessions of the process.
    """
    configure(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events(df)
    return df


def fan_out(df: DataFrame, key: str, max_bytes: int = 512 * 1024 * 1024) -> DataFrame:
    """Hash-repartition an under-parallel scan before CPU-heavy per-row
    work (optimization guide §2.5, input skew: a single-row-group
    parquet file is unsplittable, so a small-file table scans as ONE
    task no matter how many cores the session has — every regex/HOF in
    the projection then serializes on one core).

    Deliberately conservative so it is a NO-OP at warehouse scale and
    only fires on the provably-tiny-local-scan case:
    - input must be a plain file scan with fewer files than
      defaultParallelism (many-file tables already parallelize);
    - every file must be local and stat-able (object-store inputs are
      the planner's split problem, not ours);
    - total bytes must be small (default ≤ 512 MiB) so the repartition
      shuffle itself is trivially cheap — larger inputs get real
      parallelism from maxPartitionBytes splits.

    Hash-partitions on `key` (a unique row id spreads evenly) rather
    than round-robin: keyed repartition skips the sort-before-
    repartition pass and is deterministic under task retry.

    Every decline path degrades to returning `df` unchanged (safe
    no-op); declines are debug-logged so an under-parallel scan in an
    unexpected environment is diagnosable (ADVICE r11). File URIs are
    percent-decoded before stat'ing so local paths with encoded
    characters don't spuriously decline.
    """
    import logging as _logging
    import os as _os
    from urllib.parse import unquote as _unquote

    log = _logging.getLogger(__name__)
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        log.debug("fan_out declined: inputFiles() unavailable for this plan")
        return df
    if not files or len(files) >= target:
        if files:
            log.debug(
                "fan_out declined: %d files >= parallelism %d",
                len(files), target,
            )
        return df
    total = 0
    for f in files:
        p = _unquote(f.removeprefix("file:"))
        if not _os.path.isfile(p):
            log.debug("fan_out declined: non-local/unstatable input %s", f)
            return df
        total += _os.path.getsize(p)
    if total > max_bytes:
        log.debug(
            "fan_out declined: %d bytes > max_bytes %d", total, max_bytes
        )
        return df
    return df.repartition(target, F.col(key))
