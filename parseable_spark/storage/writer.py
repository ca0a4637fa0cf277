"""Parquet sink — partitioned, time-sorted, stats-rich files.

Reference layout (SURVEY.md §1.5): object-store prefixes
`stream/date=YYYY-MM-DD/hour=HH/minute=MM/...parquet`
(src/utils/time.rs:215-229), files sorted descending by the time
column (writer props src/parseable/streams.rs:756-760), OTel-metrics
streams sorted (metric_name ASC, time DESC) with a bloom filter on
metric_name (:725-754, 791-843).

Spark mapping: partitionBy(date,hour,minute[,custom...]) +
sortWithinPartitions + parquet writer options. Hive-style partition
dirs give Spark native partition pruning on the same predicates the
reference prunes via manifests. Compression zstd (the reference's
lz4_raw has no Hadoop writer equivalent; zstd matches its
scan-speed/size point closest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARTITION_COLS = ("date", "hour", "minute")


def with_partition_columns(
    df: DataFrame, time_col: str = "p_timestamp", granularity: str = "minute"
) -> DataFrame:
    """Derive date/hour[/minute] partition columns from the time column
    (1-minute granularity default — reference src/lib.rs:80-83)."""
    out = df.withColumn("date", F.date_format(time_col, "yyyy-MM-dd")).withColumn(
        "hour", F.date_format(time_col, "HH")
    )
    if granularity == "minute":
        out = out.withColumn("minute", F.date_format(time_col, "mm"))
    return out


def write_otel_metrics_batch(
    df: DataFrame,
    path: str,
    time_col: str = "p_timestamp",
    mode: str = "append",
) -> None:
    """OTel-metrics write profile: files sorted (metric_name ASC, time
    DESC) with a bloom filter on metric_name (reference
    src/parseable/streams.rs:725-754, 791-843) — a point query for one
    metric then skips whole row groups via the bloom and reads the
    matching ones in metric order."""
    write_stream_batch(
        df,
        path,
        time_col=time_col,
        sort_cols=[F.asc("metric_name"), F.desc(time_col)],
        bloom_filter_cols=["metric_name"],
        mode=mode,
    )


def write_stream_batch(
    df: DataFrame,
    path: str,
    time_col: str = "p_timestamp",
    custom_partitions: list[str] | None = None,
    sort_cols: list | None = None,
    bloom_filter_cols: list[str] | None = None,
    granularity: str = "minute",
    mode: str = "append",
) -> None:
    """Append a batch as partitioned, sorted parquet. The rows are first
    hash-partitioned by the partition columns, so each directory is
    written by one task as one file (adaptive execution coalesces whole
    hash partitions, never splits one)."""
    parts = list(PARTITION_COLS if granularity == "minute" else PARTITION_COLS[:2])
    parts += custom_partitions or []
    out = with_partition_columns(df, time_col, granularity).repartition(*parts)
    # descending time inside each file (streams.rs:756-760); OTel
    # metrics pass [metric_name asc, time desc] instead (:725-754).
    # Partition cols lead the sort so the dynamic-partition writer sees
    # its required ordering satisfied and does NOT insert its own
    # (unstable) sort, which would scramble the within-file order.
    out = out.sortWithinPartitions(
        *[F.col(c) for c in parts], *(sort_cols or [F.desc(time_col)])
    )
    writer = out.write.mode(mode).option("compression", "zstd")
    for c in bloom_filter_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.partitionBy(*parts).parquet(path)
