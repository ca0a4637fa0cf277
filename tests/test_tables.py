"""`tables.load_table` schema cache: Spark infers a table file's schema
once per file version and schema-conversion confs; later loads plan
against the cached StructType and start no Spark job."""

from __future__ import annotations

import os
import random
import shutil
import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, StringType

from parseable_spark import tables
from tests.conftest import SF_SMALL


def _load_counting_jobs(spark, sf_dir, name):
    """(DataFrame, number of Spark jobs the load started). The load runs
    on its own thread inside a fresh job group, so the caller's thread
    keeps no group."""
    sc = spark.sparkContext
    group = f"load-{uuid.uuid4().hex[:12]}"
    out = {}

    def run():
        sc.setJobGroup(group, "load_table")
        out["df"] = tables.load_table(spark, sf_dir, name)

    t = threading.Thread(target=run)
    t.start()
    t.join()
    return out["df"], len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(df.collect(), key=repr)


@pytest.mark.parametrize("name", ["events", "lineitem"])
def test_second_load_starts_no_job_and_matches_uncached(spark, tmp_path, name):
    shutil.copyfile(f"{SF_SMALL}/{name}.parquet", tmp_path / f"{name}.parquet")
    first, jobs1 = _load_counting_jobs(spark, str(tmp_path), name)
    second, jobs2 = _load_counting_jobs(spark, str(tmp_path), name)
    assert jobs1 >= 1  # the inference job the cache takes away
    assert jobs2 == 0

    uncached = spark.read.parquet(str(tmp_path / f"{name}.parquet"))
    if name == "events":  # the nanosAsLong -> TIMESTAMP_NTZ path
        uncached = tables.normalize_events(uncached)
        assert dict(second.dtypes)["ts"] == "timestamp_ntz"
    assert second.schema == uncached.schema == first.schema
    assert _rows(second) == _rows(uncached)


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert tables.load_table(spark, str(tmp_path), "t").dtypes == [("a", "bigint")]

    pq.write_table(
        pa.table({"a": ["x", "y", "z"], "b": pa.array([1.5, 2.5, 3.5])}), path
    )
    df, jobs = _load_counting_jobs(spark, str(tmp_path), "t")
    assert jobs >= 1
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert sorted(r.a for r in df.collect()) == ["x", "y", "z"]


def test_schema_conf_flip_misses_cache(spark, tmp_path):
    key = "spark.sql.parquet.binaryAsString"
    pq.write_table(pa.table({"blob": pa.array([b"ab", b"cd"], pa.binary())}),
                   tmp_path / "b.parquet")
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        tables.load_table(spark, str(tmp_path), "b")
        df, jobs = _load_counting_jobs(spark, str(tmp_path), "b")
        assert jobs == 0 and df.schema["blob"].dataType == BinaryType()

        spark.conf.set(key, "true")
        df, jobs = _load_counting_jobs(spark, str(tmp_path), "b")
        assert jobs >= 1
        assert df.schema["blob"].dataType == StringType()
        assert sorted(r.blob for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.set(key, before)


def test_spark_written_directory_is_not_cached(spark, tmp_path):
    spark.range(5).withColumnRenamed("id", "k").write.parquet(str(tmp_path / "d.parquet"))
    for _ in range(2):
        df = tables.load_table(spark, str(tmp_path), "d")
        assert sorted(r.k for r in df.collect()) == [0, 1, 2, 3, 4]
    d = os.path.abspath(tmp_path / "d.parquet")
    with tables._schema_lock:
        assert all(k[0] != d for k in tables._schema_cache)


def test_concurrent_loads_keep_cache_bounded_and_correct(spark, tmp_path, monkeypatch):
    """More loader threads than cores, with a bound of 2 so inserts and
    evictions interleave: every load returns its own file's schema and
    the cache never holds more than the bound."""
    monkeypatch.setattr(tables, "_SCHEMA_CACHE_MAX", 2)
    for i in range(4):
        pq.write_table(pa.table({f"c{i}": [i]}), tmp_path / f"t{i}.parquet")
    errors = []

    def worker(seed):
        try:
            for i in random.Random(seed).choices(range(4), k=6):
                cols = tables.load_table(spark, str(tmp_path), f"t{i}").columns
                if cols != [f"c{i}"]:
                    errors.append((i, cols))
                with tables._schema_lock:
                    if len(tables._schema_cache) > 2:
                        errors.append(len(tables._schema_cache))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
