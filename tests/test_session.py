"""Session defaults that depend on the host, and the listing threshold
that remote roots put back."""

from __future__ import annotations

import pytest

from parseable_spark import session

GIB = 2**30


@pytest.mark.parametrize(
    "ram, want",
    [
        (15 * GIB, "7680m"),  # half of a 15 GiB host, not a 16g heap cap
        (32 * GIB, "16g"),
        (256 * GIB, "16g"),
        (None, "16g"),  # RAM unknown: the old default
    ],
)
def test_driver_memory_fits_the_host(monkeypatch, ram, want):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_physical_ram_bytes", lambda: ram)
    assert session.driver_memory() == want


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.setattr(session, "_physical_ram_bytes", lambda: 4 * GIB)
    assert session.driver_memory() == "2g"


def test_remote_roots_keep_parallel_listing():
    from parseable_spark.storage.azureblob import AzureBlobConfig, abfs_spark_conf
    from parseable_spark.storage.objectstore import S3Config, s3a_spark_conf

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert int(session.RUNTIME_CONFS[key]) > 10**6  # local: the manifest lists
    s3 = s3a_spark_conf(S3Config("https://s3.example", "b"))
    abfs = abfs_spark_conf(AzureBlobConfig("https://a.example", "acct", "c"))
    assert s3[key] == abfs[key] == "32"  # Spark's default
