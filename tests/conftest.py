from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
from collections import namedtuple
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from parseable_spark.session import get_spark

    s = get_spark("tests", master="local[8]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    tables = "region nation customer supplier part orders lineitem events documents embeddings".split()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con


_DiskUsage = namedtuple("_DiskUsage", "total used free")


@pytest.fixture
def fake_volume(monkeypatch):
    """A 1 TiB volume, 10% full, seen by every `shutil.disk_usage` call
    during the test, so the hot-tier disk-capacity gate
    (`storage.hottier.validate_disk_capacity`) never depends on how full
    the host disk is. Set `.used` / `.free` to model another volume."""
    vol = SimpleNamespace(total=1 << 40, used=1 << 37, free=(1 << 40) - (1 << 37))
    monkeypatch.setattr(
        shutil, "disk_usage", lambda path: _DiskUsage(vol.total, vol.used, vol.free)
    )
    return vol


@contextlib.contextmanager
def _host_zone(tz: str):
    """The Python process's local zone (what PySpark's Row datetimes and
    datetime literals follow); the JVM and the session's UTC are
    untouched."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.fixture
def host_zone():
    """``with host_zone("America/New_York"): ...`` runs the block with
    the Python process in that local zone."""
    return _host_zone


# Slow-tier marking: tests/slow_tests.txt lists the node IDs measured >= 10 s
# (full-suite --durations=0 run, r12). They get @pytest.mark.slow at collection
# time; pytest.ini's `-m "not slow"` addopts keeps them out of the default tier
# so the whole-suite gate finishes inside its window. Run them with `-m slow`.
# Entries that no longer collect are ignored (no failure on rename/removal).
_SLOW_MANIFEST = Path(__file__).resolve().parent / "slow_tests.txt"


def pytest_collection_modifyitems(config, items):
    try:
        slow_ids = {
            ln.strip()
            for ln in _SLOW_MANIFEST.read_text().splitlines()
            if ln.strip() and not ln.startswith("#")
        }
    except OSError:
        return
    for item in items:
        nodeid = item.nodeid.replace("\\", "/")
        if nodeid in slow_ids or f"tests/{nodeid}" in slow_ids:
            item.add_marker(pytest.mark.slow)
