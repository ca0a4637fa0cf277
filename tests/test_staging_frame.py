"""Staged batches become one DataFrame: one createDataFrame over every
staged row, whatever the number of batches, with the stream's full
schema, and flush writes that same frame."""

from __future__ import annotations

from datetime import datetime, timedelta

from parseable_spark.ingest.events import StreamConfig
from parseable_spark.storage.store import StreamStore

BASE = datetime(2026, 8, 10, 9, 0)
N_BATCHES = 48


def _rdd_leaves(df) -> int:
    """Leaves of the optimised plan that scan an RDD (one per
    createDataFrame over a Python list)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(
        leaves.apply(i).nodeName().endswith("RDD") for i in range(leaves.length())
    )


def _rows(df) -> list[dict]:
    return sorted(
        (r.asDict() for r in df.collect()), key=lambda r: (r["p_timestamp"], r["i"])
    )


def test_staged_batches_build_one_frame(spark, tmp_path):
    """48 one-minute batches of 5 rows, a new field every 4th batch:
    one RDD leaf, earlier rows read NULL for later fields, and the
    flush writes one file per minute holding the same rows."""
    store = StreamStore(spark, str(tmp_path), StreamConfig(name="st"))
    fields = [f"f{k}" for k in range(N_BATCHES // 4)]
    want = []
    for m in range(N_BATCHES):
        ts = BASE + timedelta(minutes=m)
        new = fields[m // 4]  # batch m first carries field f{m//4} when m % 4 == 0
        body = [{"i": i, new: f"{m}-{i}"} for i in range(5)]
        store.ingest(body, p_timestamp=ts)
        want += [
            {"p_timestamp": ts, "i": i, **{f: f"{m}-{i}" if f == new else None for f in fields}}
            for i in range(5)
        ]
    want.sort(key=lambda r: (r["p_timestamp"], r["i"]))

    df = store.staging_df()
    assert _rdd_leaves(df) == 1
    got = _rows(df)
    assert [{k: r[k] for k in want[0]} for r in got] == want
    # a row of the first batch reads NULL for the last batch's field
    assert got[0][fields[-1]] is None and got[-1][fields[0]] is None

    assert store.flush() == N_BATCHES * 5
    assert len(store.manifest.files) == N_BATCHES
    assert store.staging_df() is None
    assert _rows(store.scan()) == got
