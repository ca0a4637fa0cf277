"""Seeded tables for the ``headline`` workload.

Everything here is a pure function of the seed (numpy ``default_rng``),
so one seed always yields byte-identical inputs and the engine under
test only ever sees the generated data.

``write_tables`` writes the ten parquet tables the headline queries
read, shaped like the TPC-H-ish test tables (same columns, types, value
domains and planted near-duplicate documents) at a small scale.
"""

from __future__ import annotations

import os

import numpy as np

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)

# row counts of the headline tables (about sf0.005 of the TPC-H shape)
SCALE = {
    "customer": 750,
    "supplier": 50,
    "part": 1000,
    "orders": 7500,
    "lineitem": 30000,
    "events": 5000,
    "documents": 500,
    "embeddings": 500,
}
EMB_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _words(i: int) -> int:
    """Word count of the i-th document: 10..99 in a fixed order, so
    every seed yields the same length mix and only the words differ
    (byte volumes then barely move from seed to seed)."""
    return 10 + (i * 37) % 90


def _docs(rng, n: int, start_id: int = 0, dup_every: int = 20) -> list[tuple[int, str]]:
    """Random-vocabulary documents; every ``dup_every``-th one (after the
    first few) repeats an earlier text with ``" dup"`` appended — the
    near-duplicate plant of the reference test tables."""
    out: list[tuple[int, str]] = []
    for i in range(n):
        if i >= 10 and i % dup_every == 7:
            out.append((start_id + i, out[i - 7][1] + " dup"))
            continue
        out.append((start_id + i, " ".join(rng.choice(VOCAB, _words(i)))))
    return out


def _unit_rows(rng, n: int, labels: np.ndarray, centers: np.ndarray) -> np.ndarray:
    v = centers[labels] + rng.normal(0.0, 0.6, (n, centers.shape[1]))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for all ten tables; returns
    the row count of each."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SCALE
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n["customer"],
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "pipe", "nut"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]
            ),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 1),
        }
    )
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n["orders"]).astype("timedelta64[D]")
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]
            ),
        }
    )
    lo = rng.integers(0, n["orders"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": lo.astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": (
                odate[lo] + rng.integers(1, 122, n["lineitem"]).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n["events"]))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n["events"]).astype(np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n["events"]),
            "value": _money(rng, 0.01, 490.0, n["events"]),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }
    )
    docs = _docs(rng, n["documents"])
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.array([d for d, _ in docs], dtype=np.int64),
            "text": [s for _, s in docs],
            "lang": rng.choice(LANGS, n["documents"], p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n["documents"])],
            "n_chars": np.array([len(s) for _, s in docs], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n["embeddings"])
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = _unit_rows(rng, n["embeddings"], labels, centers)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    for name, df in t.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in t.items()}
