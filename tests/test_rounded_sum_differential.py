"""Rounded sums do not depend on summation order.

One input, several executions, equal results: every registry query
with a rounded SUM runs over the same tables as loaded, after
``repartition(k)`` and after a seeded ``orderBy(rand(s))`` of every
table it loads, and the collected rows must be byte-equal (float
``repr`` is exact). The tables make a double SUM order-sensitive on
purpose: every summed value is an odd multiple of 0.005, so a group
with an odd row count sums to exactly x.xx5, the tie that a double SUM
rounds up or down depending on the order its terms were added.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parseable_spark.queries import registry, relational
from tests.conftest import SF_SMALL

ROUNDED_SUM_QUERIES = [
    "q01_pricing_summary",
    "q05_date_bin_histogram",
    "q11_shipping_priority",
    "q12_local_supplier_volume",
    "q22_grouping_sets",
    "q45_theta_join",
    "q47_window_frames",
]
ORDERINGS = {
    "as_loaded": lambda df: df,
    "repartition3": lambda df: df.repartition(3),
    "repartition7": lambda df: df.repartition(7),
    "rand11": lambda df: df.orderBy(F.rand(11)),
    "rand12": lambda df: df.orderBy(F.rand(12)),
}
_TIE_COLUMNS = {"lineitem": ("l_quantity", "l_extendedprice"), "events": ("value",)}


@pytest.fixture(scope="module")
def tie_tables(tmp_path_factory):
    """The sf0.001 tables with every summed column replaced by odd
    multiples of 0.005 (seeded), and no discount or tax, so each
    revenue/charge term is the price itself. About 2 % of event values
    are 201 times larger, so q47's |z| > 2.5 gate keeps rows."""
    rng = np.random.default_rng(61)
    out = tmp_path_factory.mktemp("ties")
    for name in ("region", "nation", "customer", "supplier", "orders", "lineitem", "events"):
        table = pq.read_table(f"{SF_SMALL}/{name}.parquet")
        for col in _TIE_COLUMNS.get(name, ()):
            odd = 2 * rng.integers(100, 2_000_000, table.num_rows) + 1
            if name == "events":
                # rare outliers, still odd multiples, give q47's z-score
                # gate rows to keep
                odd[rng.random(table.num_rows) < 0.02] *= 201
            table = table.set_column(
                table.schema.get_field_index(col), col, pa.array(odd * 0.005)
            )
        if name == "lineitem":
            for col in ("l_discount", "l_tax"):
                table = table.set_column(
                    table.schema.get_field_index(col),
                    col,
                    pa.array(np.zeros(table.num_rows)),
                )
        pq.write_table(table, out / f"{name}.parquet")
    return str(out)


@pytest.mark.parametrize("name", ROUNDED_SUM_QUERIES)
def test_rounded_sums_equal_under_any_order(spark, tie_tables, monkeypatch, name):
    fn = registry()[name].fn
    load = relational.load_table
    results = {}
    for label, reorder in ORDERINGS.items():
        monkeypatch.setattr(
            relational,
            "load_table",
            lambda s, d, t, _r=reorder: _r(load(s, d, t)),
        )
        results[label] = sorted(repr(r) for r in fn(spark, tie_tables).collect())
    assert results["as_loaded"], name
    for label, rows in results.items():
        assert rows == results["as_loaded"], label
