"""Counts API — histogram bins + top-K grouped counts as generated SQL.

Reference: src/query/mod.rs:665-735 builds
  SELECT DATE_BIN(...) AS start_time, COUNT(*) ... GROUP BY start_time
and, with a group_by field, a 3-CTE query (grouped_counts, top_groups,
null-safe inner join back). We generate the same shapes in Spark SQL;
DATE_BIN becomes anchored floor arithmetic (functions.date_bin_sql).

``Bins`` is the /api/v1/counts density rule: one bin index, evaluated in
Python for a metadata answer and in Spark for a scan.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions import date_bin_sql

_US = timedelta(microseconds=1)

# bin tiers mirror the reference's interval selection
# (src/utils/time.rs:68-94): 1m / 5m / 1h / 1d depending on range width.
_TIERS = [(60 * 60, 60), (6 * 3600, 300), (3 * 86400, 3600), (None, 86400)]


def pick_bin_seconds(range_seconds: int) -> int:
    for ceiling, bin_s in _TIERS:
        if ceiling is None or range_seconds <= ceiling:
            return bin_s
    return 86400


@dataclass(frozen=True)
class Bins:
    """``num_bins`` equal bins over the UTC-naive window [lo, hi).

    A time t falls in bin ``index(t) = min(floor(offset_us / width_us),
    num_bins - 1)`` with ``offset_us = (t - lo) // 1 µs``; ``column``
    is the same rule as a Spark expression over the same ``width_us``
    double. Offsets are integers below 2^53, so both sides divide the
    same two doubles and agree bit for bit. The index never decreases
    as t grows: a file whose lowest and highest time share a bin has
    every row in that bin."""

    lo: datetime
    hi: datetime
    num_bins: int

    @property
    def width_s(self) -> float:
        return max((self.hi - self.lo).total_seconds(), 1e-9) / self.num_bins

    @property
    def width_us(self) -> float:
        return self.width_s * 1e6

    def index(self, t: datetime) -> int:
        return min(math.floor(((t - self.lo) // _US) / self.width_us), self.num_bins - 1)

    def column(self, time_col: str) -> Column:
        # microsecond offsets: SECOND-granularity truncation misbins
        # events near bin edges when width is fractional/sub-second
        offset_us = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '{self.lo.isoformat(sep=' ')}', {time_col})"
        )
        return F.least(
            F.floor(offset_us / F.lit(self.width_us)), F.lit(self.num_bins - 1)
        ).cast("int")

    def times(self, i: int) -> tuple[str, str]:
        """Bin i's (start_time, end_time) as the route reports them."""
        s = self.lo + timedelta(seconds=i * self.width_s)
        e = self.lo + timedelta(seconds=(i + 1) * self.width_s)
        return f"{s.isoformat()}+00:00", f"{e.isoformat()}+00:00"


def histogram_sql(
    stream: str,
    time_col: str,
    bin_seconds: int,
    where: str | None = None,
    anchor_epoch: int = 0,
) -> str:
    cond = f"WHERE {where}" if where else ""
    bin_expr = date_bin_sql(time_col, bin_seconds, anchor_epoch)
    return (
        f"SELECT {bin_expr} AS bin_epoch, CAST(count(*) AS BIGINT) AS cnt "
        f"FROM {stream} {cond} GROUP BY bin_epoch"
    )


def top_k_counts_sql(
    stream: str,
    time_col: str,
    group_col: str,
    bin_seconds: int,
    k: int,
    where: str | None = None,
    anchor_epoch: int = 0,
) -> str:
    """3-CTE top-K shape with null-safe join (reference mod.rs:716-732).
    ``anchor_epoch`` must match the histogram query's anchor (the
    reference anchors DATE_BIN at the query start, mod.rs:676-679) —
    without it the grouped bins landed at epoch-0 multiples while the
    ungrouped histogram binned at start+k·bin (r6 review)."""
    cond = f"WHERE {where}" if where else ""
    bin_expr = date_bin_sql(time_col, bin_seconds, anchor_epoch)
    return f"""
        WITH grouped_counts AS (
            SELECT {group_col} AS grp, {bin_expr} AS bin_epoch,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM {stream} {cond}
            GROUP BY grp, bin_epoch
        ), top_groups AS (
            SELECT grp FROM grouped_counts
            GROUP BY grp ORDER BY sum(cnt) DESC, grp LIMIT {k}
        )
        SELECT g.grp AS {group_col}, g.bin_epoch, g.cnt
        FROM grouped_counts g
        INNER JOIN top_groups t ON g.grp <=> t.grp
    """


def fast_count(
    engine, sql: str, stores: dict, start=None, end=None, ctx=None
) -> "object | None":
    """Answer a bare COUNT(*) from manifest metadata when the plan shape
    allows (reference route: src/handlers/http/query.rs:186-256 —
    detection, then manifest num_rows sums instead of a scan). Returns
    a one-row DataFrame matching the query's output alias, or None when
    the query must actually execute.

    The count is StreamStore.count_fast_path's for the window; when it
    cannot prove one, the query runs (the all-time manifest total
    must never answer a windowed query). ``ctx`` is the
    request's context (engine.RequestContext) for the same window:
    detection inspects its analysed DataFrame, the one the query runs
    when this returns None."""
    from .timerange import TimeRange

    window = TimeRange(start, end) if start is not None and end is not None else None
    hit = engine.detect_bare_count(sql, window=window, ctx=ctx)
    if hit is None:
        return None
    stream, alias = hit
    # case-insensitive: the analyzed plan lower-cases view names
    canon = {k.lower(): k for k in stores}
    store = stores.get(canon.get(stream.lower(), stream))
    if store is None or (n := store.count_fast_path(start, end)) is None:
        return None
    # A one-row LocalRelation: collecting it starts no Spark job, where
    # createDataFrame from a list builds an RDD that one job collects.
    # toDF takes the alias verbatim: one containing a backtick
    # (SELECT COUNT(*) AS `a``b` — legal) must not go through a parser
    # (r7 review: a DDL string broke into a 500 on it).
    return engine.spark.sql(f"VALUES ({int(n)}L)").toDF(alias)
