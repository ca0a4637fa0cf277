"""Relational operator coverage (SURVEY.md §2.2).

The reference delegates every relational operator to DataFusion; we
delegate to Spark SQL / Catalyst. Each query here exercises one or more
rows of the §2.2 inventory table over the driver's synthetic tables and
is hash-checked against a DuckDB oracle.

Registry layout note (round 3): the driver's correctness gate
enumerates at most 50 sorted entries, so related operators that share a
scan are combined into one query (e.g. q07 = ranking + analytic
windows; q13 = semi/anti/set-ops/outer join suite) and every operator
family sits inside q01..q50. The r2→r3 name mapping is documented in
COVERAGE.md.

Determinism rules used throughout:
- float aggregates rounded (sum order varies across partitions);
- rounded sums exact (_exact_sum): rounding alone does not make a
  double SUM order-independent when it sits on a rounding boundary;
- ORDER BY keys always made unique with an id tie-break;
- timestamps kept as TIMESTAMP_NTZ (µs) — matches DuckDB exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import date_bin, duckdb_date_bin_sql
from ..tables import load_table
from . import register

# Every summed column here has at most 2 decimals, so a product of three
# of them is exact at this scale; 32 integer digits leave room for any
# sum. Decimal addition is associative, so the rounded sum no longer
# depends on the order partitions reach the final aggregate: a double
# SUM within a few ulps of a rounding boundary flipped with task order
# (q12's NATION_22 returned .79 or .80 at random). The oracle SQL
# states the same spec (_exact_sum_sql); the result stays a DOUBLE.
_SUM_SCALE = 6


def _exact_sum(col, ndigits: int):
    """round(sum(col), ndigits) over terms cast to DECIMAL(38, 6)."""
    return F.round(F.sum(col.cast(f"decimal(38,{_SUM_SCALE})")), ndigits).cast("double")


def _exact_sum_sql(expr: str, ndigits: int) -> str:
    """_exact_sum as SQL, for the DuckDB oracle."""
    return (
        f"CAST(round(sum(CAST({expr} AS DECIMAL(38, {_SUM_SCALE}))), {ndigits}) "
        "AS DOUBLE)"
    )


# --- projection / filter / hash aggregate (TPC-H Q1 shape) ----------------
@register(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_exact_sum_sql("l_quantity", 2)} AS sum_qty,
           {_exact_sum_sql("l_extendedprice", 2)} AS sum_base_price,
           {_exact_sum_sql("l_extendedprice * (1 - l_discount)", 2)} AS sum_disc_price,
           {_exact_sum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 2)} AS sum_charge,
           round(avg(l_quantity), 2)                                   AS avg_qty,
           round(avg(l_extendedprice), 2)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Hash aggregate w/ partial+final (SURVEY §2.2 'Hash aggregate').",
)
def q01_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1999-12-01 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _exact_sum(F.col("l_quantity"), 2).alias("sum_qty"),
            _exact_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            _exact_sum(disc_price, 2).alias("sum_disc_price"),
            _exact_sum(disc_price * (1 + F.col("l_tax")), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q02_filter_project",
    """
    SELECT event_id, user_id, round(value * 1.1, 3) AS adj_value
    FROM events
    WHERE event_type = 'error' AND value > 100
    """,
    doc="Projection + filter pushed to scan (SURVEY §2.2 row 1).",
)
def q02_filter_project(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 100))
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 1.1, 3).alias("adj_value"),
        )
    )


@register(
    "q03_string_predicates",
    """
    SELECT source,
           count(*) FILTER (WHERE text LIKE '%join%')        AS n_contains,
           count(*) FILTER (WHERE text NOT LIKE '%join%')    AS n_not_contains,
           count(*) FILTER (WHERE text LIKE 'the%')          AS n_begins,
           count(*) FILTER (WHERE text LIKE '%scan')         AS n_ends,
           count(*) FILTER (WHERE text ILIKE '%SPARK%')      AS n_ilike,
           count(*) FILTER (WHERE lang IS NOT NULL)          AS n_lang
    FROM documents
    GROUP BY source
    """,
    doc="LIKE/ILIKE contains/begins/ends + negation + IS NULL (alert predicate whitelist, reference src/alerts/alerts_utils.rs:426-520).",
)
def q03_string_predicates(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.groupBy("source").agg(
        F.count_if(t.contains("join")).alias("n_contains"),
        F.count_if(~t.contains("join")).alias("n_not_contains"),
        F.count_if(t.startswith("the")).alias("n_begins"),
        F.count_if(t.endswith("scan")).alias("n_ends"),
        F.count_if(t.ilike("%SPARK%")).alias("n_ilike"),
        F.count_if(F.col("lang").isNotNull()).alias("n_lang"),
    )


@register(
    "q05_date_bin_histogram",
    f"""
    SELECT {duckdb_date_bin_sql('ts', 3600)} AS bin_epoch, event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           {_exact_sum_sql("value", 2)} AS sum_value,
           round(min(value), 2) AS min_v,
           round(max(value), 2) AS max_v,
           round(avg(value), 6) AS avg_v
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-17 00:00:00'
    GROUP BY 1, 2
    """,
    doc=(
        "DATE_BIN histogram w/ epoch anchor x group dimension + the full "
        "aggregate whitelist (count/sum/min/max/avg) — the counts-API-"
        "with-conditions shape (reference src/query/mod.rs:676-731). "
        "Merges r2's q05 (plain histogram) and q17 (multi-dim histogram): "
        "one scan, one hash aggregate."
    ),
)
def q05_date_bin_histogram(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.expr("TIMESTAMP_NTZ '2024-01-10 00:00:00'"))
            & (F.col("ts") < F.expr("TIMESTAMP_NTZ '2024-01-17 00:00:00'"))
        )
        .groupBy(date_bin("ts", 3600).alias("bin_epoch"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            _exact_sum(F.col("value"), 2).alias("sum_value"),
            F.round(F.min("value"), 2).alias("min_v"),
            F.round(F.max("value"), 2).alias("max_v"),
            F.round(F.avg("value"), 6).alias("avg_v"),
        )
    )


@register(
    "q06_count_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(user_id)          AS n_events
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "DISTINCT + COUNT(DISTINCT) (alert builder whitelist). The Spark "
        "side computes n_users through a genuine df.distinct() on the "
        "(event_type, user_id) projection (r2's q10 operator) joined to "
        "the plain counts — both paths one shuffle. Also the EXACT "
        "companion for q19's HLL sketch rollup: same grouping, same "
        "column, driver-hash-checked here."
    ),
)
def q06_count_distinct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    n_users = (
        ev.select("event_type", "user_id")
        # SQL's COUNT(DISTINCT user_id) ignores NULLs; the distinct
        # projection would keep one (event_type, NULL) row and count
        # it (r6 review — latent: the fixture has no NULL user_ids,
        # but the n_events leg below already uses the NULL-skipping
        # count(user_id), and the two legs must agree)
        .filter(F.col("user_id").isNotNull())
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    n_events = ev.groupBy("event_type").agg(F.count("user_id").alias("n_events"))
    return n_events.join(F.broadcast(n_users), "event_type").select(
        "event_type", "n_users", "n_events"
    )


@register(
    "q07_window_rank_distinct",
    """
    SELECT user_id, event_id, value, rn, n_types FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rn,
               COUNT(DISTINCT event_type) OVER (PARTITION BY user_id) AS n_types
        FROM events
    ) WHERE rn <= 3
    """,
    doc=(
        "Ranking + analytic windows in one pass: ROW_NUMBER (field-stats "
        "SQL shape, reference src/storage/field_stats.rs:1023-1033) and "
        "COUNT(DISTINCT) OVER — illegal in Spark, rewritten as "
        "size(collect_set() OVER) (reference src/handlers/http/traces.rs:"
        "478-498). Both windows share the user_id partitioning: one "
        "shuffle. Merges r2's q07 + q08."
    ),
)
def q07_window_rank_distinct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w_rank = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    w_part = Window.partitionBy("user_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            "value",
            F.row_number().over(w_rank).alias("rn"),
            F.size(F.collect_set("event_type").over(w_part))
            .cast("bigint")
            .alias("n_types"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q08_asof_join",
    """
    SELECT p.event_id AS purchase_id, p.user_id, p.ts,
           p.value AS purchase_value,
           c.value AS click_value, c.event_id AS click_id, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
        SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'click'
        QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ) c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc=(
        "As-of (point-in-time) join: latest click at-or-before each purchase "
        "per user. Spark lacks ASOF JOIN; implemented as union+window "
        "(one key shuffle, no range-join blowup) in functions/asof.py. "
        "Oracle is DuckDB's native ASOF LEFT JOIN with a deterministic "
        "tie-break dedupe. (r2 name: q52_asof_join.)"
    ),
)
def q08_asof_join(spark, sf_dir):
    from ..functions import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("value").alias("click_value"),
        F.col("event_id").alias("click_id"),
    )
    return asof_join(
        purchases,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_value", "click_id"],
        right_order=["click_id"],
        matched_ts_col="click_ts",
    )


@register(
    "q09_scalar_sort_offset",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CASE WHEN value >= 150 THEN 'high'
                WHEN value >= 50  THEN 'mid'
                ELSE 'low' END AS tier,
           COALESCE(NULLIF(event_type, 'view'), 'hidden') AS etype,
           CAST(user_id AS VARCHAR) AS user_str
    FROM events
    WHERE event_id < 500
    ORDER BY value DESC, event_id
    OFFSET 10 LIMIT 20
    """,
    doc=(
        "Scalar function surface (CAST/CASE/COALESCE/NULLIF/JSON extract) "
        "composed with ORDER BY + OFFSET + LIMIT (trace list SQL, "
        "reference src/handlers/http/traces.rs:510-514). Merges r2's "
        "q09 + q16; deterministic page via the event_id tie-break."
    ),
)
def q09_scalar_sort_offset(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_id") < 500)
        .orderBy(F.desc("value"), F.asc("event_id"))
        .offset(10)
        .limit(20)
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            F.when(F.col("value") >= 150, "high")
            .when(F.col("value") >= 50, "mid")
            .otherwise("low")
            .alias("tier"),
            F.coalesce(F.nullif(F.col("event_type"), F.lit("view")), F.lit("hidden")).alias(
                "etype"
            ),
            F.col("user_id").cast("string").alias("user_str"),
        )
    )


@register(
    "q10_range_join",
    """
    SELECT e.event_id, e.user_id, CAST(count(*) AS BIGINT) AS n_nearby_clicks
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    JOIN (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.click_ts BETWEEN e.ts - INTERVAL 300 SECOND
                        AND e.ts + INTERVAL 300 SECOND
    GROUP BY e.event_id, e.user_id
    """,
    doc=(
        "Time-range (interval) join: clicks within ±5 min of each error, "
        "same user. Bucketed equi-join + residual filter "
        "(functions/rangejoin.py) — hash shuffle on (user_id, bucket), "
        "never a nested-loop cartesian. Oracle is the plain inequality "
        "join DuckDB can afford at this scale. (r2 name: q53_range_join.)"
    ),
)
def q10_range_join(spark, sf_dir):
    from ..functions.rangejoin import time_range_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    pairs = time_range_join(
        errors,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        lower_seconds=-300,
        upper_seconds=300,
    )
    return pairs.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_nearby_clicks")
    )


@register(
    "q11_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           {_exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    doc="Multi-join + agg + top-N (TPC-H Q3 shape; user SQL surface).",
)
def q11_shipping_priority(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # lineitem streams; the filtered customer⋈orders side is the build.
    # No forced broadcast on customer: the BUILDING segment is ~1/5 of
    # a table that grows linearly with scale factor, so a broadcast
    # hint that is right at sf0.1 OOMs executors at 100 TB — AQE picks
    # broadcast at runtime when the side is actually small and falls
    # back to a shuffle join when it isn't (only fixed-cardinality
    # dims like region/nation are safe to force).
    oc = (
        o.filter(F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '2000-03-15 00:00:00'"))
        .join(
            c.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
    )
    return (
        li.filter(F.col("l_shipdate") > F.expr("TIMESTAMP_NTZ '1998-03-15 00:00:00'"))
        .join(oc, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            _exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q12_local_supplier_volume",
    f"""
    SELECT n.n_name,
           {_exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    doc="5-way join w/ broadcast dims (TPC-H Q5 shape); Catalyst picks broadcast-hash for region/nation/supplier.",
)
def q12_local_supplier_volume(spark, sf_dir):
    t = {n: load_table(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    # Push the region restriction UP the join tree by hand (Catalyst
    # pushes r_name into the region scan but does not reorder joins
    # without CBO stats): restrict nation→supplier→customer to ASIA
    # BEFORE anything meets lineitem, so the orders⋈customer build side
    # and the lineitem-join output shrink ~5x (1 region of 5). At
    # 100 TB that 5x is shuffle volume off the fact table. lineitem
    # stays the probe side everywhere — the fact table must never be a
    # hash-build side. A/B-probed at sf0.1: equal output, ~8% faster
    # locally (broadcast-bound; the win is the shuffle-volume shape).
    asia = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = t["supplier"].join(
        F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey")
    )
    cust = t["customer"].join(
        F.broadcast(asia.select(F.col("n_nationkey").alias("an"))),
        F.col("c_nationkey") == F.col("an"),
        "left_semi",
    )
    # ONLY the fixed-cardinality sides (region, nation/asia — 5 and 25
    # rows at any scale) are force-broadcast. cust (~1/5 of customer)
    # and supp (supplier x SF) grow linearly with scale factor; forcing
    # them was the recorded AQE-broadcast OOM hazard in reverse — AQE
    # broadcasts them at runtime while they're genuinely small and
    # switches to shuffle joins at corpus scale.
    orders_cust = t["orders"].join(cust, F.col("c_custkey") == F.col("o_custkey"))
    return (
        t["lineitem"]
        .join(orders_cust, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            _exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "q13_join_suite",
    """
    SELECT 'no_orders' AS side, CAST(c_custkey AS BIGINT) AS key,
           CAST(0 AS BIGINT) AS metric
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'has_big_order', CAST(c_custkey AS BIGINT), CAST(0 AS BIGINT)
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    UNION ALL
    SELECT 'nation_both', CAST(k AS BIGINT), CAST(0 AS BIGINT) FROM (
        SELECT c_nationkey AS k FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'customer_only', CAST(k AS BIGINT), CAST(0 AS BIGINT) FROM (
        SELECT c_nationkey AS k FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'nation_customers', CAST(n.n_nationkey AS BIGINT),
           CAST(count(c.c_custkey) AS BIGINT)
    FROM nation n LEFT OUTER JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey
    UNION ALL
    SELECT 'nation_rich', CAST(n.n_nationkey AS BIGINT),
           CAST(count(CASE WHEN c.c_acctbal > 5000 THEN 1 END) AS BIGINT)
    FROM nation n LEFT OUTER JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey
    """,
    doc=(
        "Join-type suite in one result: LEFT ANTI (customers without "
        "orders), LEFT SEMI (customers with a big order), INTERSECT / "
        "EXCEPT set ops on nation keys, and LEFT OUTER join preserving "
        "unmatched dimension rows — SURVEY §2.2 'Semi/anti joins', 'Set "
        "ops', 'Joins'. Merges r2's q13 + q14 + q44. The outer-join "
        "grouped frame is computed once and projected into two branches."
    ),
)
def q13_join_suite(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    def tagged(df, side, key_col, metric=None):
        m = metric if metric is not None else F.lit(0)
        return df.select(
            F.lit(side).alias("side"),
            F.col(key_col).cast("bigint").alias("key"),
            m.cast("bigint").alias("metric"),
        )

    anti = tagged(
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti"),
        "no_orders",
        "c_custkey",
    )
    semi = tagged(
        c.join(
            o.filter(F.col("o_totalprice") > 400000),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_semi",
        ),
        "has_big_order",
        "c_custkey",
    )
    ckeys = c.select(F.col("c_nationkey").alias("k"))
    skeys = s.select(F.col("s_nationkey").alias("k"))
    both = tagged(ckeys.intersect(skeys), "nation_both", "k")
    conly = tagged(ckeys.subtract(skeys), "customer_only", "k")
    outer = (
        n.join(c, F.col("c_nationkey") == F.col("n_nationkey"), "left_outer")
        .groupBy("n_nationkey")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.count(F.when(F.col("c_acctbal") > 5000, 1)).alias("n_rich"),
        )
        # nation-cardinality snapshot: BOTH tagged branches consume it,
        # and without it the union replayed the customer join+aggregate
        # twice (r6 review; the docstring always claimed computed-once)
        .localCheckpoint()
    )
    ncust = tagged(outer, "nation_customers", "n_nationkey", F.col("n_customers"))
    nrich = tagged(outer, "nation_rich", "n_nationkey", F.col("n_rich"))
    return anti.unionAll(semi).unionAll(both).unionAll(conly).unionAll(ncust).unionAll(nrich)


_Q15_SQL = """
    SELECT p_partkey, p_retailprice
    FROM part
    WHERE p_retailprice > (SELECT avg(p_retailprice) * 1.04 FROM part)
      AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49.5)
"""  # ONE text for oracle and execution — a dialect-valid edit to one
# copy that means something different in the other survives until the
# hash gate otherwise (r6 review; the _lang_pred precedent)


@register(
    "q15_subqueries",
    _Q15_SQL,
    doc="Scalar subquery + NOT IN subquery (reference traces.rs:612).",
)
def q15_subqueries(spark, sf_dir):
    # expressed through Spark SQL to exercise the subquery planner
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q15_SQL)


@register(
    "q22_grouping_sets",
    f"""
    SELECT event_type,
           CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
           CAST(grouping(event_type) AS INT) AS g_type,
           CAST(grouping(CAST(date_trunc('day', ts) AS DATE)) AS INT) AS g_day,
           CAST(count(*) AS BIGINT) AS n,
           {_exact_sum_sql("value", 2)} AS total
    FROM events
    GROUP BY GROUPING SETS (
        (event_type, CAST(date_trunc('day', ts) AS DATE)),
        (event_type),
        (CAST(date_trunc('day', ts) AS DATE)),
        ()
    )
    """,
    doc=(
        "GROUPING SETS: per (type, day), per type, per day, and grand total "
        "in one logical pass, with grouping() flags disambiguating real "
        "NULLs from subtotal rows. Subsumes ROLLUP (r2's q48): "
        "ROLLUP(a, b) = GROUPING SETS((a,b),(a),()), all of which are "
        "included here. Catalyst expands sets before the hash aggregate, "
        "so partial (map-side) aggregation still applies to every set — "
        "one shuffle, not four queries. (r2 name: q59_grouping_sets.)"
    ),
)
def q22_grouping_sets(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    return (
        ev.select("event_type", day.cast("string").alias("day"), "value")
        .groupingSets(
            [["event_type", "day"], ["event_type"], ["day"], []],
            "event_type",
            "day",
        )
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
            F.count(F.lit(1)).alias("n"),
            _exact_sum(F.col("value"), 2).alias("total"),
        )
        .select("event_type", "day", "g_type", "g_day", "n", "total")
    )


@register(
    "q34_sessionization",
    """
    WITH o AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT *, sum(new_s) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM o
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
    doc=(
        "Gap-based sessionization (30 min inactivity): lag → new-session "
        "flag → running sum per user → one hash aggregate. Every window "
        "PARTITIONed by user_id — per-user work in one task, users "
        "parallelize; one shuffle at 100 TB. (r2 name: q68_sessionization.)"
    ),
)
def q34_sessionization(spark, sf_dir):
    from ..functions.sessions import sessionize

    return sessionize(load_table(spark, sf_dir, "events"), gap_seconds=1800)


@register(
    "q38_funnel",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(ts) AS t1 FROM events e JOIN v USING (user_id)
        WHERE event_type = 'click' AND ts > t0 GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(ts) AS t2 FROM events e JOIN c USING (user_id)
        WHERE event_type = 'purchase' AND ts > t1 GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS step_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS step_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS step_purchase
    """,
    doc=(
        "Ordered-funnel conversion (view → click → purchase): step k "
        "counts users whose first step-k event is strictly after their "
        "first qualifying step-(k-1) event. Per-step per-user aggregates "
        "chained with left joins on the entity key, ONE final aggregate "
        "job — no per-step driver actions, no cross-user windows. "
        "(r2 name: q69_funnel.)"
    ),
)
def q38_funnel(spark, sf_dir):
    from ..functions.sessions import funnel

    return funnel(
        load_table(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@register(
    "q43_json_extraction",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(count(CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) > 50
                           THEN 1 END) AS BIGINT) AS n_high,
           CAST(count(DISTINCT CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS n_distinct_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON scalar functions over a raw JSON column (get_json_object — the SQL-surface json fns row, SURVEY §2.2); extraction stays JVM-side.",
)
def q43_json_extraction(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"),
        F.count(F.when(k > 50, 1)).alias("n_high"),
        F.countDistinct(k).alias("n_distinct_k"),
    )


@register(
    "q45_theta_join",
    f"""
    SELECT l.l_orderkey,
           CAST(count(*) AS BIGINT) AS n_late_lines,
           {_exact_sum_sql("l.l_extendedprice", 2)} AS late_value
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
                 AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_orderkey
    ORDER BY late_value DESC, l.l_orderkey
    LIMIT 25
    """,
    doc="Theta join: equi key + non-equi time residual (ship > order+90d) — Catalyst keeps the hash join on the equi key and applies the range predicate as a residual filter.",
)
def q45_theta_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    joined = li.join(
        o,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
    )
    return (
        joined.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_late_lines"),
            _exact_sum(F.col("l_extendedprice"), 2).alias("late_value"),
        )
        .orderBy(F.desc("late_value"), F.asc("l_orderkey"))
        .limit(25)
    )


_Q47_SQL = """
    WITH w AS (
        SELECT event_id, event_type, value,
               avg(value) OVER win_rows AS mu,
               stddev_samp(value) OVER win_rows AS sigma,
               count(*) OVER win_rows AS n,
               round(sum(value) OVER win_range, 2) AS rolling_sum_1h,
               CAST(count(*) OVER win_range AS BIGINT) AS n_events_1h
        FROM {table}
        WINDOW win_rows AS (
            PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN 100 PRECEDING AND CURRENT ROW
        ), win_range AS (
            PARTITION BY event_type ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
        )
    )
    SELECT event_id, event_type,
           round((value - mu) / sigma, 3) AS zscore,
           rolling_sum_1h, n_events_1h
    FROM w
    WHERE n > 30 AND round(sigma, 6) > 0
      AND abs(round((value - mu) / sigma, 6)) > 2.5
"""  # ONE template for oracle and execution; the row-membership gate
# compares ROUNDED floats — raw engine floats differ in the last ulps
# (Welford vs sum-of-squares stddev), so a z-score within ulps of 2.5
# could flip the result set between engines (r6 review; every other
# float gate in this file already rounds first)


@register(
    "q47_window_frames",
    _Q47_SQL.format(table="events"),
    doc=(
        "Window frames, both kinds, one partitioning: rolling z-score "
        "anomaly detection over a ROWS BETWEEN frame plus rolling 1 h "
        "sum/count over a RANGE BETWEEN INTERVAL frame — the bounded-"
        "frame rows of SURVEY §2.2. Both windows PARTITION BY event_type, "
        "so Catalyst plans one shuffle; each frame streams as one pass "
        "per partition with state bounded by the frame. Merges r2's "
        "q47 + q60."
    ),
)
def q47_window_frames(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_q47_events")
    return spark.sql(_Q47_SQL.format(table="_q47_events"))


