"""Relational and TPC-H family: joins (inner / semi / anti / full outer,
as-of and interval), set operations, grouping sets, windows and ranking
(exact distributed median, multi-metric ntile), the scalar function
surface (date / string / math / null / array / map / regexp), the 22
TPC-H shapes plus the SQL passthrough, and event analytics over the
``events`` table (funnels, cohorts, RFM, paths, transitions, OHLC, EWMA,
gap fill, pivots).

Each ``*_dist`` twin sits under its base query: it runs the same query
with the driver-side size gate forced to 0, so the distributed path is
oracle-checked at every scale factor against the same SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.semistructured import json_get
from ..operators.windows import topk_per_group
from ..sources.readers import read_events
from .queries import _t, query


# ---------------------------------------------------------------------------
# J2 — inner equi-join (SURVEY §2.3 J2).
# Reference: synapse_table_creation.sql:64-67.
# ---------------------------------------------------------------------------
@query(
    "join_inner_equi",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "o_custkey", "c_name", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# O2 — top-k per group (SURVEY §2.5 O2): top-3 line items per order by
# extended price (desc, deterministic tiebreak on line number desc).
# ---------------------------------------------------------------------------
@query(
    "topk_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC NULLS LAST,
                                         l_linenumber DESC NULLS LAST) AS rn
      FROM lineitem
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return topk_per_group(
        li, ["l_orderkey"], ["l_extendedprice", "l_linenumber"], k=3
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


@query(
    "json_extract_props",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS total_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir).withColumn(
        "k", json_get("props", "$.k", cast="int")
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("total_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
    )


@query(
    "window_ranking",
    oracle="""
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           round(lag(o_totalprice)  OVER w, 2) AS prev_price,
           round(lead(o_totalprice) OVER w, 2) AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC)
    """,
)
def q_window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc_nulls_last("o_totalprice"), F.asc("o_orderkey")
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


@query(
    "set_union",
    oracle="""
    SELECT c_custkey AS id FROM customer WHERE c_custkey % 2 = 0
    UNION
    SELECT o_custkey FROM orders WHERE o_custkey % 3 = 0
    """,
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("id")
    )
    b = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 3 == 0).select(
        F.col("o_custkey").alias("id")
    )
    return a.union(b).distinct()


@query(
    "set_intersect",
    oracle="SELECT c_custkey AS id FROM customer INTERSECT SELECT o_custkey FROM orders",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    return a.intersect(b)


@query(
    "set_except",
    oracle="SELECT c_custkey AS id FROM customer EXCEPT SELECT o_custkey FROM orders",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    # subtract == SQL EXCEPT (distinct): a value present on both sides is
    # removed entirely. (exceptAll().distinct() differs when the left has
    # higher multiplicity — surviving left copies would pass distinct.)
    return a.subtract(b)


@query(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "grouping_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def q_grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price")
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact interpolated percentiles (both engines implement the same
    # linear-interpolation definition); approx_percentile is the 100 TB
    # variant (sketch-mergeable) but is not oracle-comparable
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
        )
    )


@query(
    "event_funnel",
    oracle="""
    WITH m AS (
      SELECT user_id,
        min(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END) AS t_signup,
        min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
        min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN t_signup < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
           CAST(sum(CASE WHEN t_signup < t_click AND t_click < t_purchase
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased
    FROM m
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (signup → click → purchase per user) — the
    min-timestamp-per-stage formulation: one grouped aggregation, no
    self-joins, scales as a single shuffle on user_id."""
    ev = read_events(spark, sf_dir)
    m = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return m.agg(
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_signup"),
        F.sum(F.when(F.col("t_signup") < F.col("t_click"), 1).otherwise(0))
        .cast("long")
        .alias("n_clicked"),
        F.sum(
            F.when(
                (F.col("t_signup") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_purchased"),
    )


@query(
    "salted_agg_skew",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the (low-cardinality, hence
    maximally skewed) event_type key — must produce identical results to
    the direct groupBy the oracle runs."""
    from ..operators.skew import salted_agg

    ev = read_events(spark, sf_dir)
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n": (F.count(F.lit(1)), F.sum("n")),
            "total_value": (F.sum("value"), F.sum("total_value")),
        },
        salt_buckets=8,
    )
    return out.select("event_type", "n", F.round("total_value", 2).alias("total_value"))


# ---------------------------------------------------------------------------
# relational-depth suite: TPC-H-style multi-join analytics + semi/anti joins
# (SURVEY §2.3 note: semi/anti fall out of MERGE internals; the H-style
# queries prove the full scan→multi-join→agg→sort pipeline composes)
# ---------------------------------------------------------------------------


@query(
    "sql_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (pricing summary): single wide aggregation; at scale
    this is one map-side-combined shuffle keyed on the 2-col group."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc), 2).alias("sum_disc_price"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "sql_top_revenue_orders",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_sql_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): selective dim filter →
    fact joins → agg → global top-N. The ORDER BY + LIMIT lowers to
    TakeOrderedAndProject (per-partition top-N + driver merge of N rows,
    never a full global sort)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "sql_region_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q_sql_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume): snowflake of broadcast dim
    joins hanging off the fact scan — region/nation/supplier are all tiny,
    so the only shuffle is the final 1-key aggregation."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(s, s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    return (
        li.join(dims, li.l_suppkey == dims.s_suppkey)
        .groupBy("nation")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "set_union_all",
    oracle="""
    SELECT c_custkey AS id FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT o_custkey FROM orders WHERE o_custkey % 3 = 0
    """,
)
def q_set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("id")
    )
    b = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 3 == 0).select(
        F.col("o_custkey").alias("id")
    )
    return a.unionAll(b)


_STATUSES = ["F", "O", "P"]


@query(
    "pivot_status_counts",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with an EXPLICIT value list — at scale, passing
    the values avoids the extra distinct-scan Spark otherwise runs to
    discover pivot columns."""
    out = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .count()
        .na.fill(0, _STATUSES)
    )
    return out.select(
        "o_orderpriority",
        *[F.col(s).alias(f"status_{s.lower()}") for s in _STATUSES],
    )


@query(
    "window_distribution",
    oracle="""
    SELECT o_orderkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice ASC NULLS LAST, o_orderkey ASC)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions over a GLOBAL ordering — inherently a
    single-partition sort, correct but the known anti-pattern at 100 TB
    (use approx quantiles / bucketed ranks there); included for function
    parity."""
    w = Window.orderBy(F.asc_nulls_last("o_totalprice"), F.asc("o_orderkey"))
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           isodow(o_orderdate) AS iso_dow,
           CAST(o_orderdate + INTERVAL '3' MONTH AS DATE) AS plus_3m,
           CAST(date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
               AS days_since_2024
    FROM orders
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dayofweek numbering differs across engines (Spark: Sun=1; DuckDB dow:
    # Sun=0) — both sides emit ISO day-of-week (Mon=1..Sun=7) instead
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        (((F.dayofweek("o_orderdate") + 5) % 7) + 1).alias("iso_dow"),
        F.add_months("o_orderdate", 3).alias("plus_3m"),
        F.datediff(F.col("o_orderdate"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since_2024"),
    )


@query(
    "asof_join_last_click",
    oracle="""
    WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           round(c.value, 4) AS click_value_asof
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join via union+carry-forward (one shuffle on
    user_id; see operators/temporal.py). Matches DuckDB's native ASOF."""
    from ..operators.temporal import asof_join

    ev = read_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join(purchases, clicks, on="user_id", right_payload=["value"])
    return out.select(
        "event_id", "user_id", F.round("value_asof", 4).alias("click_value_asof")
    )


@query(
    "interval_join_click_purchase",
    oracle="""
    WITH p AS (SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS c_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click')
    SELECT p.p_id, c.c_id
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL '24' HOUR
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import interval_join

    ev = read_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), "user_id", "ts"
    )
    out = interval_join(
        purchases, clicks, on="user_id",
        lower="INTERVAL '0' SECOND", upper="INTERVAL '24' HOUR",
    )
    return out.select("p_id", "c_id")


# ---------------------------------------------------------------------------
# relational depth II: returned-item report, two-nation volume, decorrelated
# scalar subquery — the remaining classic multi-join shapes (TPC-H Q10/Q7/Q17)
# ---------------------------------------------------------------------------


@query(
    "sql_customer_returns",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q_sql_customer_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item report): fact-fact join on orderkey
    carries the big shuffle; customer+nation are dimension lookups. The
    returnflag filter is pushed to the lineitem scan (quarter of the rows
    ever leave parquet) and ORDER+LIMIT lowers to TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "nation", "revenue")
    )


@query(
    "sql_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name IN ('NATION_1', 'NATION_2')
      AND sn.n_name <> cn.n_name
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_sql_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): six-table join with the nation
    table used twice under different roles. Both nation sides are filtered
    to the 2-nation subset BEFORE joining, so supplier and customer shrink
    to ~2/25 of their rows ahead of the lineitem⋈orders shuffle — the
    join-order discipline that matters at 100 TB. Dims broadcast."""
    pair = ("NATION_1", "NATION_2")
    sn = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    cn = sn.alias("cn")
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(sn), F.col("s_nationkey") == sn.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey")
    ).select("c_custkey", F.col("cn.n_name").alias("cust_nation"))
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "sql_small_qty_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
          FROM lineitem GROUP BY l_partkey) t
      ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13' AND l.l_quantity < t.qty_thresh
    """,
)
def q_sql_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    scalar subquery `l_quantity < 0.2 * (SELECT avg ... WHERE same part)`
    hand-decorrelated into a per-part aggregate + equi-join — the same
    rewrite Catalyst's RewriteCorrelatedScalarSubquery performs, written
    explicitly so the per-part avg is computed once per part, not per row.
    (l_quantity is integer-valued, so the avg is exact in any summation
    order and the `<` threshold is engine-stable.)"""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    thresh = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thresh")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(thresh.withColumnRenamed("l_partkey", "t_partkey"),
              li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
        )
    )


@query(
    "sql_late_sole_suppliers",
    oracle="""
    WITH late AS (
      SELECT l.l_suppkey, l.l_orderkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, count(*) AS numwait
    FROM late l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name ASC
    LIMIT 20
    """,
)
def q_sql_late_sole_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers solely responsible for late orders),
    adapted to this schema's columns (lateness = shipped > 60 days after
    the order date; the reference TPC-H receipt/commit dates are not in
    the corpus). The two correlated subqueries become a LEFT SEMI
    (another supplier exists on the order) and a LEFT ANTI (no OTHER
    supplier shipped late) keyed on the order — the standard
    decorrelation Catalyst applies to EXISTS/NOT EXISTS, written as
    explicit joins.

    Scale: `late` is filtered before any self-join; both semi/anti
    probes are keyed on l_orderkey (high-cardinality, parallel); the
    supplier dim is broadcast; the final top-20 is a TakeOrdered over
    |suppliers| aggregated rows."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_suppkey", "l_orderkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    sole_late = (
        late.join(
            others,
            (late.l_orderkey == others.ok) & (late.l_suppkey != others.sk),
            "left_semi",
        )
        .join(
            late_others,
            (late.l_orderkey == late_others.ok)
            & (late.l_suppkey != late_others.sk),
            "left_anti",
        )
    )
    return (
        sole_late.join(F.broadcast(s), sole_late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@query(
    "sql_idle_rich_customers",
    oracle="""
    WITH thresh AS (
      SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey, count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c CROSS JOIN thresh
    WHERE c.c_acctbal > thresh.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000.0)
    GROUP BY c.c_nationkey
    """,
)
def q_sql_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (rich customers who never ordered), keyed by
    nation instead of the phone country code this schema lacks: an
    uncorrelated scalar subquery (global positive-balance average)
    gates the customer scan, a NOT EXISTS anti-join removes anyone who
    ever placed a large (>300k) order, and the rest is one aggregate.

    Scale: the scalar threshold reduces to ONE broadcast row; the
    anti-join probes orders on its o_custkey key (the orders side is
    projected to the key column only before shuffling). The sum is
    over c_acctbal doubles — rounded at 2 dp AFTER the aggregate, and
    the per-nation groups are small enough that summation-order drift
    is below the rounding grain (asserted by the oracle gate)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(F.col("o_totalprice") > 300000.0)
            .select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "events_ohlc_hourly",
    oracle="""
    WITH e AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             value, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY event_type, hr
                           ORDER BY ts ASC, event_id ASC) AS rn_open,
        row_number() OVER (PARTITION BY event_type, hr
                           ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM e
    )
    SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_s,
           round(min(CASE WHEN rn_open = 1 THEN value END), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(min(CASE WHEN rn_close = 1 THEN value END), 2) AS close,
           count(*) AS n_events,
           round(sum(value), 2) AS volume
    FROM ranked
    GROUP BY event_type, hr
    """,
)
def q_events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample: per (event_type, hour) OHLC bars —
    open/close are the first/last value by (ts, event_id) (deterministic
    under same-timestamp ties), high/low/volume are plain aggregates.
    The downsample every metrics pipeline runs before charting or
    joining against coarser-grained data.

    Scale: ONE shuffle keyed on (event_type, hour); open/close ride the
    same exchange as window functions over that key, then the bar
    aggregate reuses the partitioning — no second shuffle of the raw
    events. Bars are tiny thereafter."""
    ev = read_events(spark, sf_dir)
    hr = F.date_trunc("hour", F.col("ts"))
    w_open = Window.partitionBy("event_type", "hr").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_close = Window.partitionBy("event_type", "hr").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select("event_type", hr.alias("hr"), "value", "ts", "event_id")
        .withColumn("rn_open", F.row_number().over(w_open))
        .withColumn("rn_close", F.row_number().over(w_close))
        .groupBy("event_type", "hr")
        .agg(
            F.round(F.min(F.when(F.col("rn_open") == 1, F.col("value"))), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.min(F.when(F.col("rn_close") == 1, F.col("value"))), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            "open", "high", "low", "close", "n_events", "volume",
        )
    )


# ---------------------------------------------------------------------------
# data profiling — a corpus-hygiene pass a training pipeline runs before
# anything else touches 100 TB (PII scrubbing is `text_pii_redact`)
# ---------------------------------------------------------------------------


@query(
    "profile_columns",
    oracle="""
    SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_s,
           CAST(max(o_orderkey) AS VARCHAR) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    """,
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler: one scan of the table produces per-column
    null-count / distinct-count / min / max as a tall (column, stats)
    frame. Everything is a single global aggregate — ONE pass over the
    data, map-side partial aggs, a 1-row exchange, then a driver-side
    stack() unpivot of that row; nothing is per-column re-scanned. At
    100 TB swap count(DISTINCT) for approx_count_distinct and the pass
    goes fully single-shuffle; exact here so DuckDB can oracle it."""
    from ..session import fan_out

    # fan_out (r10): the 4× count-distinct expand (5 rows per input row
    # through the partial aggregate) ran at the scan's split width —
    # one effective task on a single-row-group file; no-op at real scale
    o = fan_out(_t(spark, sf_dir, "orders"))
    cols = ("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    # min/max are computed on the NATIVE type (a string min over '99.00' vs
    # '100.00' would be wrong) and stringified after:
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name in cols:
        aggs += [
            F.count(name).alias(f"nn_{name}"),
            F.countDistinct(name).alias(f"nd_{name}"),
        ]
    for name in ("o_orderkey", "o_orderstatus"):
        aggs += [
            F.min(name).cast("string").alias(f"min_{name}"),
            F.max(name).cast("string").alias(f"max_{name}"),
        ]
    aggs += [
        F.min("o_totalprice").cast("decimal(18,2)").cast("string").alias("min_o_totalprice"),
        F.max("o_totalprice").cast("decimal(18,2)").cast("string").alias("max_o_totalprice"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("min_o_orderdate"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("max_o_orderdate"),
    ]
    row = o.agg(*aggs)
    parts = ", ".join(
        f"'{name}', n_rows - nn_{name}, nd_{name}, min_{name}, max_{name}"
        for name in cols
    )
    return row.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {parts}) AS (col_name, n_null, n_distinct, min_s, max_s)",
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_s", "max_s")


@query(
    "unpivot_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
           l_quantity::DOUBLE AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping (the MELT/UNPIVOT warehouse op). Spark's native
    `unpivot` expands to a single Expand node — one scan, no join, row
    count multiplies by the measure count; at 100 TB the Expand keeps it
    a narrow map (no shuffle at all)."""
    return _t(spark, sf_dir, "lineitem").unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    ).withColumn("metric", F.expr("substring(metric, 3)"))


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(lag(o_totalprice) OVER w, 2) AS prev_price,
           round(lead(o_totalprice) OVER w, 2) AS next_price,
           round(o_totalprice - coalesce(lag(o_totalprice) OVER w, o_totalprice),
                 2) AS delta_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead offsets per customer order history — one window shuffle
    keyed on the customer; the (date, orderkey) compound sort makes ties
    deterministic in both engines."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(
            F.col("o_totalprice")
            - F.coalesce(F.lag("o_totalprice").over(w), F.col("o_totalprice")),
            2,
        ).alias("delta_prev"),
    )


@query(
    "window_range_rolling",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', DATE '1970-01-01',
                                  CAST(o_orderdate AS DATE))
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 2) AS rolling_7d
    FROM orders
    """,
)
def q_window_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day revenue per customer via a RANGE frame over epoch
    days — the value-based frame (all rows within 6 days), not a row
    count, so equal-day orders aggregate together in both engines. Same
    single shuffle as any per-key window."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "__day", F.datediff("o_orderdate", F.lit("1970-01-01").cast("date"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("__day")
        .rangeBetween(-6, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("rolling_7d"),
    )


@query(
    "grouping_sets_custom",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the irregular cousin of ROLLUP/CUBE) —
    still one scan + one Expand + one hash aggregate."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_stats_moments",
    oracle="""
    SELECT o_orderstatus,
           round(stddev_samp(o_totalprice), 2) AS sd_price,
           round(avg(o_totalprice), 2) AS mean_price,
           round(corr(o_totalprice,
                      date_diff('day', DATE '2024-01-01',
                                CAST(o_orderdate AS DATE))), 4) AS corr_price_day,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (stddev/corr) — single-pass algebraic
    forms, map-side partials, one shuffle on the (tiny) status key."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "__day",
        F.datediff("o_orderdate", F.lit("2024-01-01").cast("date")).cast("double"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 2).alias("sd_price"),
        F.round(F.avg("o_totalprice"), 2).alias("mean_price"),
        F.round(F.corr("o_totalprice", "__day"), 4).alias("corr_price_day"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           length(c_name) AS name_len,
           substr(c_name, 1, 8) AS name_prefix,
           reverse(c_mktsegment) AS seg_rev,
           replace(c_mktsegment, 'A', '@') AS seg_sub,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nat,
           strpos(c_name, '0') AS zero_pos
    FROM customer
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable string scalar suite (upper/length/substr/reverse/replace/
    lpad/concat_ws/instr) — pure whole-stage-codegen projections."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.regexp_replace("c_mktsegment", "A", "@").alias("seg_sub"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.concat_ws(
            "|", "c_mktsegment", F.col("c_nationkey").cast("string")
        ).alias("seg_nat"),
        F.instr("c_name", "0").alias("zero_pos"),
    )


@query(
    "math_functions",
    oracle="""
    SELECT o_orderkey,
           abs(o_totalprice - 100000) AS abs_dev,
           CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
           CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
           o_orderkey % 7 AS key_mod,
           round(sqrt(o_totalprice), 4) AS price_sqrt,
           round(ln(o_totalprice), 4) AS price_ln,
           round(log10(o_totalprice), 4) AS price_log10,
           CAST(sign(o_totalprice - 100000) AS INTEGER) AS dev_sign
    FROM orders
    """,
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable numeric scalar suite — all JVM codegen, no UDFs."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.abs(F.col("o_totalprice") - 100000).alias("abs_dev"),
        F.ceil("o_totalprice").alias("price_ceil"),
        F.floor("o_totalprice").alias("price_floor"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.round(F.log("o_totalprice"), 4).alias("price_ln"),
        F.round(F.log10("o_totalprice"), 4).alias("price_log10"),
        F.signum(F.col("o_totalprice") - 100000).cast("int").alias("dev_sign"),
    )


@query(
    "null_functions",
    oracle="""
    SELECT o_orderkey,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_norm,
           greatest(o_totalprice, 150000.0) AS price_hi,
           least(o_totalprice, 150000.0) AS price_lo,
           (o_orderstatus IS NOT NULL AND o_orderstatus = 'F') AS is_final
    FROM orders
    """,
)
def q_null_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling scalar suite: nullif/coalesce/greatest/least and
    null-safe boolean projection."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_norm"),
        F.greatest("o_totalprice", F.lit(150000.0)).alias("price_hi"),
        F.least("o_totalprice", F.lit(150000.0)).alias("price_lo"),
        (F.col("o_orderstatus").isNotNull() & (F.col("o_orderstatus") == "F")).alias(
            "is_final"
        ),
    )


@query(
    "array_functions",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           round(sqrt(list_aggregate(
               list_transform(embedding, x -> CAST(x AS DOUBLE)
                                              * CAST(x AS DOUBLE)),
               'sum')), 6) AS l2_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val
    FROM embeddings
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function suite (transform/aggregate/filter/
    array_max/element_at) over the embedding column — the JVM-side
    vector toolbox every embedding pipeline leans on. Both engines fold
    the squared-norm left-to-right in double, so values match exactly;
    map-only, no shuffle, no UDF."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "__v", F.transform("embedding", lambda x: x.cast("double"))
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.col("__v"), F.lit(0.0), lambda a, x: a + x * x
                )
            ),
            6,
        ).alias("l2_norm"),
        F.size(F.filter(F.col("__v"), lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max("__v"), 6).alias("max_val"),
        F.round(F.element_at("__v", 1), 6).alias("first_val"),
    )


@query(
    "join_full_outer",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0
    ),
    o AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 2) AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_name, o.n_orders, o.total_spend
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with nulls surviving on both sides (customers
    with no orders; order groups whose customer fell outside the dim
    slice). Shuffle hash join on the key — full-outer cannot broadcast,
    which is exactly why its plan differs from the lookup joins."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_name")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        "n_orders",
        "total_spend",
    )


@query(
    "timeseries_gap_fill",
    oracle="""
    WITH src AS (
      SELECT CAST(o_orderdate AS DATE) AS d, o_totalprice, o_orderkey
      FROM orders
    ),
    daily AS (
      SELECT d, round(sum(o_totalprice), 2) AS revenue
      FROM src WHERE o_orderkey % 97 = 0 GROUP BY d
    ),
    b AS (SELECT min(d) AS lo, max(d) AS hi FROM src),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                 AS d
      FROM b
    ),
    j AS (SELECT spine.d, daily.revenue FROM spine LEFT JOIN daily USING (d))
    SELECT d,
           last_value(revenue IGNORE NULLS) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS revenue_filled,
           revenue IS NULL AS is_gap
    FROM j
    """,
)
def q_timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid densification + forward fill: a generated date spine
    (sequence/explode) left-joins sparse daily revenue, and
    last-non-null carry-forward fills the gaps. The window runs over the
    SPINE (days between min and max — thousands of rows even for a
    decade), not the fact table, so the single-series global sort is
    bounded; with many series, partition the window by the series key."""
    src = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"), "o_totalprice", "o_orderkey"
    )
    daily = (
        src.filter(F.col("o_orderkey") % 97 == 0)
        .groupBy("d")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    spine = (
        src.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("d")
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return spine.join(daily, "d", "left").select(
        "d",
        F.last("revenue", ignorenulls=True).over(w).alias("revenue_filled"),
        F.col("revenue").isNull().alias("is_gap"),
    )


@query(
    "events_ewma",
    oracle="""
    WITH g AS (
      SELECT user_id,
             list(value ORDER BY ts ASC, event_id ASC) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           round(list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc), 4) AS ewma,
           len(vs) AS n_events
    FROM g
    """,
)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    (α = 0.3, seeded with the first value): the classic recursive
    feature y_i = α·x_i + (1−α)·y_{i−1} that plain window frames cannot
    express. Computed as ONE left-fold per key: collect the per-user
    series as (ts, event_id, value) structs, array_sort (deterministic
    under timestamp ties), then an `aggregate` fold with a null-seeded
    coalesce so the first element seeds the recursion — identical
    fold order to the DuckDB list_reduce oracle, so the doubles match
    bit-for-bit before rounding.

    Scale: one shuffle keyed on user_id; per-key state is that user's
    series (bounded by per-user activity, the same bound any stateful
    sessionizer carries). For unbounded per-key series, window the fold
    by day and chain the seeds — same expression, one extra group key."""
    ev = read_events(spark, sf_dir)
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"],
    )
    ewma = F.aggregate(
        vals,
        F.lit(None).cast("double"),
        lambda acc, x: F.coalesce(0.3 * x + 0.7 * acc, x),
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.round(ewma, 4).alias("ewma"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "ewma", "n_events")
    )


@query(
    "value_histogram",
    oracle="""
    SELECT CAST(floor(value / 5) AS BIGINT) AS bin,
           CAST(floor(value / 5) * 5 AS DOUBLE) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(value), 4) AS mean_in_bin
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning — the profiling/EDA staple. The bin
    id is a pure projection, so this is one hash aggregate on a tiny key
    space: partial aggregation collapses everything map-side and the
    shuffle carries only |bins| rows per task at any scale."""
    ev = read_events(spark, sf_dir).filter(F.col("value").isNotNull())
    bin_col = F.floor(F.col("value") / 5)
    return (
        ev.groupBy(
            bin_col.alias("bin"),
            (bin_col * 5).cast("double").alias("bin_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("mean_in_bin"),
        )
    )


@query(
    "regexp_functions",
    oracle="""
    SELECT event_id,
           regexp_extract(props, '[0-9]+') AS first_num,
           len(regexp_extract_all(props, '[0-9]')) AS n_digits,
           regexp_matches(props, '"k": [0-9]+') AS has_k,
           regexp_replace(props, '[0-9]', '#', 'g') AS masked
    FROM events
    """,
)
def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-regex scalar suite: extract / extract-all / match /
    global replace, char-class-only patterns (identical under Java regex
    and RE2; DuckDB global replace needs the 'g' flag). Map-only
    whole-stage-codegen projections."""
    ev = read_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.regexp_extract("props", "[0-9]+", 0).alias("first_num"),
        F.size(F.expr("regexp_extract_all(props, '[0-9]', 0)")).alias("n_digits"),
        F.col("props").rlike('"k": [0-9]+').alias("has_k"),
        F.regexp_replace("props", "[0-9]", "#").alias("masked"),
    )


@query(
    "map_functions",
    oracle="""
    SELECT c_custkey,
           3 AS n_entries,
           c_mktsegment AS seg,
           'key,nat,seg' AS keys_sorted,
           upper(c_mktsegment) AS seg_upper,
           2 AS n_nonkey,
           '1' AS extra,
           CAST(c_nationkey AS VARCHAR) AS nat_val
    FROM customer
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed scalar suite: create_map / map_keys / map_values /
    element_at / map_filter / transform_values / map_concat — the
    attribute-bag pattern (typed metadata on multimodal rows, feature
    maps). All JVM higher-order functions in one codegen projection;
    the map is built from known columns so the DuckDB oracle states the
    expected outputs directly from those columns. Map-only, no shuffle."""
    c = _t(spark, sf_dir, "customer")
    m = F.create_map(
        F.lit("seg"), F.col("c_mktsegment"),
        F.lit("nat"), F.col("c_nationkey").cast("string"),
        F.lit("key"), F.col("c_custkey").cast("string"),
    )
    return c.select(
        "c_custkey",
        F.size(m).alias("n_entries"),
        F.element_at(m, F.lit("seg")).alias("seg"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_sorted"),
        F.element_at(
            F.transform_values(m, lambda _, v: F.upper(v)), F.lit("seg")
        ).alias("seg_upper"),
        F.size(F.map_filter(m, lambda k, _: k != F.lit("key"))).alias("n_nonkey"),
        F.element_at(
            F.map_concat(m, F.create_map(F.lit("extra"), F.lit("1"))),
            F.lit("extra"),
        ).alias("extra"),
        F.concat_ws(
            "|", F.map_values(F.map_filter(m, lambda k, _: k == F.lit("nat")))
        ).alias("nat_val"),
    )


@query(
    "outlier_winsorize",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           count(*) AS n,
           CAST(sum(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           round(avg(greatest(lo, least(hi, l_extendedprice))), 4)
             AS mean_winsorized,
           round(avg(l_extendedprice), 4) AS mean_raw
    FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def q_outlier_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clip to [p01, p99]) — the outlier-robust
    normalization step quality-scoring pipelines apply before thresholding.
    Scale: the bounds side reduces to |groups| rows (one percentile agg),
    broadcast back onto the fact — the big side shuffles once for its own
    final agg, never for the bounds. Exact interpolated percentiles match
    DuckDB's quantile_cont definition."""
    li = _t(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("hi"),
    )
    clipped = F.greatest("lo", F.least("hi", F.col("l_extendedprice")))
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    (F.col("l_extendedprice") < F.col("lo"))
                    | (F.col("l_extendedprice") > F.col("hi"))
                ).cast("long")
            ).alias("n_clipped"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
            F.round(F.avg("l_extendedprice"), 4).alias("mean_raw"),
        )
    )


# ONE string, both engines: Spark executes it via sql.run_sql (temp views +
# spark.sql), DuckDB runs it verbatim as the oracle — proving the SQL
# surface plans the same results as the DataFrame catalog with zero
# translation.
_SQL_PASSTHROUGH = """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


@query("sql_passthrough_revenue", oracle=_SQL_PASSTHROUGH)
def q_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-SQL entry point (sql.run_sql): the exact oracle string handed
    to spark.sql over registered temp views. Catalyst gives the same
    physical plan class as the DataFrame twin (broadcast dim joins,
    map-side-combined agg) — SQL is a front-end, not a second engine."""
    from ..sql import run_sql

    return run_sql(spark, sf_dir, _SQL_PASSTHROUGH)


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs((e.value - s.mu) / s.sigma) > 3
    """,
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score anomaly gate: two-pass outlier detection (group
    stats, then flag |z| > 3) — the monitoring primitive for metric
    streams. The stats side reduces to |event_types| rows and broadcasts
    back, so the corpus is scanned once per pass and never shuffled at
    the row level (same bounded-broadcast shape as winsorization)."""
    ev = read_events(spark, sf_dir)
    s = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(s), "event_type")
        .filter(F.abs(z) > 3)
        .select("event_id", "event_type", F.round(z, 4).alias("z"))
    )


@query(
    "sql_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1995-03-15'
      AND l_shipdate  > DATE '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): selective filters on all three
    tables reach the scans (predicate pushdown), the dim-side join
    broadcasts, and the top-10 is a TakeOrderedAndProject — no global
    sort. The revenue agg shuffles once on the (order, date, priority)
    group key with map-side combine."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("date")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
    )


@query(
    "sql_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q_sql_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): the returnflag filter
    pushes to the lineitem scan, nation broadcasts, the top-20 customers
    by lost revenue reduce via TakeOrderedAndProject."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "sql_promo_revenue",
    oracle="""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4)
             AS promo_pct,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def q_sql_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): conditional aggregation — the
    CASE rides inside the same map-side-combined agg as the denominator,
    so the promo share costs ONE pass and one month-keyed shuffle; the
    part side broadcasts (dim-sized)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(disc), 4).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "sql_priority_lines",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
    """,
)
def q_sql_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (priority line counts): two conditional counts in
    one aggregation over the fact-fact join — the join keys on l_orderkey
    / o_orderkey (both sides shuffle once on the key; AQE picks the
    strategy), then a 3-group agg with map-side combine."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "sql_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_type = 'SMALL'  AND p_size <= 10 AND l_quantity <= 20)
       OR (p_type = 'MEDIUM' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 40)
       OR (p_type = 'LARGE'  AND p_size <= 30 AND l_quantity >= 30)
    """,
)
def q_sql_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicates across a join): three OR'd
    conjunct branches mixing both sides' columns. Catalyst extracts the
    common single-side conjuncts it can (e.g. the p_type/p_size domain
    union pushes to the part scan) and evaluates the residual OR after
    the broadcast join — one scan each side, no union-of-three-joins
    rewrite needed."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    pred = (
        ((F.col("p_type") == "SMALL") & (F.col("p_size") <= 10) & (q <= 20))
        | ((F.col("p_type") == "MEDIUM") & (F.col("p_size") <= 20) & q.between(10, 40))
        | ((F.col("p_type") == "LARGE") & (F.col("p_size") <= 30) & (q >= 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "sql_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-07-01'
      AND o_orderdate <  DATE '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_sql_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): EXISTS decorrelates to a
    LEFT SEMI join on the order key with a cross-side residual (the
    late-shipment predicate compares columns from BOTH sides — the
    synthetic schema has no commit/receipt dates, so 'late' is shipdate
    more than 60 days after orderdate). The quarter filter pushes to the
    orders scan; the semi-join emits each order at most once, so no
    post-join dedup is needed; the 5-group count aggregates map-side."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == orders.o_orderkey) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "sql_customer_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_sql_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join so zero-order customers survive into the c_count = 0 bucket
    (count(o_orderkey) counts NON-NULL keys — the outer-agg null-group
    semantics this query exists to exercise), with the exclusion filter
    on the JOIN condition, not a WHERE (a WHERE would turn the outer join
    inner and silently drop the zero bucket; the synthetic schema has no
    o_comment, so urgent-priority orders stand in for 'special
    requests'). Plan: the join shuffles both sides on the customer key
    and the first agg REUSES that partitioning (no second exchange —
    groupBy key == join key); the distribution re-agg is 2 columns wide
    and tiny."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "sql_large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_totalprice, sum(l_quantity) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING sum(l_quantity) > 250)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_sql_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): IN over an aggregated
    subquery — the qualifying-order set (sum qty > 250, ~1% of orders)
    comes from one map-side-combined agg over lineitem, then SEMI-joins
    orders on the key (AQE broadcasts the filtered set while it's small;
    at 100 TB it degrades gracefully to a keyed shuffle semi-join, never
    a rescan). The re-join to lineitem for per-order totals reuses the
    l_orderkey partitioning from the HAVING agg; top-100 by order value
    is TakeOrderedAndProject."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 250)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "sql_part_supplier_chain",
    oracle="""
    SELECT s_name, s_suppkey, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3',
                     'NATION_4')
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'red%')
          AND l_shipdate >= DATE '1995-01-01'
          AND l_shipdate <  DATE '1996-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 40)
    ORDER BY s_name, s_suppkey
    """,
)
def q_sql_part_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested semi-join chain): part-name filter →
    SEMI into the lineitem scan (broadcast — the 'red%' part set is a
    bounded slice of a dim), per-(supplier, part) volume HAVING →
    SEMI into supplier → broadcast nation filter. Both semis keep each
    stage's output a set (no duplicate suppliers to dedup later); the
    only wide shuffle is the (l_suppkey, l_partkey) agg, keyed on a
    2-column composite that scales with the fact table. The synthetic
    schema has no partsupp/availqty, so the inner correlate is
    'shipped > 40 units of one red part in 1995'."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*[f"NATION_{i}" for i in range(5)])
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("date"))
    )
    qualifying = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 40)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(qualifying, supp.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_name", "s_suppkey", "n_name")
        .orderBy("s_name", "s_suppkey")
    )


@query(
    "sql_min_cost_supplier",
    oracle="""
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             round(min(l_extendedprice / l_quantity), 2) AS unit_price
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey),
    best AS (
      SELECT l_partkey, l_suppkey, unit_price,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY unit_price ASC, l_suppkey ASC) AS rn
      FROM offers)
    SELECT p_partkey, p_name, s_suppkey, s_name, unit_price
    FROM part
    JOIN best ON p_partkey = l_partkey AND rn = 1
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size < 15 AND p_type = 'SMALL'
    ORDER BY p_partkey
    """,
)
def q_sql_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): the correlated MIN subquery
    ('the supplier whose unit price equals the per-part minimum')
    decorrelates into one (part, supplier) agg + an argmin-per-part window
    — no per-part rescan, and the per-part top-1 is one keyed shuffle.
    Unit prices round to 2 dp BEFORE the argmin so Spark and the oracle
    agree on float ties (deterministic s_suppkey tie-break after that).
    The part dim filter broadcasts; the synthetic schema has no partsupp,
    so lineitem plays the supply-offer relation."""
    from ..operators.windows import topk_per_group

    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") < 15) & (F.col("p_type") == "SMALL")
    )
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")), 2
        ).alias("unit_price")
    )
    best = topk_per_group(
        offers,
        ["l_partkey"],
        [-F.col("unit_price"), -F.col("l_suppkey")],
        k=1,
        descending=True,  # descending over negated cols = asc, nulls safe
    )
    return (
        F.broadcast(part)
        .join(best, part.p_partkey == best.l_partkey)
        .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "unit_price")
        .orderBy("p_partkey")
    )


@query(
    "sql_important_parts",
    oracle="""
    SELECT l_partkey, round(sum(l_extendedprice), 2) AS value
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_extendedprice) > (SELECT sum(l_extendedprice) * 0.0005
                                   FROM lineitem)
    ORDER BY value DESC, l_partkey ASC
    LIMIT 50
    """,
)
def q_sql_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): HAVING against a GLOBAL scalar —
    the total-value subquery reduces to one broadcast scalar frame
    cross-joined onto the per-part agg (two aggs over one scan shape, no
    rescan-per-group); top-50 is TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum("l_extendedprice").alias("raw_value")
    )
    total = li.agg((F.sum("l_extendedprice") * 0.0005).alias("threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("raw_value") > F.col("threshold"))
        .select(
            "l_partkey", F.round("raw_value", 2).alias("value")
        )
        .orderBy(F.col("value").desc(), F.col("l_partkey").asc())
        .limit(50)
    )


@query(
    "sql_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q_sql_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): argmax-of-aggregate via scalar
    subquery — per-supplier revenue agg once, global max as a broadcast
    scalar, equality filter (on the 2-dp-rounded value both engines
    computed identically) instead of a global sort."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@query(
    "sql_parts_supplier_count",
    oracle="""
    SELECT p_brand, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC
    """,
)
def q_sql_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): NOT IN over a
    subquery → broadcast LEFT ANTI join (the excluded-supplier set is a
    bounded dim slice; the synthetic schema has no comments, so negative
    account balance stands in for 'customer complaints'), then a
    count(DISTINCT) keyed on the (brand, size) group — one partial-agg
    shuffle, dim filters pushed to the part scan."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(5, 10, 15, 20)
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(bad_supp),
            li.l_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_size").asc(),
        )
    )


@query(
    "sql_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_sql_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (revenue-change forecast): a pure scan-filter-sum
    with every predicate pushable to the parquet reader (shipdate range,
    discount band, quantity cap all land in PushedFilters + row-group
    min/max skipping). At 100 TB this is the I/O-bound best case — no
    join, no shuffle beyond the single-row partial-agg merge; wall time
    is bytes-scanned after pruning, which the date range cuts to ~1/7th
    on time-partitioned layouts."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


@query(
    "sql_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM lineitem l
      JOIN orders o    ON o.o_orderkey = l.l_orderkey
      JOIN part p      ON p.p_partkey = l.l_partkey
      JOIN supplier s  ON s.s_suppkey = l.l_suppkey
      JOIN nation n2   ON n2.n_nationkey = s.s_nationkey
      JOIN customer c  ON c.c_custkey = o.o_custkey
      JOIN nation n1   ON n1.n_nationkey = c.c_nationkey
      JOIN region r    ON r.r_regionkey = n1.n_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q_sql_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the eight-table join
    collapses to ONE fact-fact shuffle (lineitem ⋈ orders on orderkey) —
    part, supplier⋈nation, and the customer→nation→region market filter
    are all pre-reduced dim frames small enough to broadcast, so Catalyst
    plans them as BroadcastHashJoins hanging off the two fact scans. The
    share-of-total is a conditional sum inside the same year-keyed
    aggregation, not a second pass. The part filter is applied BEFORE the
    fact-fact join (broadcast semi via the inner join) so the orderkey
    shuffle carries only promo-part lines (~1/6th of the fact)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    supp_nation = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    market_cust = F.broadcast(
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(market_cust, o.o_custkey == F.col("c_custkey"), "left_semi")
        .join(supp_nation, li.l_suppkey == supp_nation.s_suppkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "sql_product_profit",
    oracle="""
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount)
               - 0.1 * p.p_retailprice * l.l_quantity AS amount
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE p.p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q_sql_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit). The corpus has no partsupp
    table (TESTDATA.md), so supply cost is adapted to a deterministic
    fraction of ``p_retailprice`` — preserving the shape that matters:
    a LIKE-filtered part dim driving the fact scan, a fact-fact orderkey
    join, and a (nation, year) rollup. Plan hygiene mirrors Q8: part and
    supplier⋈nation broadcast, the LIKE filter shrinks the fact BEFORE
    the orderkey shuffle (inner broadcast join acts as the semi-filter),
    and the final agg shuffles on the 25×7 (nation, year) key space —
    tiny, skew-free, safe at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    supp_nation = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .join(supp_nation, li.l_suppkey == supp_nation.s_suppkey)
        .select(
            "nation",
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@query(
    "events_time_weighted_avg",
    # TWA over irregular samples: each observed value holds until the
    # next observation (zero-order hold); weight = seconds until the
    # next event of the same user. Users with one event have no held
    # interval -> excluded (matching both engines).
    oracle="""
    WITH seq AS (
      SELECT user_id, value, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    held AS (
      SELECT user_id,
             date_diff('microsecond', ts, nxt) / 1e6 AS dur,
             value
      FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           round(sum(dur * coalesce(value, 0.0)) / sum(dur), 4) AS twa_value,
           count(*) AS n_intervals
    FROM held GROUP BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over irregularly-sampled event values
    (zero-order hold — the standard sensor/price aggregation where a
    plain AVG over-weights bursts). One window shuffle keyed on
    user_id, then a hash agg; at 100 TB this partitions by entity and
    never sorts globally."""
    from pyspark.sql import Window as W_

    ev = _t(spark, sf_dir, "events")
    w = W_.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("nxt", F.lead("ts").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    # timestampdiff keeps the duration integer-exact AND works on the
    # events table's TIMESTAMP_NTZ without a session-timezone-dependent
    # cast (unix_micros rejects NTZ; double-casting rounds at ~1e-7 s)
    held = seq.select(
        "user_id",
        (
            F.expr("timestampdiff(MICROSECOND, ts, nxt)") / F.lit(1e6)
        ).alias("dur"),
        F.coalesce("value", F.lit(0.0)).alias("v"),
    )
    return held.groupBy("user_id").agg(
        F.round(F.sum(F.col("dur") * F.col("v")) / F.sum("dur"), 4).alias(
            "twa_value"
        ),
        F.count(F.lit(1)).alias("n_intervals"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "events_pivot_by_type",
    oracle="""
    SELECT user_id,
           round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END), 2) AS click,
           round(sum(CASE WHEN event_type = 'error' THEN value ELSE 0 END), 2) AS error,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase,
           round(sum(CASE WHEN event_type = 'signup' THEN value ELSE 0 END), 2) AS signup,
           round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END), 2) AS "view"
    FROM events GROUP BY user_id
    """,
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long event stream → wide per-user value matrix via
    `groupBy().pivot(values=...)`. Passing the value list explicitly
    skips Spark's distinct-scan pre-pass (one aggregation instead of
    two jobs) — at scale the pivot column set must be known/bounded
    anyway, since it becomes the schema."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2))
    )
    # pivot cells with no rows are null; oracle's CASE yields 0.0
    return out.select(
        "user_id",
        *[F.round(F.coalesce(F.col(t), F.lit(0.0)), 2).alias(t) for t in _EVENT_TYPES],
    )


@query(
    "events_unpivot_values",
    # UNPIVOT/melt of the per-user pivot back to long form, keeping only
    # non-zero cells — round-trips the pivot above.
    oracle="""
    WITH wide AS (
      SELECT user_id,
             round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END), 2) AS click,
             round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase
      FROM events GROUP BY user_id
    )
    SELECT user_id, kind, amount FROM (
      SELECT user_id, 'click' AS kind, click AS amount FROM wide
      UNION ALL
      SELECT user_id, 'purchase' AS kind, purchase AS amount FROM wide
    ) WHERE amount <> 0
    """,
)
def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) via the native `DataFrame.unpivot` — wide columns
    back to (entity, kind, amount) long form; map-only after the
    aggregation, no shuffle added by the unpivot itself."""
    ev = _t(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase"])
        .agg(F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2))
        .select(
            "user_id",
            F.coalesce("click", F.lit(0.0)).alias("click"),
            F.coalesce("purchase", F.lit(0.0)).alias("purchase"),
        )
    )
    return wide.unpivot(
        "user_id", ["click", "purchase"], "kind", "amount"
    ).filter(F.col("amount") != 0)


@query(
    "grouping_cube",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty,
           grouping(l_returnflag) + 2 * grouping(l_linestatus) AS gid
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_grouping_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 aggregation levels in one pass —
    Catalyst expands to a single Expand + hash agg, not 4 scans);
    grouping-id column disambiguates coalesced NULL keys."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            (
                F.grouping("l_returnflag") + 2 * F.grouping("l_linestatus")
            ).cast("long").alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "n",
            "sum_qty",
            "gid",
        )
    )


@query(
    "window_analytics_suite",
    oracle="""
    SELECT event_id, user_id,
           round(coalesce(lag(value) OVER w, 0.0), 4) AS prev_value,
           round(coalesce(lead(value) OVER w, 0.0), 4) AS next_value,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ordered-analytics surface over one entity-keyed window —
    lag/lead (neighbor context), ntile (equi-depth bucketing),
    percent_rank/cume_dist (empirical CDF). ONE window spec → ONE sort
    within one shuffle; Catalyst evaluates all five functions in a
    single Window physical node (plan-asserted single exchange)."""
    from pyspark.sql import Window as W_

    ev = _t(spark, sf_dir, "events")
    w = W_.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.coalesce(F.lag("value").over(w), F.lit(0.0)), 4).alias(
            "prev_value"
        ),
        F.round(F.coalesce(F.lead("value").over(w), F.lit(0.0)), 4).alias(
            "next_value"
        ),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@query(
    "interval_coverage",
    # Each event opens a 30-minute activity interval; overlapping
    # intervals merge into islands; per user: islands + total covered
    # seconds (double-counting overlap would inflate it — the point of
    # the merge).
    oracle="""
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events
    ),
    marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e) AS island
      FROM marked
    ),
    merged AS (
      SELECT user_id, island, min(s) AS s0, max(e) AS e1
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           count(*) AS n_islands,
           CAST(sum(date_diff('microsecond', s0, e1) // 1000000) AS BIGINT)
             AS covered_seconds
    FROM merged GROUP BY user_id
    """,
)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of overlapping per-user activity intervals (gaps-and-
    islands): an island starts where an interval begins after the
    running max of prior ends; covered time sums island spans — the
    dedup that makes utilization metrics correct. One window pass over
    one user-keyed shuffle, then a hash agg; no self-join."""
    from pyspark.sql import Window as W_

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    w = (
        W_.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W_.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.max("e").over(w), 1).otherwise(0),
    )
    w2 = W_.partitionBy("user_id").orderBy("s", "e")
    islands = marked.withColumn("island", F.sum("new_island").over(w2))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("s0"), F.max("e").alias("e1")
    )
    # whole-second floor of the exact µs span, matching the oracle's
    # `date_diff('microsecond') // 1e6` (DuckDB's date_diff('second')
    # counts BOUNDARY crossings, not elapsed seconds — off by one for
    # sub-second phases)
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.expr("timestampdiff(MICROSECOND, s0, e1) div 1000000"))
        .cast("long")
        .alias("covered_seconds"),
    )


# ---------------------------------------------------------------------------
# product-analytics family: sequential funnel + weekly cohort retention
# (operators/funnel.py). `event_funnel` keeps the one-pass
# min-min formulation; this is the STRICT sequential semantics — stage k
# binds to the earliest stage-k event strictly after the bound stage-(k-1)
# event, so a user whose first 'click' precedes 'signup' still converts
# via a later click. Chained conditional window minimums: one exchange +
# one sort on user_id, k stacked window nodes, no per-user arrays.
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ["signup", "view", "click", "purchase"]


_SEQ_FUNNEL_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    s0 AS (
      SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
                  OVER (PARTITION BY user_id) AS t0 FROM ev
    ),
    s1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' AND ts > t0 THEN ts END)
                  OVER (PARTITION BY user_id) AS t1 FROM s0
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2 FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3 FROM s2
    ),
    pu AS (
      SELECT user_id, max(t0) AS t0, max(t1) AS t1,
             max(t2) AS t2, max(t3) AS t3
      FROM s3 GROUP BY user_id
    ),
    c AS (
      SELECT CAST(count(t0) AS BIGINT) AS c0, CAST(count(t1) AS BIGINT) AS c1,
             CAST(count(t2) AS BIGINT) AS c2, CAST(count(t3) AS BIGINT) AS c3
      FROM pu
    )
    SELECT 1 AS stage_idx, 'signup' AS stage, c0 AS users,
           round(c0 * 100.0 / c0, 6) AS conv_pct FROM c
    UNION ALL
    SELECT 2, 'view', c1, round(c1 * 100.0 / c0, 6) FROM c
    UNION ALL
    SELECT 3, 'click', c2, round(c2 * 100.0 / c0, 6) FROM c
    UNION ALL
    SELECT 4, 'purchase', c3, round(c3 * 100.0 / c0, 6) FROM c
"""


@query("funnel_sequential", oracle=_SEQ_FUNNEL_ORACLE)
def q_funnel_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel
    from ..sources.readers import read_events

    return funnel(read_events(spark, sf_dir), _FUNNEL_STAGES)


_COHORT_ORACLE = """
    WITH uw AS (
      SELECT DISTINCT user_id AS u,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
      FROM events
    ),
    c AS (
      SELECT u, wk, min(wk) OVER (PARTITION BY u) AS cohort_week FROM uw
    )
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, wk) / 7 AS INTEGER) AS week_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM c GROUP BY cohort_week, week_offset
"""


@query("cohort_retention", oracle=_COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import cohort_retention
    from ..sources.readers import read_events

    return cohort_retention(read_events(spark, sf_dir))


# windowed funnel: same sequential semantics, but each stage must land
# within 72 h of the previous bound event (the conversion-window variant
# every product-analytics store offers).
_WINDOWED_FUNNEL_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    s0 AS (
      SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
                  OVER (PARTITION BY user_id) AS t0 FROM ev
    ),
    s1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' AND ts > t0
                          AND ts <= t0 + INTERVAL 259200 SECOND THEN ts END)
                  OVER (PARTITION BY user_id) AS t1 FROM s0
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                          AND ts <= t1 + INTERVAL 259200 SECOND THEN ts END)
                  OVER (PARTITION BY user_id) AS t2 FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                          AND ts <= t2 + INTERVAL 259200 SECOND THEN ts END)
                  OVER (PARTITION BY user_id) AS t3 FROM s2
    ),
    pu AS (
      SELECT user_id, max(t0) AS t0, max(t1) AS t1,
             max(t2) AS t2, max(t3) AS t3
      FROM s3 GROUP BY user_id
    ),
    c AS (
      SELECT CAST(count(t0) AS BIGINT) AS c0, CAST(count(t1) AS BIGINT) AS c1,
             CAST(count(t2) AS BIGINT) AS c2, CAST(count(t3) AS BIGINT) AS c3
      FROM pu
    )
    SELECT 1 AS stage_idx, 'signup' AS stage, c0 AS users,
           round(c0 * 100.0 / c0, 6) AS conv_pct FROM c
    UNION ALL
    SELECT 2, 'view', c1, round(c1 * 100.0 / c0, 6) FROM c
    UNION ALL
    SELECT 3, 'click', c2, round(c2 * 100.0 / c0, 6) FROM c
    UNION ALL
    SELECT 4, 'purchase', c3, round(c3 * 100.0 / c0, 6) FROM c
"""


@query("funnel_windowed", oracle=_WINDOWED_FUNNEL_ORACLE)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel
    from ..sources.readers import read_events

    return funnel(
        read_events(spark, sf_dir), _FUNNEL_STAGES, max_gap_seconds=259200
    )


# top event paths: each user's first 5 event types in (ts, event_id)
# order, '>'-joined, counted; exact top-20 under a total order.
_TOP_PATHS_ORACLE = """
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM o WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS users
    FROM p GROUP BY path
    ORDER BY users DESC, path LIMIT 20
"""


@query("event_top_paths", oracle=_TOP_PATHS_ORACLE)
def q_event_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import top_paths
    from ..sources.readers import read_events

    return top_paths(read_events(spark, sf_dir), n_steps=5, top_k=20)


# ---------------------------------------------------------------------------
# RFM segmentation — exercises operators.windows.global_ntile, the
# distributed exact ntile (two-phase range-partition rank; NO
# single-partition Window.orderBy sort). The oracle uses DuckDB's
# built-in ntile — identical ANSI bucket allocation — so the hash match
# proves the distributed formulation IS ntile. Ordering keys carry a
# user_id tiebreak (total-order contract) and `monetary` is rounded
# BEFORE ranking so double partial-sum drift can't reorder neighbors.
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
    WITH pu AS (
      SELECT user_id,
             datediff('day', max(CAST(ts AS TIMESTAMP)),
                      (SELECT max(CAST(ts AS TIMESTAMP)) FROM events))
               AS recency,
             count(*) AS freq,
             round(sum(value), 6) AS monetary
      FROM events GROUP BY user_id
    ),
    q AS (
      SELECT ntile(4) OVER (ORDER BY recency, user_id)  AS r_q,
             ntile(4) OVER (ORDER BY freq, user_id)     AS f_q,
             ntile(4) OVER (ORDER BY monetary, user_id) AS m_q
      FROM pu
    )
    SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS users
    FROM q GROUP BY r_q, f_q, m_q
"""


@query("rfm_segments", oracle=_RFM_ORACLE)
def q_rfm_segments(
    spark: SparkSession, sf_dir: str, ntile_driver_limit: int | None = None
) -> DataFrame:
    # r8 (VERDICT r7 #5): the three per-metric global_ntile passes
    # compiled to 52 shuffles (each pass re-range-partitioned the frame
    # already carrying the previous passes' machinery). The melted
    # multi-metric form shares ONE range exchange + ONE size collect
    # across all three quartiles — same oracle hash, ~¼ the shuffles.
    from ..operators.windows import global_ntile_multi
    from ..sources.readers import read_events

    ev = read_events(spark, sf_dir)
    anchor = ev.agg(F.max("ts").alias("__anchor"))
    pu = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("__last"),
            F.count(F.lit(1)).alias("freq"),
            F.round(F.sum("value"), 6).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn("recency", F.datediff(F.col("__anchor"), F.col("__last")))
    )
    seg = global_ntile_multi(
        pu,
        [("recency", "r_q"), ("freq", "f_q"), ("monetary", "m_q")],
        tie_cols=["user_id"],
        n_buckets=4,
        driver_limit=ntile_driver_limit,
    )
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("users")
    )


@query("rfm_segments_dist", oracle=_RFM_ORACLE)
def q_rfm_segments_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_rfm_segments(spark, sf_dir, ntile_driver_limit=0)


# Exact global median via distributed rank — Spark's exact `percentile`
# aggregate buffers every value of the group in executor memory (fine
# per-group, fatal for a single global group at fact-table scale);
# global_rank keeps the sort range-partitioned and picks the middle
# order statistics by rank. Even-n median = mean of the two middles,
# matching DuckDB's quantile_cont(0.5).
_MEDIAN_ORACLE = """
    SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
"""


@query("exact_median_rank", oracle=_MEDIAN_ORACLE)
def q_exact_median_rank(
    spark: SparkSession, sf_dir: str, driver_gate: int = 5_000_000
) -> DataFrame:
    from ..operators.windows import global_rank_with_count

    li = _t(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    # r10 size dispatch (guide §1.2): the mid-rank PRICES depend only on
    # the price ordering (the orderkey/linenumber tiebreak permutes
    # equal prices among themselves), so below the gate ONE Arrow
    # collect of the single 8 B column + an O(n) numpy partition finds
    # them — versus the distributed exact-rank machinery (range-sample
    # job, per-partition sort, persist, size collect, offset join) that
    # costs ~2 s of stages for a 2-row answer at sf0.1. The final
    # avg/round runs through the SAME Spark expressions on the 2-row
    # frame, so result semantics (HALF_UP rounding) are untouched.
    # 5 M rows ≈ 40 MB collected — bounded by construction; the
    # distributed rank path is unchanged above the gate.
    n = li.count()  # parquet metadata count — no data scan
    if 0 < n <= driver_gate:
        import numpy as np

        prices = li.select("l_extendedprice").toPandas()[
            "l_extendedprice"
        ].to_numpy(np.float64)
        mid0, mid1 = (n + 1) // 2 - 1, n // 2  # 0-based mid positions
        part = np.partition(prices, [mid0, mid1])
        two = spark.createDataFrame(
            [(float(part[mid0]),), (float(part[mid1]),)],
            "l_extendedprice double",
        )
        return two.agg(
            F.round(F.avg("l_extendedprice"), 4).alias("median_price"),
            F.lit(n).cast("long").alias("n_rows"),
        )
    ranked, n = global_rank_with_count(
        li, ["l_extendedprice", "l_orderkey", "l_linenumber"], rank_col="r"
    )  # n rides along from the rank pass — no extra count job
    mid = [(n + 1) // 2, n // 2 + 1]  # equal for odd n
    return (
        ranked.filter(F.col("r").isin(mid))
        .agg(
            F.round(F.avg("l_extendedprice"), 4).alias("median_price"),
            F.lit(n).cast("long").alias("n_rows"),
        )
    )


@query("exact_median_rank_dist", oracle=_MEDIAN_ORACLE)
def q_exact_median_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_exact_median_rank(spark, sf_dir, driver_gate=0)


# next-event Markov transition matrix: lead() over the per-user ordered
# stream (ts + event_id total order), then a count + per-source
# normalization. One exchange on user_id, one tiny agg exchange.
_TRANSITIONS_ORACLE = """
    WITH o AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      FROM events
    )
    SELECT event_type AS from_type, to_type,
           CAST(count(*) AS BIGINT) AS transitions,
           round(count(*) * 1.0 /
                 sum(count(*)) OVER (PARTITION BY event_type), 6) AS prob
    FROM o WHERE to_type IS NOT NULL
    GROUP BY event_type, to_type
"""


@query("event_transitions", oracle=_TRANSITIONS_ORACLE)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.readers import read_events

    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.withColumn("to_type", F.lead("event_type").over(w)).filter(
        F.col("to_type").isNotNull()
    )
    agg = o.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count(F.lit(1)).alias("transitions"))
    wsrc = Window.partitionBy("from_type")
    return agg.withColumn(
        "prob",
        F.round(
            F.col("transitions") * 1.0 / F.sum("transitions").over(wsrc), 6
        ),
    )
