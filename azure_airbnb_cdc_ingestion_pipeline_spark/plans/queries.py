"""Correctness-query catalog: every implemented operator from SURVEY.md §2,
mapped onto the driver's testdata tables, each paired with DuckDB oracle SQL.

Domain mapping (reference → testdata):
- ``bookings_fact``  → ``orders``  (o_custkey=FK, o_totalprice=amount,
                                    o_orderdate=booking_date)
- ``customer_dim``   → ``customer`` ⋈ ``nation`` (n_name = country)
- change-feed stream → ``events``  (user_id=key, ts=event time; updates =
                                    later events for the same key)

Column-naming contract: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver hash-compares by sorted column
name). Monetary sums are rounded to 2dp on BOTH sides to make the hash
insensitive to float summation order.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import gold_booking_aggregation
from ..operators.lookup import lookup_latest
from ..operators.merge import latest_per_key, merge_dataframes
from ..operators.project import select_map
from ..operators.split import conditional_split
from ..operators.windows import topk_per_group
from ..sources.readers import cast_to_schema, read_csv, read_events
from ..sources.tables import ParquetTable

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.readers import read_table

    return read_table(spark, sf_dir, name)


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable, optionally with its
    DuckDB oracle SQL (omit for non-SQL-expressible ops → rows-only check).
    A key registered twice raises: the later registration would otherwise
    silently replace the earlier query and its oracle."""
    if name in QUERIES:
        raise ValueError(f"catalog key {name!r} is already registered")

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# A1+J2 — the flagship: star join + group-by (SURVEY §2.4 A1, §2.3 J2).
# Reference: /root/reference/synapse_table_creation.sql:59-69.
# ---------------------------------------------------------------------------
@query(
    "agg_groupby_join",
    oracle="""
    SELECT n.n_name AS country,
           count(*) AS total_bookings,
           round(sum(coalesce(o.o_totalprice, 0)), 2) AS total_amount,
           max(o.o_orderdate) AS last_booking_date
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_agg_groupby_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").alias("booking_date"),
    )
    dim = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(_t(spark, sf_dir, "nation")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("customer_id"),
                F.col("n_name").alias("country"))
    )
    out = gold_booking_aggregation(fact, dim)
    return out.select(
        "country",
        "total_bookings",
        F.round("total_amount", 2).alias("total_amount"),
        "last_booking_date",
    )


# ---------------------------------------------------------------------------
# S2 — warehouse table scan (SURVEY §2.1 S2). Full snapshot read with
# projection; Catalyst prunes the parquet scan to the 4 columns.
# ---------------------------------------------------------------------------
@query(
    "source_table_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def q_source_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# T1 — conditional split, disjoint (SURVEY §2.2 T1). Predicate-true rows to
# the FIRST stream (BadRecords). Quality gate analog: discount exceeding tax.
# Reference: /root/reference/dataflow/BookingDataTransformation.json:96-97.
# ---------------------------------------------------------------------------
_SPLIT_PRED_SQL = "l_discount > l_tax"


@query(
    "filter_split_bad",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_discount, l_tax
    FROM lineitem WHERE {_SPLIT_PRED_SQL}
    """,
)
def q_filter_split_bad(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    bad, _good = conditional_split(li, F.col("l_discount") > F.col("l_tax"))
    return bad.select("l_orderkey", "l_linenumber", "l_discount", "l_tax")


@query(
    "filter_split_good",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_discount, l_tax
    FROM lineitem
    WHERE NOT ({_SPLIT_PRED_SQL}) OR ({_SPLIT_PRED_SQL}) IS NULL
    """,
)
def q_filter_split_good(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    _bad, good = conditional_split(li, F.col("l_discount") > F.col("l_tax"))
    return good.select("l_orderkey", "l_linenumber", "l_discount", "l_tax")


# ---------------------------------------------------------------------------
# S9 — rejected-rows side channel (SURVEY §2.1 S9): the quarantine count.
# ---------------------------------------------------------------------------
@query(
    "rejected_rows_channel",
    oracle=f"SELECT count(*) AS rejected_count FROM lineitem WHERE {_SPLIT_PRED_SQL}",
)
def q_rejected_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    bad, _ = conditional_split(li, F.col("l_discount") > F.col("l_tax"))
    return bad.agg(F.count(F.lit(1)).alias("rejected_count"))


# ---------------------------------------------------------------------------
# T2 — derived columns (SURVEY §2.2 T2): to_timestamp/datediff/year/month/
# concat over a fact⋈orders frame — the full scalar surface of §2.6.
# Reference: /root/reference/dataflow/BookingDataTransformation.json:98-114.
# ---------------------------------------------------------------------------
@query(
    "derive_columns",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
               AS ship_delay_days,
           year(o.o_orderdate) AS order_year,
           month(o.o_orderdate) AS order_month,
           concat(o.o_orderstatus, ' / ', o.o_orderpriority) AS status_label
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q_derive_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("int")
        .alias("ship_delay_days"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.concat(F.col("o_orderstatus"), F.lit(" / "), F.col("o_orderpriority")).alias(
            "status_label"
        ),
    )


# ---------------------------------------------------------------------------
# T3 — select / rename / prune (SURVEY §2.2 T3).
# ---------------------------------------------------------------------------
@query(
    "project_rename",
    oracle="""
    SELECT c_custkey AS customer_id, c_name AS customer_name,
           c_mktsegment AS segment, round(c_acctbal, 2) AS balance
    FROM customer
    """,
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return select_map(
        _t(spark, sf_dir, "customer"),
        {
            "customer_id": "c_custkey",
            "customer_name": "c_name",
            "segment": "c_mktsegment",
            "balance": F.round("c_acctbal", 2),
        },
    )


# ---------------------------------------------------------------------------
# J1+O1+O2 — lookup join: left-outer equi-join to latest-per-key
# (SURVEY §2.3 J1): customers joined to their most recent event.
# Reference: /root/reference/dataflow/BookingDataTransformation.json:115-119.
# ---------------------------------------------------------------------------
@query(
    "lookup_join_latest",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC NULLS LAST,
                                           event_id DESC NULLS LAST) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT c.c_custkey AS user_id, c.c_name AS customer_name,
           l.event_type AS last_event_type, l.value AS last_value
    FROM customer c LEFT JOIN latest l ON c.c_custkey = l.user_id
    """,
)
def q_lookup_join_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_name").alias("customer_name")
    )
    lookup = read_events(spark, sf_dir).select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    out = lookup_latest(left, lookup, on="user_id", order_by=["ts", "event_id"])
    return out.select(
        "user_id",
        "customer_name",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# J2 — inner equi-join (SURVEY §2.3 J2).
# Reference: /root/reference/synapse_table_creation.sql:64-67.
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


# ---------------------------------------------------------------------------
# S6 — SCD Type 1 upsert (SURVEY §2.1 S6): dim merge keyed on customer_id.
# Source batch = deterministic transform of the customer table: updated
# balances for custkey%10==0, plus brand-new synthetic customers.
# Reference: /root/reference/pipeline/LoadCustomerDim.json:82-101.
# ---------------------------------------------------------------------------
_SCD1_SOURCE_SQL = """
      SELECT c_custkey, c_name, c_nationkey,
             round(c_acctbal + 100.0, 2) AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, concat('NEW ', c_name), c_nationkey,
             0.0 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 17 = 0
"""


@query(
    "scd1_upsert",
    oracle=f"""
    WITH src AS ({_SCD1_SOURCE_SQL}),
    merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT t.* FROM customer t
      WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = t.c_custkey)
    )
    SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS c_acctbal,
           c_mktsegment
    FROM merged
    """,
)
def q_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    updated = cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
    )
    new = cust.filter(F.col("c_custkey") % 17 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW "), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    source = updated.unionByName(new)
    merged = merge_dataframes(cust, source, keys=["c_custkey"])
    return merged.withColumn("c_acctbal", F.round("c_acctbal", 2))


# ---------------------------------------------------------------------------
# S5 — keyed upsert merge with latest-per-key source dedupe (SURVEY §2.1 S5):
# the CDC fact merge. Target = merged state of even events; source = odd
# events (carrying intra-batch duplicates per user_id that must resolve to
# the latest by ts). Reference semantics:
# /root/reference/dataflow/BookingDataTransformation.json:115-121,156-186.
# ---------------------------------------------------------------------------
@query(
    "sink_upsert_merge",
    oracle="""
    WITH tgt AS (
      SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC NULLS LAST,
                                           event_id DESC NULLS LAST) AS rn
        FROM events WHERE event_id % 2 = 0
      ) WHERE rn = 1
    ),
    src AS (
      SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC NULLS LAST,
                                           event_id DESC NULLS LAST) AS rn
        FROM events WHERE event_id % 2 = 1
      ) WHERE rn = 1
    )
    SELECT * FROM src
    UNION ALL
    SELECT t.* FROM tgt t
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.user_id = t.user_id)
    """,
)
def q_sink_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    cols = ["user_id", "event_id", "event_type", "value"]
    target = latest_per_key(
        ev.filter(F.col("event_id") % 2 == 0), ["user_id"], ["ts", "event_id"]
    ).select(*cols)
    source = ev.filter(F.col("event_id") % 2 == 1).select(*cols, "ts")
    return merge_dataframes(
        target, source, keys=["user_id"], order_by=["ts", "event_id"]
    )


# ---------------------------------------------------------------------------
# A2 — gold full-refresh materialization (SURVEY §2.4 A2): the flagship
# aggregate written through the atomic-overwrite table and read back.
# Reference: /root/reference/synapse_table_creation.sql:71-88.
# ---------------------------------------------------------------------------
@query("gold_full_refresh", oracle=ORACLE_SQL.get("agg_groupby_join"))
def q_gold_full_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    result = q_agg_groupby_join(spark, sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="gold_"), "booking_agg")
    table = ParquetTable(spark, root)
    table.overwrite(result)
    return table.read()


# ---------------------------------------------------------------------------
# S3 — CSV source roundtrip (SURVEY §2.1 S3): write customer as CSV with the
# archive sink options, re-read string-first with the reference's
# DelimitedText options, lenient-cast back onto the typed schema.
# Reference: /root/reference/dataset/CustomerDataRaw.json:12-19.
# ---------------------------------------------------------------------------
@query(
    "source_csv_read",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS c_acctbal,
           c_mktsegment
    FROM customer
    """,
)
def q_source_csv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    tmp = os.path.join(tempfile.mkdtemp(prefix="csv_"), "customer_csv")
    (
        cust.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .csv(tmp)
    )
    raw = read_csv(spark, tmp)  # string-first
    typed = cast_to_schema(raw, cust.schema)
    return typed.withColumn("c_acctbal", F.round("c_acctbal", 2))


# ---------------------------------------------------------------------------
# S1 — incremental stream source (SURVEY §2.1 S1): file-stream read of the
# events table (change-feed-from-the-beginning analog), drained with an
# availableNow trigger into a memory sink.
# Reference: /root/reference/dataflow/BookingDataTransformation.json:55-72.
# r5: EXACT oracle — the drain is a deterministic pass-through of four
# parquet columns (no event-time, no window boundaries), so the full
# drained content hash-compares against the plain batch projection;
# exactly-once delivery of the backfill is thereby value-checked, not
# just row-counted.
# ---------------------------------------------------------------------------
@query(
    "source_stream_incremental",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def q_source_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("event_id", "user_id", "event_type", "value")
    )
    qname = "stream_incremental_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(qname)


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The driver smoke-check entry: the gold-layer aggregation (A1+J2)."""
    return q_agg_groupby_join(spark, sf_dir)


# charter-extension catalog (text/dedup/similarity/multimodal/windows) —
# imported last so it registers into the same QUERIES/ORACLE_SQL maps.
from . import extensions  # noqa: E402,F401
from . import extensions_r5  # noqa: E402,F401
from . import extensions_r6  # noqa: E402,F401
from . import extensions_r7  # noqa: E402,F401
from . import extensions_r8  # noqa: E402,F401
from . import extensions_r9  # noqa: E402,F401
from . import extensions_r10  # noqa: E402,F401
from . import extensions_r11  # noqa: E402,F401
