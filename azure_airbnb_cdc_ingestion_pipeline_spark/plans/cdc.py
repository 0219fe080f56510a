"""CDC and tables family: the reference pipeline's steps as catalog
queries — quality split and rejected-rows channel, derived columns,
projection, latest-per-key lookup, keyed upsert (SCD1 / CDC merge /
change-apply), gold full and incremental refresh — plus the table layer
under them: ParquetTable round trips, SCD2 history (batch and stream),
snapshot reconcile and time travel, Z-order layout, data-quality
expectations and the CSV / JSONL sources.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.zorder import zvalue, zvalue_sql
from ..operators.aggregate import gold_booking_aggregation
from ..operators.lookup import lookup_latest
from ..operators.merge import latest_per_key, merge_dataframes
from ..operators.project import select_map
from ..operators.split import conditional_split
from ..sources.readers import cast_to_schema, read_csv, read_events
from ..sources.tables import ParquetTable
from .queries import ORACLE_SQL, _t, query


#: the per-process root of the tables, files and checkpoints the keys below
#: write (see :func:`scratch_dir`); empty until the first call
_SCRATCH_ROOT: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A fresh dir for a key's own table or files. A key returns a lazy
    frame over them, so they must outlive the call; they live under one
    per-process root, removed at interpreter exit."""
    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="spark_graft_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT.append(root)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[0])


# ---------------------------------------------------------------------------
# A1+J2 — the flagship: star join + group-by (SURVEY §2.4 A1, §2.3 J2).
# Reference: synapse_table_creation.sql:59-69.
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
# Reference: dataflow/BookingDataTransformation.json:96-97.
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
# Reference: dataflow/BookingDataTransformation.json:98-114.
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
# Reference: dataflow/BookingDataTransformation.json:115-119.
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
# S6 — SCD Type 1 upsert (SURVEY §2.1 S6): dim merge keyed on customer_id.
# Source batch = deterministic transform of the customer table: updated
# balances for custkey%10==0, plus brand-new synthetic customers.
# Reference: pipeline/LoadCustomerDim.json:82-101.
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
# dataflow/BookingDataTransformation.json:115-121,156-186.
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
# Reference: synapse_table_creation.sql:71-88.
# ---------------------------------------------------------------------------
@query("gold_full_refresh", oracle=ORACLE_SQL.get("agg_groupby_join"))
def q_gold_full_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    result = q_agg_groupby_join(spark, sf_dir)
    root = os.path.join(scratch_dir("gold_"), "booking_agg")
    table = ParquetTable(spark, root)
    table.overwrite(result)
    return table.read()


# ---------------------------------------------------------------------------
# S3 — CSV source roundtrip (SURVEY §2.1 S3): write customer as CSV with the
# archive sink options, re-read string-first with the reference's
# DelimitedText options, lenient-cast back onto the typed schema.
# Reference: dataset/CustomerDataRaw.json:12-19.
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
    tmp = os.path.join(scratch_dir("csv_"), "customer_csv")
    (
        cust.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .csv(tmp)
    )
    raw = read_csv(spark, tmp)  # string-first
    typed = cast_to_schema(raw, cust.schema)
    return typed.withColumn("c_acctbal", F.round("c_acctbal", 2))


@query(
    "cdc_apply_changes",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 0
    ),
    ch AS (
      SELECT o_orderkey, o_custkey,
             'X' AS o_orderstatus,
             o_totalprice + 1.0 AS o_totalprice,
             CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM ch WHERE op <> 'D'
    UNION ALL
    SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice
    FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.o_orderkey = b.o_orderkey)
    """,
)
def q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full change-feed application (INSERT/UPDATE/DELETE) — the engine
    extension past the reference's no-delete MERGE. A synthetic change
    batch (even order keys; every 10th key a delete) is applied to a
    base table: upserts replace/insert, deletes drop, untouched base
    rows ride one broadcast anti-join."""
    from ..operators.merge import apply_cdc

    o = _t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    changes = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return apply_cdc(base, changes, ["o_orderkey"], op_col="op")


@query(
    "gold_incremental",
    oracle="""
    SELECT c.c_mktsegment AS country,
           CAST(count(*) AS BIGINT) AS total_bookings,
           round(sum(o.o_totalprice), 2) AS total_amount,
           max(o.o_orderdate) AS last_booking_date
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_gold_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained gold aggregate: the fact arrives as
    three append batches; each is aggregated alone, collected (one row
    per group) and merged into the standing gold on the driver
    (count+count, sum+sum, greatest(max)) — the pipeline's incremental
    gold step. The oracle recomputes from scratch — the fold must land
    on identical state. Per-trigger cost is O(batch + |groups|), never
    O(fact)."""
    from ..functions import arrow
    from ..operators.aggregate import gold_booking_aggregation, merge_gold

    o = _t(spark, sf_dir, "orders")
    dim = _t(spark, sf_dir, "customer")
    gold = None
    for b in range(3):
        batch = o.filter(F.col("o_orderkey") % 3 == b)
        part = arrow.collect(gold_booking_aggregation(
            batch,
            dim,
            fact_key="o_custkey",
            dim_key="c_custkey",
            group_col="c_mktsegment",
            amount_col="o_totalprice",
            date_col="o_orderdate",
        )).data
        gold = part if gold is None else merge_gold(gold, part, "c_mktsegment")
    return spark.createDataFrame(gold).select(
        F.col("c_mktsegment").alias("country"),
        "total_bookings",
        F.round("total_amount", 2).alias("total_amount"),
        "last_booking_date",
    )


@query(
    "source_jsonl_read",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def q_source_jsonl_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest round-trip with the rejected-rows side channel
    (`sources.readers.read_jsonl_with_rejects`): documents are written
    as line-delimited JSON, two deterministically corrupt lines (one
    malformed, one missing the required key) are appended, and the read
    splits good/reject without failing a task. The query returns the
    good channel — byte-equal to the original table (the oracle); the
    reject channel's content is pinned by
    tests/test_extensions.py::test_jsonl_rejects."""
    import hashlib
    import os
    import tempfile

    from ..sources.readers import read_jsonl_with_rejects

    docs = _t(spark, sf_dir, "documents")
    # one DETERMINISTIC fixture dir per (sf_dir) reused across
    # invocations — a fresh mkdtemp per call leaked a corpus-sized dir
    # every bench/correctness run (r4 advisor). mode("overwrite")
    # replaces the content each time. Raw newlines cannot corrupt the
    # line format: to_json emits JSON-escaped (\n) strings by spec.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    tmp = os.path.join(tempfile.gettempdir(), f"jsonl_fixture_{tag}", "docs")
    docs.select(
        F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars")).alias(
            "value"
        )
    ).write.mode("overwrite").text(tmp)
    with open(os.path.join(tmp, "part-corrupt.txt"), "w") as f:
        f.write('{"doc_id": 1, "text": broken!!\n')
        f.write('{"text": "no id here", "lang": "en"}\n')
    good, _rejects = read_jsonl_with_rejects(
        spark, tmp, docs.schema, required=["doc_id"]
    )
    return good


_Z_ORACLE = f"""
    WITH raw AS (
      SELECT o_custkey AS x,
             date_diff('day', DATE '1992-01-01', o_orderdate::DATE) AS y
      FROM orders
    ),
    ext AS (
      SELECT min(x) AS minx, max(x) - min(x) + 1 AS rngx,
             min(y) AS miny, max(y) - min(y) + 1 AS rngy
      FROM raw
    ),
    q AS (
      SELECT CAST(floor((x - minx) * 256.0 / rngx) AS BIGINT) AS xq,
             CAST(floor((y - miny) * 256.0 / rngy) AS BIGINT) AS yq
      FROM raw, ext
    ),
    z AS (SELECT xq, yq, {zvalue_sql('xq', 'yq', bits=8)} AS zval FROM q)
    SELECT zval >> 10 AS z_bucket,
           count(*) AS n_orders,
           min(xq) AS min_cust, max(xq) AS max_cust,
           min(yq) AS min_day, max(yq) AS max_day
    FROM z GROUP BY 1
"""


@query("table_zorder_layout", oracle=_Z_ORACLE)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering of orders on (customer, order-day):
    min/max-quantize each dimension to 8 bits (domain-adaptive, so the
    layout works at every scale factor), interleave, bucket by the top
    6 z-bits (64 file-sized buckets), report per-bucket min/max stats —
    the exact stats a lakehouse writer would persist for file skipping.
    Bucket spans on BOTH dimensions shrink to ~1/8 of the global span,
    so a predicate on either dimension prunes ~7/8 of the files
    (locality asserted in tests/test_extensions_r5.py). Pure JVM bit
    arithmetic (functions/zorder.py); one tiny extent agg (broadcast) +
    one groupBy shuffle."""
    orders = _t(spark, sf_dir, "orders")
    raw = orders.select(
        F.col("o_custkey").cast("long").alias("x"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("y"),
    )
    ext = raw.agg(
        F.min("x").alias("minx"),
        (F.max("x") - F.min("x") + 1).alias("rngx"),
        F.min("y").alias("miny"),
        (F.max("y") - F.min("y") + 1).alias("rngy"),
    )
    q = raw.crossJoin(F.broadcast(ext)).select(
        F.floor((F.col("x") - F.col("minx")) * 256.0 / F.col("rngx")).alias("xq"),
        F.floor((F.col("y") - F.col("miny")) * 256.0 / F.col("rngy")).alias("yq"),
    )
    z = q.withColumn("zval", zvalue(F.col("xq"), F.col("yq"), bits=8))
    return z.groupBy(F.shiftright("zval", 10).alias("z_bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("xq").alias("min_cust"),
        F.max("xq").alias("max_cust"),
        F.min("yq").alias("min_day"),
        F.max("yq").alias("max_day"),
    )


@query(
    "dq_expectations",
    oracle="""
    WITH t AS (SELECT count(*) AS total FROM orders)
    SELECT r.rule, r.violations, t.total,
           round(1.0 - r.violations * 1.0 / t.total, 4) AS pass_rate
    FROM (
      SELECT 'orderkey_not_null' AS rule,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
      FROM orders
      UNION ALL
      SELECT 'totalprice_positive',
             CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'status_in_domain',
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orderdate_in_range',
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                        OR o_orderdate > TIMESTAMP '2030-01-01' THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orderkey_unique',
             (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
    ) r, t
    """,
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite — the batch contract check a
    pipeline runs before publishing a table (the generalization of the
    reference's rejected-rows split, dataflow/…:31-34): null checks,
    range checks, domain membership, and key uniqueness, ALL evaluated
    in one aggregation pass (conditional sums — no per-rule scans; the
    uniqueness rule reuses the same scan via count-distinct). Output:
    (rule, violations, total, pass_rate)."""
    from ..operators.dq import evaluate_expectations

    o = _t(spark, sf_dir, "orders")
    rules = [
        ("orderkey_not_null", F.col("o_orderkey").isNull()),
        (
            "totalprice_positive",
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0),
        ),
        ("status_in_domain", ~F.col("o_orderstatus").isin("O", "F", "P")),
        (
            "orderdate_in_range",
            (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp_ntz"))
            | (F.col("o_orderdate") > F.lit("2030-01-01").cast("timestamp_ntz")),
        ),
    ]
    return evaluate_expectations(
        o, rules, unique_key="o_orderkey", unique_rule_name="orderkey_unique"
    )


# ---------------------------------------------------------------------------
# SCD Type 2 dimension history — the engine extension of the reference's
# Type-1 dim upsert (pipeline/LoadCustomerDim.json:82-101): keep every
# version with [effective_from, effective_to) validity instead of
# overwriting in place. Three change waves over customer: a segment move
# (%10), a balance bump on top (%20), and a deliberate NO-OP resend of
# current state (%7) that must create no version. DATE-typed effectivity
# dodges session-timezone hazards entirely.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
    WITH hist0 AS (
      SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS bal,
             DATE '2024-01-01' AS effective_from
      FROM customer
    ),
    chg AS (
      SELECT c_custkey, c_name, 'MOVED' AS c_mktsegment,
             round(c_acctbal, 2) AS bal, DATE '2024-02-01' AS effective_from
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, c_name, 'MOVED', round(c_acctbal + 50, 2),
             DATE '2024-03-01'
      FROM customer WHERE c_custkey % 20 = 0
      UNION ALL
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 10 = 0 THEN 'MOVED' ELSE c_mktsegment END,
             round(c_acctbal + CASE WHEN c_custkey % 20 = 0 THEN 50 ELSE 0 END, 2),
             DATE '2024-04-01'
      FROM customer WHERE c_custkey % 7 = 0
    ),
    seq AS (SELECT * FROM hist0 UNION ALL SELECT * FROM chg),
    v AS (
      SELECT *,
             (c_name IS NOT DISTINCT FROM lag(c_name) OVER w)
             AND (c_mktsegment IS NOT DISTINCT FROM lag(c_mktsegment) OVER w)
             AND (bal IS NOT DISTINCT FROM lag(bal) OVER w) AS samey
      FROM seq
      WINDOW w AS (PARTITION BY c_custkey ORDER BY effective_from)
    ),
    k AS (SELECT * FROM v WHERE NOT coalesce(samey, FALSE)),
    f AS (
      SELECT c_custkey, c_name, c_mktsegment, bal, effective_from,
             lead(effective_from) OVER (
               PARTITION BY c_custkey ORDER BY effective_from) AS effective_to
      FROM k
    )
    SELECT c_custkey, c_name, c_mktsegment, bal,
           effective_from,
           coalesce(effective_to, DATE '9999-12-31') AS effective_to,
           effective_to IS NULL AS is_current
    FROM f
"""


def _scd2_fixture(spark: SparkSession, sf_dir: str):
    """(initial open history, [three change waves]) over customer —
    shared by the batch scd2 key and its streaming coverage twin."""
    cust = _t(spark, sf_dir, "customer")
    hist0 = (
        cust.select(
            "c_custkey", "c_name", "c_mktsegment",
            F.round("c_acctbal", 2).alias("bal"),
        )
        .withColumn("effective_from", F.to_date(F.lit("2024-01-01")))
        .withColumn("effective_to", F.lit(None).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    chg1 = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", "c_name",
        F.lit("MOVED").alias("c_mktsegment"),
        F.round("c_acctbal", 2).alias("bal"),
        F.to_date(F.lit("2024-02-01")).alias("effective_from"),
    )
    chg2 = cust.filter(F.col("c_custkey") % 20 == 0).select(
        "c_custkey", "c_name",
        F.lit("MOVED").alias("c_mktsegment"),
        F.round(F.col("c_acctbal") + 50, 2).alias("bal"),
        F.to_date(F.lit("2024-03-01")).alias("effective_from"),
    )
    chg3 = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", "c_name",
        F.when(F.col("c_custkey") % 10 == 0, "MOVED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.round(
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 20 == 0, 50).otherwise(0),
            2,
        ).alias("bal"),
        F.to_date(F.lit("2024-04-01")).alias("effective_from"),
    )
    return hist0, [chg1, chg2, chg3]


def _scd2_sentinel(out: DataFrame) -> DataFrame:
    # open versions surface as the standard SCD2 high-date sentinel so
    # the hash gate compares concrete dates, never engine null spellings
    return out.withColumn(
        "effective_to",
        F.coalesce("effective_to", F.to_date(F.lit("9999-12-31"))),
    )


@query("scd2_history", oracle=_SCD2_ORACLE)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history after three change waves, incl. a no-op wave that
    must collapse. Exercises operators.merge.scd2_apply: broadcast
    change-key anti-join (history passthrough), per-changed-key window
    rebuild, null-safe consecutive-version collapse."""
    from ..operators.merge import scd2_apply

    hist0, waves = _scd2_fixture(spark, sf_dir)
    changes = waves[0].unionByName(waves[1]).unionByName(waves[2])
    return _scd2_sentinel(
        scd2_apply(
            hist0, changes, keys=["c_custkey"],
            attr_cols=["c_name", "c_mktsegment", "bal"],
        )
    )


@query("stream_scd2_coverage", oracle=_SCD2_ORACLE)
def q_stream_scd2_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2: the three change waves arrive as separate
    micro-batches (file stream, one file per trigger); foreachBatch
    applies scd2_apply against the versioned dim table and commits.
    The FINAL history must hash-match the one-shot batch oracle —
    certifying cross-micro-batch convergence (scd2_apply orders by
    effective timestamp and collapses no-ops on the full rebuilt
    sequence, so per-wave application lands on the identical history,
    regardless of how the waves split across triggers).

    r7: rides `pipelines.load_dim_scd2` with the expectation gate ARMED
    (key/timestamp/attr contracts, halt mode) — the same per-batch
    publish gate the fact merge runs behind, now oracle-exercised on
    the SCD2 path too (VERDICT r6 #8). The waves are clean, so the
    gate passes and the history is identical; the breach-halts
    semantics are pinned by tests/test_pipelines.py.

    Every call streams into a fresh dir: a dim table or checkpoint left
    by an earlier process may come from other code, and a call that
    found every wave already processed would not stream at all."""
    from pyspark.sql.types import (
        DateType, DoubleType, LongType, StringType, StructField, StructType,
    )

    from ..sources.tables import ParquetTable

    hist0, waves = _scd2_fixture(spark, sf_dir)
    base_dir = scratch_dir("scd2_stream_")
    in_dir = os.path.join(base_dir, "in")
    ckpt = os.path.join(base_dir, "ckpt")
    table_root = os.path.join(base_dir, "dim")
    for i, w in enumerate(waves):
        w.coalesce(1).write.parquet(os.path.join(in_dir, f"wave{i:02d}"))
    schema = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_mktsegment", StringType()),
            StructField("bal", DoubleType()),
            StructField("effective_from", DateType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(in_dir, "wave*"))
    )
    table = ParquetTable(spark, table_root)

    from ..pipelines.load_dim_scd2 import load_dim_scd2_stream

    load_dim_scd2_stream(
        stream, table, keys=["c_custkey"],
        attr_cols=["c_name", "c_mktsegment", "bal"],
        checkpoint_dir=ckpt, initial_history=hist0,
        dq_rules=[
            ("custkey_not_null", F.col("c_custkey").isNull()),
            ("effective_from_present", F.col("effective_from").isNull()),
            ("balance_sane", F.col("bal").isNull()),
        ],
        dq_on_breach="halt",
    )
    return _scd2_sentinel(table.read())


# ---------------------------------------------------------------------------
# Keyed reconciliation — the CDC audit op: replayed table vs source of
# truth, one full-outer join, per-key status, then a grouped summary
# with a key checksum so the hash gate sees WHICH keys landed in each
# bucket, not just how many.
# ---------------------------------------------------------------------------

_RECONCILE_ORACLE = """
    WITH r AS (
      SELECT c_custkey, c_name,
             round(c_acctbal + CASE WHEN c_custkey % 11 = 0 THEN 10 ELSE 0 END,
                   2) AS bal
      FROM customer WHERE c_custkey % 13 <> 0
      UNION ALL
      SELECT c_custkey + 2000000, c_name, round(c_acctbal, 2)
      FROM customer WHERE c_custkey % 19 = 0
    ),
    l AS (SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal FROM customer),
    j AS (
      SELECT coalesce(l.c_custkey, r.c_custkey) AS c_custkey,
             CASE
               WHEN r.c_custkey IS NULL THEN 'only_left'
               WHEN l.c_custkey IS NULL THEN 'only_right'
               WHEN (l.c_name IS NOT DISTINCT FROM r.c_name)
                AND (l.bal IS NOT DISTINCT FROM r.bal) THEN 'unchanged'
               ELSE 'changed'
             END AS status
      FROM l FULL OUTER JOIN r ON l.c_custkey = r.c_custkey
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c_custkey) AS BIGINT) AS key_checksum
    FROM j GROUP BY status
"""


@query("table_reconcile", oracle=_RECONCILE_ORACLE)
def q_table_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile customer against a perturbed replica (%13 keys dropped,
    %11 balances drifted, %19 keys net-new). Exercises
    operators.merge.reconcile: single full-outer shuffle, JVM-side
    null-safe struct compare."""
    from ..operators.merge import reconcile

    cust = _t(spark, sf_dir, "customer")
    left = cust.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("bal")
    )
    right = (
        cust.filter(F.col("c_custkey") % 13 != 0)
        .select(
            "c_custkey", "c_name",
            F.round(
                F.col("c_acctbal")
                + F.when(F.col("c_custkey") % 11 == 0, 10).otherwise(0),
                2,
            ).alias("bal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 19 == 0).select(
                (F.col("c_custkey") + 2000000).alias("c_custkey"),
                "c_name",
                F.round("c_acctbal", 2).alias("bal"),
            )
        )
    )
    rec = reconcile(left, right, keys=["c_custkey"])
    return rec.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c_custkey").cast("long").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# Time travel + change-data-feed over the versioned table layer: commit
# state A, overwrite with state B, then ask the TABLE what changed —
# insert / update_postimage / delete per key, computed from the two
# retained versions (vacuum keeps the trailing 2). The oracle derives
# the same diff from the source frames directly, so the hash match
# proves version isolation (A unchanged by B's commit) AND the diff.
# ---------------------------------------------------------------------------

_TIME_TRAVEL_ORACLE = """
    WITH l AS (
      SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal FROM customer
    ),
    r AS (
      SELECT c_custkey, c_name,
             round(c_acctbal + CASE WHEN c_custkey % 11 = 0 THEN 10 ELSE 0 END,
                   2) AS bal
      FROM customer WHERE c_custkey % 13 <> 0
      UNION ALL
      SELECT c_custkey + 2000000, c_name, round(c_acctbal, 2)
      FROM customer WHERE c_custkey % 19 = 0
    ),
    j AS (
      SELECT coalesce(l.c_custkey, r.c_custkey) AS c_custkey,
             r.c_name AS c_name, r.bal AS bal,
             CASE
               WHEN l.c_custkey IS NULL THEN 'I'
               WHEN r.c_custkey IS NULL THEN 'D'
               WHEN (l.c_name IS NOT DISTINCT FROM r.c_name)
                AND (l.bal IS NOT DISTINCT FROM r.bal) THEN NULL
               ELSE 'U'
             END AS op
      FROM l FULL OUTER JOIN r ON l.c_custkey = r.c_custkey
    )
    SELECT c_custkey, op, c_name, bal
    FROM j WHERE op IS NOT NULL
"""


@query("table_time_travel", oracle=_TIME_TRAVEL_ORACLE)
def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit customer state A, overwrite with a perturbed state B
    (%13 dropped, %11 drifted, %19 net-new), then read the change data
    feed between the two RETAINED versions via sources.tables
    diff_versions — exercising read_version (time-travel isolation: A
    is unchanged by B's commit) and the keyed I/U/D diff. Promotes the
    previously pytest-only CDF surface into the oracle-gated catalog."""
    import hashlib
    import os
    import tempfile

    from ..sources.tables import ParquetTable, diff_versions

    cust = _t(spark, sf_dir, "customer")
    a = cust.select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("bal"))
    b = (
        cust.filter(F.col("c_custkey") % 13 != 0)
        .select(
            "c_custkey", "c_name",
            F.round(
                F.col("c_acctbal")
                + F.when(F.col("c_custkey") % 11 == 0, 10).otherwise(0),
                2,
            ).alias("bal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 19 == 0).select(
                (F.col("c_custkey") + 2000000).alias("c_custkey"),
                "c_name",
                F.round("c_acctbal", 2).alias("bal"),
            )
        )
    )
    # stable per-sf dir (deterministic digest — memory: never hash() for
    # paths); version numbers monotonically rise across invocations and
    # vacuum retains the trailing 2, so THIS call's pair always resolves
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"timetravel_fixture_{tag}")
    t = ParquetTable(spark, root)
    v1 = t.overwrite(a)
    v2 = t.overwrite(b)
    return diff_versions(t, ["c_custkey"], v1, v2)
