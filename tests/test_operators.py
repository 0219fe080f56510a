"""Operator-level unit tests: split routing, top-k, lookup join, merge
state machine (insert → update → late-arrival → idempotent replay)."""

import pyspark.sql.functions as F
import pytest

from azure_airbnb_cdc_ingestion_pipeline_spark.operators import (
    conditional_split,
    latest_per_key,
    lookup_latest,
    merge_dataframes,
    topk_per_group,
)


def test_split_disjoint_exhaustive_and_null_routing(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0)], "id int, v double"
    )
    bad, good = conditional_split(df, F.col("v") < 0)
    # predicate-true rows go to the FIRST stream (reference routing)
    assert [r.id for r in bad.collect()] == [3]
    # nulls route to the second stream; outputs partition the input
    assert sorted(r.id for r in good.collect()) == [1, 2]
    assert bad.count() + good.count() == df.count()


def test_topk_per_group_nulls_last(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("a", None), ("b", 2)], "k string, v int"
    )
    top = topk_per_group(df, ["k"], ["v"], k=1)
    got = {r.k: r.v for r in top.collect()}
    assert got == {"a": 3, "b": 2}  # null never wins desc ordering


def test_lookup_latest_left_outer(spark):
    left = spark.createDataFrame([(1, "x"), (2, "y")], "id int, name string")
    lookup = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new")], "id int, ts int, state string"
    )
    out = lookup_latest(left, lookup, on="id", order_by=["ts"])
    rows = {r.id: (r.state, r.ts) for r in out.collect()}
    assert rows[1] == ("new", 20)  # latest row joined
    assert rows[2] == (None, None)  # unmatched left row survives with nulls


def _merge_state(spark, target_rows, source_rows):
    target = spark.createDataFrame(target_rows, "k int, ts int, v string")
    source = spark.createDataFrame(source_rows, "k int, ts int, v string")
    merged = merge_dataframes(target, source, ["k"], order_by=["ts"])
    return {r.k: (r.ts, r.v) for r in merged.collect()}


def test_merge_insert_and_update(spark):
    got = _merge_state(
        spark,
        [(1, 10, "a"), (2, 10, "b")],
        [(2, 20, "b2"), (3, 20, "c")],
    )
    assert got == {1: (10, "a"), 2: (20, "b2"), 3: (20, "c")}


def test_merge_intra_batch_duplicates_latest_wins(spark):
    # same key twice in one batch → resolve to latest ts (reference
    # pickup:'first' + desc(timestamp))
    got = _merge_state(spark, [(1, 10, "a")], [(1, 30, "late"), (1, 20, "mid")])
    assert got == {1: (30, "late")}


def test_merge_replay_idempotent(spark):
    t = [(1, 10, "a"), (2, 20, "b")]
    s = [(2, 20, "b")]  # replaying an already-applied change
    assert _merge_state(spark, t, s) == {1: (10, "a"), 2: (20, "b")}


def test_merge_no_deletes(spark):
    # keys absent from source are never removed (deletable:false parity)
    got = _merge_state(spark, [(1, 10, "a")], [(2, 20, "b")])
    assert 1 in got and 2 in got


def test_latest_per_key_no_order_dedupes(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], "k int, v string")
    assert latest_per_key(df, ["k"], None).count() == 1


def test_merge_schema_drift_extra_source_cols(spark):
    target = spark.createDataFrame([(1, "a")], "k int, v string")
    source = spark.createDataFrame([(2, "b", 99)], "k int, v string, extra int")
    merged = merge_dataframes(target, source, ["k"])
    assert merged.columns == ["k", "v"]
    assert merged.count() == 2


def test_merge_missing_source_col_raises(spark):
    target = spark.createDataFrame([(1, "a")], "k int, v string")
    source = spark.createDataFrame([(2,)], "k int")
    with pytest.raises(Exception):
        merge_dataframes(target, source, ["k"]).collect()


def test_apply_cdc_insert_update_delete(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.merge import apply_cdc

    target = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "k int, ts int, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, 21, "b2", "U"),   # update existing
            (3, 31, "c2", "D"),   # delete existing
            (4, 40, "d", "I"),    # insert new
        ],
        "k int, ts int, v string, op string",
    )
    got = {
        r["k"]: (r["ts"], r["v"])
        for r in apply_cdc(target, changes, ["k"], order_by=["ts"]).collect()
    }
    assert got == {1: (10, "a"), 2: (21, "b2"), 4: (40, "d")}


def test_apply_cdc_insert_then_delete_nets_to_delete(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.merge import apply_cdc

    target = spark.createDataFrame([(1, 10, "a")], "k int, ts int, v string")
    changes = spark.createDataFrame(
        [(2, 20, "b", "I"), (2, 21, "b", "D"), (1, 22, "a2", "D"), (1, 23, "z", "U")],
        "k int, ts int, v string, op string",
    )
    # per key only the LATEST op applies: k=2 ends deleted, k=1 ends updated
    got = {
        r["k"]: r["v"]
        for r in apply_cdc(target, changes, ["k"], order_by=["ts"]).collect()
    }
    assert got == {1: "z"}


def test_blocked_levenshtein_pairs_block_bounded(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.dedup import (
        blocked_levenshtein_pairs,
    )

    df = spark.createDataFrame(
        [("red gear",), ("rad gear",), ("red bolt",), ("blue bolt",)],
        "p_name string",
    )
    out = blocked_levenshtein_pairs(
        df, "p_name", F.element_at(F.split(F.col("name"), " "), -1)
    ).collect()
    pairs = {(r["a_name"], r["b_name"]): r["lev"] for r in out}
    # same-block typo pair found; cross-block pair (red gear vs red bolt,
    # lev 3 anyway) and far same-block pair (red/blue bolt, lev 3) absent
    assert pairs == {("rad gear", "red gear"): 1}


def test_incremental_gold_with_retraction_matches_full_recompute(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions import arrow
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
        gold_booking_aggregation,
        merge_gold,
        signed_delta,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.merge import (
        merge_dataframes,
    )

    dim = spark.createDataFrame(
        [(1, "US"), (2, "US"), (3, "DE")], "customer_id int, country string"
    )
    fact_schema = "booking_id int, customer_id int, amount double, booking_date int"
    fact = spark.createDataFrame(
        [(10, 1, 100.0, 1), (11, 2, 50.0, 2), (12, 3, 70.0, 3)], fact_schema
    )
    gold = gold_booking_aggregation(
        fact, dim, amount_col="amount", date_col="booking_date"
    )
    # batch: update booking 11 (amount 50→80, date 2→5) + insert booking 13
    batch = spark.createDataFrame(
        [(11, 2, 80.0, 5), (13, 1, 10.0, 4)], fact_schema
    )
    before = fact.join(batch.select("booking_id"), "booking_id", "left_semi")
    delta = signed_delta(
        arrow.collect(before).data, arrow.collect(batch).data,
        arrow.collect(dim).data, amount_col="amount", date_col="booking_date",
    )
    got = {
        r["country"]: (r["total_bookings"], r["total_amount"], r["last_booking_date"])
        for r in merge_gold(arrow.collect(gold).data, delta).to_pylist()
    }
    new_fact = merge_dataframes(fact, batch, ["booking_id"])
    want = {
        r["country"]: (r["total_bookings"], r["total_amount"], r["last_booking_date"])
        for r in gold_booking_aggregation(
            new_fact, dim, amount_col="amount", date_col="booking_date"
        ).collect()
    }
    assert got == want
