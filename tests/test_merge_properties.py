"""Property-based tests (hypothesis) for the keyed-merge state machine —
the heart of the CDC pipeline (SURVEY §2.1 S5/S6, §3.3).

Two conflict semantics, each checked against an executable model:

- default (reference parity): ARRIVAL order wins across batches — a
  matched source row unconditionally replaces the target row (the
  reference's alter-row update has no timestamp guard); within a batch,
  dups resolve to the latest (ts, seq) (the lookup's pickup:'first'
  desc(timestamp)).
- event_time_wins (engine extension): latest (ts, seq) wins GLOBALLY, so
  out-of-order batch delivery converges to the same state.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.operators.merge import (
    latest_per_key,
    merge_dataframes,
)

# (key, ts): tiny domains on purpose — maximal collision pressure
_event = st.tuples(
    st.integers(min_value=0, max_value=5),
    st.integers(min_value=0, max_value=3),
)
_batches = st.lists(st.lists(_event, min_size=0, max_size=8), min_size=1, max_size=4)

_SCHEMA = "k long, ts long, seq long, payload string"


def _df(spark, rows, tag):
    return spark.createDataFrame(
        [(k, ts, seq, f"{tag}:{k}:{ts}:{seq}") for (k, ts, seq) in rows], _SCHEMA
    )


def _tag_batches(batches):
    """Assign a globally-unique seq (arrival order) to every event."""
    seq, out = 0, []
    for rows in batches:
        tagged = []
        for (k, ts) in rows:
            tagged.append((k, ts, seq))
            seq += 1
        out.append(tagged)
    return out


def _model_arrival_wins(tagged):
    """Per batch: latest (ts, seq) per key; across batches: last batch
    touching a key wins unconditionally."""
    state = {}
    for bi, rows in enumerate(tagged):
        batch_best = {}
        for (k, ts, seq) in rows:
            if k not in batch_best or (ts, seq) > batch_best[k][1:3]:
                batch_best[k] = (k, ts, seq, f"b{bi}:{k}:{ts}:{seq}")
        state.update(batch_best)
    return sorted(state.values())


def _model_event_time_wins(tagged):
    best = {}
    for bi, rows in enumerate(tagged):
        for (k, ts, seq) in rows:
            if k not in best or (ts, seq) > best[k][1:3]:
                best[k] = (k, ts, seq, f"b{bi}:{k}:{ts}:{seq}")
    return sorted(best.values())


def _run_merge(spark, tagged, **merge_kwargs):
    state = None
    for bi, rows in enumerate(tagged):
        batch_df = _df(spark, rows, f"b{bi}")
        if state is None:
            state = latest_per_key(batch_df, ["k"], ["ts", "seq"])
        else:
            state = merge_dataframes(
                state, batch_df, ["k"], order_by=["ts", "seq"], **merge_kwargs
            )
    return sorted(tuple(r) for r in state.collect())


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(batches=_batches)
def test_merge_arrival_wins_matches_model(spark, batches):
    tagged = _tag_batches(batches)
    assert _run_merge(spark, tagged) == _model_arrival_wins(tagged)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(batches=_batches)
def test_merge_event_time_wins_matches_model(spark, batches):
    tagged = _tag_batches(batches)
    got = _run_merge(spark, tagged, event_time_wins=True)
    assert got == _model_event_time_wins(tagged)


@pytest.mark.parametrize("event_time_wins", [False, True], ids=["arrival", "event_time"])
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=_batches)
def test_table_fold_matches_model(spark, tmp_path_factory, event_time_wins, batches):
    """The same batches through ParquetTable.upsert_delta with a fold every
    second batch, so folds land mid-sequence (partitioned on k % 2): the
    resolved read equals the model after every batch."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

    model = _model_event_time_wins if event_time_wins else _model_arrival_wins
    t = ParquetTable(spark, str(tmp_path_factory.mktemp("fold") / "t"))
    tagged = _tag_batches(batches)
    for bi, rows in enumerate(tagged):
        t.upsert_delta(
            _df(spark, rows, f"b{bi}").withColumn("p", F.col("k") % 2),
            ["k"], ["p"], order_by=["ts", "seq"],
            event_time_wins=event_time_wins, fold_after=2,
        )
        got = sorted(tuple(r) for r in t.read().drop("p").collect())
        assert got == model(tagged[: bi + 1]), bi


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(batch=st.lists(_event, min_size=1, max_size=8))
def test_merge_replay_idempotent(spark, batch):
    rows = [(k, ts, i) for i, (k, ts) in enumerate(batch)]
    b = _df(spark, rows, "b")
    state1 = latest_per_key(b, ["k"], ["ts", "seq"])
    for kwargs in ({}, {"event_time_wins": True}):
        state2 = merge_dataframes(
            state1, b, ["k"], order_by=["ts", "seq"], **kwargs
        )
        assert sorted(map(tuple, state2.collect())) == sorted(
            map(tuple, state1.collect())
        )


# --- apply_cdc (delete-capable net-effect apply) vs executable model ------

_cdc_event = st.tuples(
    st.integers(min_value=0, max_value=5),   # key
    st.integers(min_value=0, max_value=3),   # ts
    st.sampled_from(["I", "U", "D"]),        # op
)
_cdc_batches = st.lists(
    st.lists(_cdc_event, min_size=0, max_size=8), min_size=1, max_size=4
)


def _model_apply_cdc(tagged):
    """Per batch: the latest (ts, seq) change per key decides — delete
    removes the key, anything else upserts; keys untouched by a batch
    keep their prior state."""
    state = {}
    for bi, rows in enumerate(tagged):
        batch_best = {}
        for (k, ts, seq, op) in rows:
            if k not in batch_best or (ts, seq) > batch_best[k][1:3]:
                batch_best[k] = (k, ts, seq, op)
        for k, (kk, ts, seq, op) in batch_best.items():
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = (kk, ts, seq, f"b{bi}:{kk}:{ts}:{seq}")
    return sorted(state.values())


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(batches=_cdc_batches)
def test_apply_cdc_matches_model(spark, batches):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.merge import apply_cdc

    # tag with global arrival seq, keeping each event's op
    seq, tagged = 0, []
    for rows in batches:
        out = []
        for (k, ts, op) in rows:
            out.append((k, ts, seq, op))
            seq += 1
        tagged.append(out)

    schema = "k long, ts long, seq long, payload string, op string"
    state = spark.createDataFrame([], "k long, ts long, seq long, payload string")
    for bi, rows in enumerate(tagged):
        batch = spark.createDataFrame(
            [(k, ts, s, f"b{bi}:{k}:{ts}:{s}", op) for (k, ts, s, op) in rows],
            schema,
        )
        state = apply_cdc(state, batch, ["k"], op_col="op", order_by=["ts", "seq"])
    got = sorted(tuple(r) for r in state.collect())
    assert got == _model_apply_cdc(tagged)


# -- DML properties: delete_where / update_where vs the obvious model -------

_dml_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),   # k
        st.integers(min_value=0, max_value=3),    # pm (partition)
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),  # v
    ),
    min_size=0,
    max_size=25,
    unique_by=lambda r: r[0],
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_dml_rows, thresh=st.integers(min_value=-5, max_value=5))
def test_delete_where_equals_filter_model(spark, tmp_path_factory, rows, thresh):
    """delete_where(v > t) must equal the model `keep rows where NOT
    (v > t)` with SQL null semantics (v NULL → kept), for any partitioned
    table/threshold — including all-deleted and none-deleted extremes."""
    from pyspark.sql import functions as F

    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

    t = ParquetTable(spark, str(tmp_path_factory.mktemp("dml") / "t"))
    if not rows:
        return
    df = spark.createDataFrame(rows, "k long, pm int, v long")
    t.overwrite(df, partition_by=["pm"])
    t.delete_where(F.col("v") > thresh)
    got = {(r.k, r.pm, r.v) for r in t.read().collect()}
    want = {(k, pm, v) for (k, pm, v) in rows if not (v is not None and v > thresh)}
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_dml_rows, thresh=st.integers(min_value=-5, max_value=5))
def test_update_where_equals_select_model(spark, tmp_path_factory, rows, thresh):
    """update_where(v > t, {v: v*10}) must equal the row-wise model with
    SQL null semantics (v NULL → untouched) and original-row evaluation."""
    from pyspark.sql import functions as F

    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

    t = ParquetTable(spark, str(tmp_path_factory.mktemp("dml") / "t"))
    if not rows:
        return
    df = spark.createDataFrame(rows, "k long, pm int, v long")
    t.overwrite(df, partition_by=["pm"])
    t.update_where(F.col("v") > thresh, {"v": F.col("v") * 10})
    got = {(r.k, r.pm, r.v) for r in t.read().collect()}
    want = {
        (k, pm, v * 10 if (v is not None and v > thresh) else v)
        for (k, pm, v) in rows
    }
    assert got == want


def test_merge_event_time_exact_tie_source_wins(spark):
    """ADVICE r3: a source and target row for the same key with an
    IDENTICAL event time but different payloads must resolve to the
    SOURCE row, deterministically — the `s.ts >= t.ts` (>=) contract.
    Before the __src_priority tie-break this was row_number order, i.e.
    whichever partition happened to sort first."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.merge import (
        resolve_event_time,
    )

    target = spark.createDataFrame(
        [(k, 7, 0, "target") for k in range(20)], _SCHEMA
    )
    source = spark.createDataFrame(
        [(k, 7, 0, "source") for k in range(20)], _SCHEMA
    )
    for _ in range(3):  # determinism across repeated evaluations
        out = merge_dataframes(
            target, source, ["k"], order_by=["ts", "seq"],
            event_time_wins=True,
        )
        assert sorted(map(tuple, out.collect())) == [
            (k, 7, 0, "source") for k in range(20)
        ]
        direct = resolve_event_time(target, source, ["k"], ["ts", "seq"])
        assert sorted(map(tuple, direct.collect())) == [
            (k, 7, 0, "source") for k in range(20)
        ]
