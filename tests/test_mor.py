"""Merge-on-read upsert (ParquetTable.upsert_delta) — the r5 CDC
steady-state fast path (Hudi-MoR / Delta-DV analog): O(batch) delta
append per trigger, resolve-on-read, periodic fold into the base.

Contract under test:
- read()/read_version() always return fully-merged content (one row per
  key), identical to what the copy-on-write pruned merge would produce;
- arrival-wins and event_time_wins conflict semantics match
  operators.merge.merge_dataframes exactly (incl. source-wins ties);
- folds (every fold_after-th batch) clear pending deltas and leave a
  plain partitioned version with no _delta leakage;
- DML entry points (delete/update/append) fold first, never resurrect
  or drop delta rows;
- file count stays bounded over many micro-batches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import (
    ParquetTable,
    read_version,
)


@pytest.fixture()
def table(spark, tmp_path):  # noqa: F811
    return ParquetTable(spark, str(tmp_path / "t"))


def _mk(spark, rows):  # noqa: F811
    return spark.createDataFrame(rows, "k long, ts long, val string, p long")


def _state(t):
    return sorted((r.k, r.val) for r in t.read().collect())


def _delta_files(t):
    """The merge-on-read delta files the current version lists."""
    return [p for p in t._snapshot().files if p.startswith("_delta/")]


def test_mor_matches_cow_merge(spark, tmp_path):  # noqa: F811
    """Same batch sequence through upsert_delta and upsert_pruned must
    yield identical resolved content at every step."""
    mor = ParquetTable(spark, str(tmp_path / "mor"))
    cow = ParquetTable(spark, str(tmp_path / "cow"))
    batches = [
        [(1, 1, "a", 0), (2, 1, "b", 1)],
        [(1, 0, "late-but-wins", 0), (3, 5, "c", 0)],  # arrival-wins
        [(2, 9, "b2", 1), (2, 8, "b-dup", 1)],  # intra-batch dedupe
        [(4, 1, "d", 2)],
    ]
    for rows in batches:
        df = _mk(spark, rows)
        mor.upsert_delta(df, keys=["k"], partition_by=["p"], order_by=["ts"])
        cow.upsert_pruned(df, keys=["k"], partition_by=["p"], order_by=["ts"])
        assert _state(mor) == _state(cow)


def test_mor_event_time_wins_and_tie(spark, table):  # noqa: F811
    kw = dict(keys=["k"], partition_by=["p"], order_by=["ts"],
              event_time_wins=True)
    table.upsert_delta(_mk(spark, [(1, 5, "new", 0)]), **kw)
    table.upsert_delta(_mk(spark, [(1, 3, "old", 0)]), **kw)
    assert _state(table) == [(1, "new")]  # older event must not replace
    table.upsert_delta(_mk(spark, [(1, 5, "tie", 0)]), **kw)
    assert _state(table) == [(1, "tie")]  # exact tie: source wins
    # fold preserves the event-time resolution
    table.upsert_delta(
        _mk(spark, [(1, 4, "older", 0), (2, 1, "z", 1)]), fold_after=2, **kw
    )
    assert _state(table) == [(1, "tie"), (2, "z")]


def test_mor_fold_clears_deltas_and_bounds_files(spark, table):  # noqa: F811
    for i in range(40):
        table.upsert_delta(
            _mk(spark, [(i % 7, i, f"v{i}", i % 3)]),
            keys=["k"], partition_by=["p"], order_by=["ts"], fold_after=8,
        )
    assert table._current_meta()["mor"]["pending"] < 8
    # pending delta files + base partition files stay bounded: never
    # grows with trigger count
    assert table.live_file_count() < 8 + 3 * 4
    assert _state(table) == sorted(
        (k, f"v{max(i for i in range(40) if i % 7 == k)}") for k in range(7)
    )
    # drive to the next fold boundary: the fold version must list no
    # _delta files and reset pending to 0
    while table._current_meta()["mor"]["pending"] != 0:
        table.upsert_delta(
            _mk(spark, [(99, 99, "x", 0)]),
            keys=["k"], partition_by=["p"], order_by=["ts"], fold_after=8,
        )
    assert not _delta_files(table)


def test_mor_time_travel_resolves_pending_version(spark, table):  # noqa: F811
    table.upsert_delta(_mk(spark, [(1, 1, "a", 0)]),
                       keys=["k"], partition_by=["p"], order_by=["ts"])
    table.upsert_delta(_mk(spark, [(1, 2, "b", 0)]),
                       keys=["k"], partition_by=["p"], order_by=["ts"])
    v = table.current_version()
    got = [(r.k, r.val) for r in read_version(table, v).collect()]
    assert got == [(1, "b")]


def test_mor_dml_folds_first(spark, table):  # noqa: F811
    table.upsert_delta(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]),
                       keys=["k"], partition_by=["p"], order_by=["ts"])
    table.upsert_delta(_mk(spark, [(2, 2, "b2", 1), (3, 1, "c", 1)]),
                       keys=["k"], partition_by=["p"], order_by=["ts"])
    table.delete_where(F.col("k") == 1)
    assert _state(table) == [(2, "b2"), (3, "c")]
    table.update_where(F.col("k") == 3, {"val": F.lit("c9")})
    assert _state(table) == [(2, "b2"), (3, "c9")]


def test_mor_direct_upsert_pruned_on_pending_folds(spark, table):  # noqa: F811
    """A direct copy-on-write merge against a table mid-MoR-window must
    fold: no stale delta row may outrank the merge, none may be lost."""
    table.upsert_delta(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]),
                       keys=["k"], partition_by=["p"], order_by=["ts"])
    table.upsert_delta(_mk(spark, [(3, 1, "c", 2)]),
                       keys=["k"], partition_by=["p"], order_by=["ts"])
    table.upsert_pruned(_mk(spark, [(1, 9, "a2", 0)]),
                        keys=["k"], partition_by=["p"], order_by=["ts"])
    assert _state(table) == [(1, "a2"), (2, "b"), (3, "c")]
    assert not _delta_files(table)
    # read() of the folded version needs no resolution pass
    assert not (table._current_meta().get("mor") or {}).get("pending")


@pytest.mark.parametrize("merge", ["upsert_delta", "upsert_pruned"])
def test_mor_spec_mismatch_raises(spark, table, merge):  # noqa: F811
    for rows in ([(1, 1, "a", 0)], [(2, 1, "c", 0)]):  # 2nd stays pending
        table.upsert_delta(_mk(spark, rows),
                           keys=["k"], partition_by=["p"], order_by=["ts"])
    with pytest.raises(ValueError):
        getattr(table, merge)(_mk(spark, [(1, 2, "b", 0)]),
                              keys=["k"], partition_by=["p"], order_by=["ts"],
                              event_time_wins=True)
    # what the error advises: once compact() folded the pending deltas,
    # nothing is pending and both names accept the new conflict rule
    table.compact(partition_by=["p"])
    getattr(table, merge)(_mk(spark, [(1, 2, "b", 0)]),
                          keys=["k"], partition_by=["p"], order_by=["ts"],
                          event_time_wins=True)
    assert _state(table) == [(1, "b"), (2, "c")]


def test_mor_read_for_keys_matches_semi_join(spark, table, monkeypatch):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions import arrow

    table.upsert_delta(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]),
                       keys=["k"], partition_by=["p"], order_by=["ts"])
    table.upsert_delta(_mk(spark, [(1, 2, "a2", 0), (3, 1, "c", 2)]),
                       keys=["k"], partition_by=["p"], order_by=["ts"])
    want_keys = spark.createDataFrame([(1,), (3,), (99,)], "k long")
    via_read = {
        (r.k, r.val)
        for r in table.read().join(want_keys, ["k"], "left_semi").collect()
    }
    collected = []
    collect = arrow.collect
    monkeypatch.setattr(arrow, "collect", lambda df: collected.append(df) or collect(df))
    via_keys = {
        (r["k"], r["val"])
        for r in table.read_for_keys(want_keys, ["k"]).to_pylist()
    }
    assert via_keys == via_read == {(1, "a2"), (3, "c")}
    # the one collected frame is key-restricted in every frame of the
    # stack (base + delta), and Spark runs no aggregate and no shuffle:
    # the resolve happens on the driver
    (frame,) = collected
    physical = frame._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    assert physical.count("BroadcastHashJoin") >= 2  # base + delta restricted
    assert "Aggregate" not in physical
    assert not [line for line in physical.splitlines()
                if "Exchange" in line and "BroadcastExchange" not in line]


@pytest.mark.parametrize(
    "event_time_wins", [False, True], ids=["arrival", "event_time"]
)
@pytest.mark.parametrize(
    "partition_by", [["p"], []], ids=["partitioned", "unpartitioned"]
)
def test_mor_read_pruned_matches_filtered_read(
    spark, table, partition_by, event_time_wins
):
    """With pending deltas a pruned read resolves exactly like read():
    no stale base row beside its delta row, no mixed base/delta layout,
    and under event_time_wins a base row outside the range still
    outranks an older delta row inside it."""
    kw = dict(keys=["k"], partition_by=partition_by, order_by=["ts"],
              event_time_wins=event_time_wins)
    table.upsert_delta(
        _mk(spark, [(1, 5, "a", 0), (2, 1, "b", 1), (3, 1, "c", 2)]), **kw
    )
    table.upsert_delta(_mk(spark, [(1, 3, "a-old", 0), (2, 2, "b2", 1)]), **kw)
    for bounds in (
        {"ts": (3, 3)},
        {"ts": (1, 2)},
        {"k": (1, 2), "ts": (None, 4)},
        {"p": (0, 0)},
    ):
        pred = F.lit(True)
        for col, (lo, hi) in bounds.items():
            if lo is not None:
                pred = pred & (F.col(col) >= lo)
            if hi is not None:
                pred = pred & (F.col(col) <= hi)
        want = sorted(table.read().filter(pred).collect())
        assert sorted(table.read_pruned_multi(bounds).collect()) == want, bounds
    want = sorted(table.read().filter(F.col("ts") == 3).collect())
    assert sorted(table.read_pruned("ts", 3, 3).collect()) == want
    assert [r.val for r in want] == ([] if event_time_wins else ["a-old"])
