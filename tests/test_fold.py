"""The merge-on-read fold: the resolved read of the touched partitions,
with the batch as one more delta. Pins its Spark jobs and the plan of the
frame it writes, the job ``compact`` sizes its files without, and the
``_delta/d{seq}`` dirs the vacuum removes once it deletes their files."""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

MOR = dict(keys=["k"], partition_by=["p"], order_by=["ts"])


def _mk(spark, lo, n, ts, parts=6):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("k"),
        F.lit(ts).cast("long").alias("ts"),
        F.concat(F.lit(f"v{ts}:"), F.col("id").cast("string")).alias("val"),
        (F.col("id") % parts).alias("p"),
    )


@contextlib.contextmanager
def _jobs(spark):
    """Yields a list that holds, on exit, the ids of the Spark jobs the
    block launched."""
    sc, out = spark.sparkContext, []
    tracker = sc.statusTracker()
    sc.setJobGroup("counted", "jobs of one table write")
    try:
        before = set(tracker.getJobIdsForGroup("counted"))
        yield out
        out.extend(sorted(set(tracker.getJobIdsForGroup("counted")) - before))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _pending_table(spark, tmp_path, event_time_wins):
    """A partitioned table with two pending deltas (the next batch folds
    at ``fold_after=3``)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    kw = dict(MOR, event_time_wins=event_time_wins, fold_after=3)
    t.upsert_delta(_mk(spark, 0, 600, 0), **kw)
    t.upsert_delta(_mk(spark, 100, 50, 1), **kw)
    t.upsert_delta(_mk(spark, 590, 50, 2), **kw)
    assert t._current_meta()["mor"]["pending"] == 2
    return t, kw


@pytest.mark.parametrize("event_time_wins", [False, True], ids=["arrival", "event_time"])
def test_fold_launches_five_jobs(spark, tmp_path, event_time_wins):
    """The partition peek, the two exchanges (the touched base and the
    change set, both on the partition columns) and the write."""
    t, kw = _pending_table(spark, tmp_path, event_time_wins)
    want = sorted(
        (r.k, r.val) for r in t.read().collect() if not 120 <= r.k < 130
    ) + [(k, f"v3:{k}") for k in range(120, 130)]
    with _jobs(spark) as jobs:
        t.upsert_delta(_mk(spark, 120, 10, 3), **kw)
    assert len(jobs) == 5, jobs
    assert not t._current_meta()["mor"]["pending"]
    assert sorted((r.k, r.val) for r in t.read().collect()) == sorted(want)


def _plan(node):
    """(name, JVM node, children) of a physical plan node, through the
    current plan of an adaptive one."""
    if node.nodeName().startswith("AdaptiveSparkPlan"):
        node = node.executedPlan()
    kids = node.children()
    return node.nodeName(), node, [_plan(kids.apply(i)) for i in range(kids.size())]


def _paths_to_base_scans(plan, above=()):
    """The node names from the root down to each scan of the base tree."""
    name, node, kids = plan
    path = (*above, name)
    if not kids:
        scans_base = name.startswith("Scan parquet") and f"{os.sep}data{os.sep}" in (
            node.relation().location().rootPaths().apply(0).toString()
        )
        return [path] if scans_base else []
    return [p for kid in kids for p in _paths_to_base_scans(kid, path)]


def _names(plan):
    name, _node, kids = plan
    return [name, *(n for kid in kids for n in _names(kid))]


@pytest.mark.parametrize("event_time_wins", [False, True], ids=["arrival", "event_time"])
def test_fold_plan_shuffles_the_base_once(spark, tmp_path, monkeypatch, event_time_wins):
    """The frame the fold writes: one window over the union of the base
    and the change set, whose exchange on the partition columns is the only
    one between the base scan and the write: no aggregate, no broadcast,
    no second shuffle of the base."""
    t, kw = _pending_table(spark, tmp_path, event_time_wins)
    written = []
    write_files = ParquetTable._write_files
    monkeypatch.setattr(
        ParquetTable, "_write_files",
        lambda self, df, *a, **k: written.append(df) or write_files(self, df, *a, **k),
    )
    t.upsert_delta(_mk(spark, 120, 10, 3), **kw)
    assert len(written) == 1
    plan = _plan(written[0]._jdf.queryExecution().executedPlan())
    names = _names(plan)
    assert "SortAggregate" not in names and "BroadcastExchange" not in names, names
    paths = _paths_to_base_scans(plan)
    assert paths, names
    for path in paths:
        assert sum(n.endswith("Exchange") for n in path) == 1, path


def test_event_time_wins_without_order_by_raises(spark, tmp_path):
    """Event time needs the columns that carry it: a delta and a fold both
    refuse to fall back to arrival order."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.upsert_delta(_mk(spark, 0, 10, 0), **MOR)
    with pytest.raises(ValueError, match="requires order_by"):
        t.upsert_delta(_mk(spark, 0, 10, 1), ["k"], ["p"], event_time_wins=True)
    with pytest.raises(ValueError, match="requires order_by"):
        t.upsert_pruned(_mk(spark, 0, 10, 1), ["k"], ["p"], event_time_wins=True)


def test_compact_sizes_files_from_the_log(spark, tmp_path):
    """maybe_compact counts the rows from the add records: the write's
    exchange and the write, and no count job."""
    t = ParquetTable(spark, str(tmp_path / "q"))
    for i in range(4):
        t.append(_mk(spark, 10 * i, 10, i))
    with _jobs(spark) as jobs:
        assert t.maybe_compact(trigger_files=4, target_rows_per_file=15)
    assert len(jobs) == 2, jobs
    assert t.live_file_count() == 3
    assert sorted(r.k for r in t.read().collect()) == list(range(40))


def test_vacuum_removes_emptied_delta_dirs(spark, tmp_path):
    """After folds of one-file triggers, every dir under ``_delta/`` holds
    a file the current version lists: the vacuum that deletes a folded
    delta removes the dir it emptied."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    kw = dict(MOR, fold_after=2)
    for i in range(8):  # the first write, then a fold every second trigger
        t.upsert_delta(_mk(spark, 10 * i, 20, i).coalesce(1), **kw)
    listed = {os.path.dirname(p) for p in t._snapshot().files if p.startswith("_delta/")}
    assert listed
    delta = os.path.join(t.root, "_delta")
    assert {f"_delta/{d}" for d in os.listdir(delta)} == listed
