"""ParquetTable records each version's schema in its sidecar and reads
every version with it: building a read launches no Spark job, and the
schema evolves only by what a write records (``append`` adds the batch's
new columns, ``overwrite`` replaces them)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import (
    ParquetTable,
    read_version,
)

MOR = dict(keys=["k"], partition_by=["p"], order_by=["ts"])


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, ts long, val string, p long")


def test_reads_launch_no_job(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.upsert_delta(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]), **MOR)
    t.upsert_delta(_mk(spark, [(1, 2, "a2", 0), (3, 1, "c", 2)]), **MOR)
    assert t._current_meta()["mor"]["pending"] == 1
    # more live files than Spark lists on the driver by default (32): a
    # read that names each file must not list them in a Spark job
    wide = ParquetTable(spark, str(tmp_path / "wide"))
    wide.overwrite(_mk(spark, [(k, 1, "w", 0) for k in range(96)]).repartition(40))
    assert wide.live_file_count() > 32
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("table-reads", "building table reads")
    try:
        before = set(tracker.getJobIdsForGroup("table-reads"))
        reads = [
            t.read(), read_version(t, t.current_version()),
            wide.read(), read_version(wide, wide.current_version()),
        ]
        after = set(tracker.getJobIdsForGroup("table-reads"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert after == before
    assert sorted((r.k, r.val) for r in reads[1].collect()) == [
        (1, "a2"), (2, "b"), (3, "c"),
    ]
    assert reads[3].count() == 96


def test_append_with_new_column_shows_it_in_a_plain_read(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0)]), partition_by=["p"])
    t.append(
        _mk(spark, [(2, 1, "b", 1)]).withColumn("extra", F.lit("x"))
    )
    df = t.read()
    assert df.columns == ["k", "ts", "val", "extra", "p"]
    assert sorted((r.k, r.extra) for r in df.collect()) == [(1, None), (2, "x")]


def test_overwrite_with_fewer_columns_replaces_the_schema(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0)]))
    t.overwrite(spark.createDataFrame([(7, "z")], "k long, val string"))
    df = t.read()
    assert df.columns == ["k", "val"]
    assert [tuple(r) for r in df.collect()] == [(7, "z")]


def test_upsert_delta_after_evolving_append_resolves_with_nulls(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]), partition_by=["p"])
    t.append(_mk(spark, [(3, 1, "c", 1)]).withColumn("extra", F.lit("x")))
    t.upsert_delta(_mk(spark, [(3, 2, "c2", 1), (4, 1, "d", 0)]), **MOR)
    assert t._current_meta()["mor"]["pending"] == 1
    got = sorted((r.k, r.val, r.extra) for r in t.read().collect())
    # key 3's delta row, written without the column, outranks its "x"
    assert got == [(1, "a", None), (2, "b", None), (3, "c2", None), (4, "d", None)]


def test_emptied_version_reads_as_zero_rows(spark, tmp_path):
    """A delete of every row leaves a version with no data file; it reads
    as zero rows with the recorded schema, and later writes build on it."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]), partition_by=["p"])
    t.delete_where(F.lit(True))
    assert t.live_file_count() == 0
    assert t.read().count() == 0 and t.read().columns == ["k", "ts", "val", "p"]
    t.upsert(_mk(spark, [(3, 1, "c", 1)]), keys=["k"])
    assert [(r.k, r.p) for r in t.read().collect()] == [(3, 1)]


def test_version_without_recorded_schema_raises(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0)]))
    path = t._entry_path(t.current_version())
    with open(path) as f:
        entry = json.load(f)
    del entry["meta"]["schema"]
    with open(path + ".new", "w") as f:
        json.dump(entry, f)
    os.replace(path + ".new", path)
    with pytest.raises(ValueError, match=str(tmp_path / "t")):
        t.read()


@pytest.mark.parametrize(
    "event_time_wins", [False, True], ids=["arrival", "event_time"]
)
def test_pruned_merge_of_batch_without_appended_column(spark, tmp_path, event_time_wins):
    """A batch that lacks a column an append added merges with nulls
    there; rows the batch does not touch keep their values."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]), partition_by=["p"])
    t.append(_mk(spark, [(3, 1, "c", 1)]).withColumn("extra", F.lit("x")))
    t.upsert_pruned(
        _mk(spark, [(1, 2, "a2", 0), (4, 1, "d", 1)]),
        keys=["k"], partition_by=["p"], order_by=["ts"],
        event_time_wins=event_time_wins,
    )
    got = sorted((r.k, r.val, r.extra) for r in t.read().collect())
    assert got == [(1, "a2", None), (2, "b", None), (3, "c", "x"), (4, "d", None)]


@pytest.mark.parametrize(
    "event_time_wins", [False, True], ids=["arrival", "event_time"]
)
def test_fold_of_batch_without_appended_column(spark, tmp_path, event_time_wins):
    """The merge-on-read fold of a batch that lacks an appended column: a
    pending delta that carries the column keeps its value, and the
    batch's own rows read null there."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]), partition_by=["p"])
    t.append(_mk(spark, [(3, 1, "c", 1)]).withColumn("extra", F.lit("x")))
    mor = dict(MOR, event_time_wins=event_time_wins, fold_after=2)
    t.upsert_delta(_mk(spark, [(2, 2, "b2", 1)]).withColumn("extra", F.lit("y")), **mor)
    assert t._current_meta()["mor"]["pending"] == 1
    t.upsert_delta(_mk(spark, [(1, 2, "a2", 0), (4, 1, "d", 1)]), **mor)
    assert t._current_meta()["mor"]["pending"] == 0  # folded
    got = sorted((r.k, r.val, r.extra) for r in t.read().collect())
    assert got == [(1, "a2", None), (2, "b2", "y"), (3, "c", "x"), (4, "d", None)]
