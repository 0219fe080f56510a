"""ParquetTable's one commit sequence: every write goes through the replay
guard, records its schema in its log entry, and a read-modify-write
commits only on the snapshot it read."""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import (
    ConcurrentWriteError,
    ParquetTable,
)

MOR = dict(keys=["k"], partition_by=["p"], order_by=["ts"])


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, ts long, val string, p long")


def _state(t):
    return sorted((r.k, r.val) for r in t.read().collect())


def _files(t) -> set[str]:
    """The files the current version lists, relative to the table root."""
    return set(t._snapshot().files)


def _race_next_commit(monkeypatch, t, other_commit) -> None:
    """Let another writer commit right before ``t``'s next entry create,
    i.e. after ``t`` read its snapshot and wrote its files from it."""
    put = t._put_entry

    def racing(*args, **kwargs):
        monkeypatch.setattr(t, "_put_entry", put)
        other_commit()
        return put(*args, **kwargs)

    monkeypatch.setattr(t, "_put_entry", racing)


def test_append_to_partitioned_table_keeps_rows(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]), partition_by=["p"])
    t.append(_mk(spark, [(3, 1, "c", 1), (4, 1, "d", 2)]))
    assert _state(t) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert t._current_meta()["partition_by"] == ["p"]
    assert {p.split("/")[1] for p in _files(t)} == {"p=0", "p=1", "p=2"}


def test_every_version_has_a_sidecar(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    writes = [
        lambda: t.overwrite(_mk(spark, [(1, 1, "a", 0)])),
        lambda: t.append(_mk(spark, [(2, 1, "b", 0)])),
        lambda: t.upsert(_mk(spark, [(2, 2, "b2", 0)]), keys=["k"]),
        lambda: t.update_where(F.col("k") == 1, {"val": F.lit("a2")}),
        lambda: t.delete_where(F.col("k") == 2),
        lambda: t.compact(),
    ]
    for write in writes:
        write()
        meta = t._current_meta()
        assert [f["name"] for f in meta.pop("schema")["fields"]] == [
            "k", "ts", "val", "p"
        ]
        assert meta == {"partition_by": []}
    assert _state(t) == [(1, "a2")]


def test_compact_raises_on_concurrent_commit(spark, tmp_path, monkeypatch):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0)]))
    t.append(_mk(spark, [(2, 1, "b", 0)]))
    other = ParquetTable(spark, t.root)
    _race_next_commit(
        monkeypatch, t, lambda: other.append(_mk(spark, [(3, 1, "c", 0)]))
    )
    with pytest.raises(ConcurrentWriteError):
        t.compact()
    assert _state(t) == [(1, "a"), (2, "b"), (3, "c")]


def test_fold_before_delete_raises_on_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.upsert_delta(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]), **MOR)
    t.upsert_delta(_mk(spark, [(2, 2, "b2", 1)]), **MOR)  # pending delta
    other = ParquetTable(spark, t.root)
    _race_next_commit(
        monkeypatch, t,
        lambda: other.upsert_delta(_mk(spark, [(3, 1, "c", 2)]), **MOR),
    )
    with pytest.raises(ConcurrentWriteError):
        t.delete_where(F.col("k") == 1)
    assert _state(t) == [(1, "a"), (2, "b2"), (3, "c")]


def test_commit_excludes_a_racing_commit(spark, tmp_path, monkeypatch):
    """Two writers read the same snapshot, write their files and race the
    put-if-absent create of the same entry: exactly one commits, the
    other raises and deletes its files, and the winner's rows are never
    overwritten."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0)]))
    base = t.current_version()
    writers = {"b": t, "c": ParquetTable(spark, t.root)}
    both_staged = threading.Barrier(2, timeout=60)
    entries, outcome = {}, {}
    for name, w in writers.items():
        put = w._put_entry

        def staged_put(v, entry, _put=put, _name=name):
            entries[_name] = entry
            both_staged.wait()  # both wrote their files on the same base
            return _put(v, entry)

        monkeypatch.setattr(w, "_put_entry", staged_put)

    def run(name):
        try:
            writers[name].append(_mk(spark, [({"b": 2, "c": 3}[name], 1, name, 0)]))
            outcome[name] = "committed"
        except ConcurrentWriteError:
            outcome[name] = "raised"

    threads = [threading.Thread(target=run, args=(n,)) for n in writers]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not any(th.is_alive() for th in threads)
    assert sorted(outcome.values()) == ["committed", "raised"], outcome
    assert t.current_version() == base + 1
    winner = next(n for n, o in outcome.items() if o == "committed")
    assert _state(t) == sorted([(1, "a"), ({"b": 2, "c": 3}[winner], winner)])
    loser = entries[next(n for n in outcome if n != winner)]
    assert loser["add"] and not any(
        os.path.exists(os.path.join(t.root, a["path"])) for a in loser["add"]
    )


def test_commit_stress_no_two_commits_share_a_base(spark, tmp_path):
    """16 threads race conditional commits of empty versions through the
    one commit sequence: each snapshot version is committed on at most
    once (a second commit on the same base would overwrite the first
    one's rows), and the current version never moves back."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    wins, moved_back = [], []

    def commit_loop():
        for _ in range(15):
            try:
                v = t._commit_version(lambda snap, meta: ([], []))
            except ConcurrentWriteError:
                continue
            wins.append(v - 1)
            if t.current_version() < v:
                moved_back.append(v)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=commit_loop) for _ in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert len(wins) == len(set(wins)) and wins
    assert not moved_back
    assert t.current_version() == len(wins)


def test_incremental_gold_raises_on_concurrent_gold_commit(
    spark, tmp_path, monkeypatch
):
    from fixtures import gen_booking_events

    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
        process_booking_batch,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.schemas import BOOKING_DOC_SCHEMA

    events = gen_booking_events(n=120, n_keys=80, seed=5)
    dim = spark.createDataFrame(
        [(i, ["US", "DE"][i % 2]) for i in range(1, 101)],
        "customer_id int, country string",
    )
    fact = ParquetTable(spark, str(tmp_path / "fact"))
    quar = ParquetTable(spark, str(tmp_path / "quar"))
    gold = ParquetTable(spark, str(tmp_path / "gold"))

    def batch(b):
        rows = events[b * 60 : (b + 1) * 60]
        return spark.createDataFrame(rows, BOOKING_DOC_SCHEMA)

    process_booking_batch(  # first batch: full refresh, gold now exists
        batch(0), fact, quar, dim=dim, gold=gold, incremental_gold=True
    )
    other = ParquetTable(spark, gold.root)
    raced = gold.read().limit(1)
    _race_next_commit(monkeypatch, gold, lambda: other.overwrite(raced))
    with pytest.raises(ConcurrentWriteError):
        process_booking_batch(
            batch(1), fact, quar, dim=dim, gold=gold, incremental_gold=True
        )
    assert gold.read().count() == 1  # the other writer's commit stands


@pytest.mark.parametrize("write", ["append", "upsert_delta", "overwrite"])
def test_replayed_txn_commits_no_version(spark, tmp_path, write):
    t = ParquetTable(spark, str(tmp_path / "t"))
    kw = MOR if write == "upsert_delta" else {}
    getattr(t, write)(_mk(spark, [(1, 1, "a", 0)]), txn=("app", 0), **kw)
    getattr(t, write)(_mk(spark, [(2, 1, "b", 1)]), txn=("app", 1), **kw)
    v, state = t.current_version(), _state(t)
    for bid in (1, 0):  # a replay of the last batch, then of an older one
        getattr(t, write)(_mk(spark, [(2, 2, "x", 1)]), txn=("app", bid), **kw)
        assert t.current_version() == v
    assert _state(t) == state
    assert t.last_txn("app") == 1


def test_pre_dml_fold_links_untouched_partitions(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.upsert_delta(
        _mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1), (3, 1, "c", 2)]), **MOR
    )
    v1 = _files(t)
    t.upsert_delta(_mk(spark, [(1, 2, "a2", 0)]), **MOR)  # delta in p=0 only
    t.delete_where(F.col("k") == 1)  # folds, then rewrites p=0
    assert _state(t) == [(2, "b"), (3, "c")]
    now = _files(t)
    untouched = {p for p in v1 if not p.startswith("data/p=0/")}
    assert untouched and untouched <= now  # the same files, not rewritten
    assert not (v1 - untouched) & now


def test_delta_commit_walks_and_links_no_base_file(spark, tmp_path, monkeypatch):
    """An ``upsert_delta`` commit costs O(batch) on the filesystem: it
    walks only its own staging dir, links only its log entry and lists no
    directory — never the data tree, whatever its size."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.upsert_delta(_mk(spark, [(k, 1, "a", k % 8) for k in range(64)]), **MOR)
    calls = []
    for name in ("walk", "link", "listdir"):
        real = getattr(os, name)

        def counted(path=".", *args, _name=name, _real=real, **kwargs):
            calls.append((_name, os.path.abspath(path), args))
            return _real(path, *args, **kwargs)

        monkeypatch.setattr(os, name, counted)
    t.upsert_delta(_mk(spark, [(1, 2, "b", 1)]), **MOR)  # one delta, no fold
    monkeypatch.undo()
    assert t._current_meta()["mor"]["pending"] == 1
    root = os.path.abspath(t.root)
    walks = [p for n, p, _a in calls if n == "walk"]
    links = [a[0] for n, _p, a in calls if n == "link"]
    listed = [p for n, p, _a in calls if n == "listdir"]
    assert walks and all("/.s-" in p for p in walks), walks
    assert links == [os.path.join(t.root, "_log", f"{2:020d}.json")], links
    assert not [p for p in listed if p.startswith(root)], listed
