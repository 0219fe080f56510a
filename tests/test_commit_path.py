"""ParquetTable's one commit sequence: every write goes through the replay
guard, writes a sidecar, and a read-modify-write commits only on the
snapshot it read."""

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


def _inodes(vdir: str) -> dict[str, int]:
    out = {}
    for dirpath, _d, files in os.walk(vdir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, vdir)] = os.stat(p).st_ino
    return out


def _current_dir(t) -> str:
    return t._version_dir(t.current_version())


def _race_next_commit(monkeypatch, t, other_commit) -> None:
    """Let another writer commit right before ``t``'s next commit, i.e.
    after ``t`` read its snapshot and wrote its version from it."""
    commit = t._commit

    def racing(*args, **kwargs):
        monkeypatch.setattr(t, "_commit", commit)
        other_commit()
        return commit(*args, **kwargs)

    monkeypatch.setattr(t, "_commit", racing)


def test_append_to_partitioned_table_keeps_rows(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]), partition_by=["p"])
    t.append(_mk(spark, [(3, 1, "c", 1), (4, 1, "d", 2)]))
    assert _state(t) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    vdir = _current_dir(t)
    assert t._read_meta(vdir)["partition_by"] == ["p"]
    assert {rel.split(os.sep)[0] for rel in _inodes(vdir)} == {"p=0", "p=1", "p=2"}


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
        meta = t._read_meta(_current_dir(t))
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
    """Writer B's whole commit runs between writer A's pointer check and
    A's pointer rename: B must wait for A and then lose, never land and
    be overwritten by A (which moved the pointer back and dropped B's
    rows)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, 1, "a", 0)]))
    other = ParquetTable(spark, t.root)
    b_commit, staged, outcome, threads = other._commit, {}, {}, []
    seen = [t.current_version()]

    def run_b():
        try:
            b_commit(*staged["args"], **staged["kwargs"])
        except ConcurrentWriteError as exc:
            outcome["b"] = exc

    a_commit, a_read = t._commit, t._read_pointer

    def a_commit_racing(*args, **kwargs):
        # B claims the version after A's and writes it; its commit waits
        monkeypatch.setattr(
            other, "_commit", lambda *a, **kw: staged.update(args=a, kwargs=kw)
        )
        other.append(_mk(spark, [(3, 1, "c", 0)]))

        def read_then_race():
            out = a_read()
            monkeypatch.setattr(t, "_read_pointer", a_read)
            b = threading.Thread(target=run_b)
            b.start()
            b.join(timeout=5)
            threads.append(b)
            seen.append(ParquetTable(spark, t.root).current_version())
            return out

        monkeypatch.setattr(t, "_read_pointer", read_then_race)
        return a_commit(*args, **kwargs)

    monkeypatch.setattr(t, "_commit", a_commit_racing)
    t.append(_mk(spark, [(2, 1, "b", 0)]))
    seen.append(t.current_version())
    threads[0].join(timeout=60)
    assert not threads[0].is_alive()
    seen.append(t.current_version())
    assert isinstance(outcome.get("b"), ConcurrentWriteError)
    assert seen == sorted(seen), seen
    assert _state(t) == [(1, "a"), (2, "b")]


def test_commit_stress_no_two_commits_share_a_base(spark, tmp_path):
    """16 threads race conditional commits of empty versions: each
    snapshot version is committed on at most once (a second commit on the
    same base would overwrite the first one's rows), and the pointer
    never moves back."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    wins, moved_back = [], []

    def commit_loop():
        for _ in range(15):
            base, v = t._claim_version()
            os.makedirs(t._version_dir(v), exist_ok=True)
            try:
                t._commit(v, expected_base=base)
            except ConcurrentWriteError:
                continue
            wins.append(base)
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
    v1 = _inodes(_current_dir(t))
    t.upsert_delta(_mk(spark, [(1, 2, "a2", 0)]), **MOR)  # delta in p=0 only
    t.delete_where(F.col("k") == 1)  # folds, then rewrites p=0
    assert _state(t) == [(2, "b"), (3, "c")]
    now = _inodes(_current_dir(t))
    untouched = {rel: ino for rel, ino in v1.items() if not rel.startswith("p=0")}
    assert untouched and all(now.get(rel) == ino for rel, ino in untouched.items())
