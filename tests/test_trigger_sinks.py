"""One CDC trigger's sinks: a crash at either point of any sink's commit —
after its files land but before its log entry, or right after the entry —
replays to exact sinks, a later commit reclaims the files a crashed
writer left, and nothing the pipeline caches outlives a trigger or the
query that ran it."""

import json
import os
import time

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
    gold_booking_aggregation,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines import load_booking_fact_stream
from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

from fixtures import gen_booking_events


class _CrashAfterCommit(ParquetTable):
    """Raises at the commit of the batch ``crash_batch`` (once): right
    after its log entry is created, or with ``before_entry`` after its
    files landed but before the entry. ``crashed`` keeps that entry.
    ``fold_after`` sets the fold cadence of the pipeline's fact merge."""

    crash_batch = None
    before_entry = False
    crashed = None
    fold_after = None

    def _put_entry(self, v, entry):
        crash = self.crash_batch is not None and any(
            t["batch"] == self.crash_batch for t in entry["txns"].values()
        )
        if crash:
            self.crash_batch, self.crashed = None, entry
            if self.before_entry:
                raise RuntimeError("injected crash before the log entry")
        created = super()._put_entry(v, entry)
        if crash:
            raise RuntimeError("injected crash after commit")
        return created

    def upsert_delta(self, *args, **kwargs):
        if self.fold_after is not None:
            kwargs.setdefault("fold_after", self.fold_after)
        return super().upsert_delta(*args, **kwargs)


def _dim(spark):
    # a column gold does not read, so the pipeline's dim side is a
    # projection of its own
    return spark.createDataFrame(
        [(i, ["US", "DE", "JP"][i % 3], i % 2) for i in range(1, 101)],
        "customer_id int, country string, tier int",
    )


def _write_files(landing, files):
    """One newline-JSON file per event list, drained in list order."""
    os.makedirs(landing, exist_ok=True)
    t0 = int(time.time()) - len(files)
    for i, events in enumerate(files):
        path = os.path.join(landing, f"feed_{i:03d}.json")
        with open(path, "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")
        os.utime(path, (t0 + i, t0 + i))


def _two_files(event_time_wins):
    """Two files over the same keys. With ``event_time_wins`` every other
    event of the second file is older than every event of the first, so
    the two conflict rules keep different rows. A booking keeps its
    customer across updates, as it keeps its booking date: incremental
    gold's max is exact only while no group loses its latest booking."""
    events = [dict(e) for e in gen_booking_events(n=240, n_keys=180, seed=31)]
    customer = {}
    for e in events:
        e["customer_id"] = customer.setdefault(e["booking_id"], e["customer_id"])
    first, second = events[:120], events[120:]
    if event_time_wins:
        for i, e in enumerate(second[::2]):
            e["timestamp"] = f"2023-06-01 {i // 60:02d}:{i % 60:02d}:00"
    return first, second


def _expected_fact(files, event_time_wins):
    want = {}
    for events in files:  # arrival order; an event-time tie goes to the later
        for e in events:
            if e["check_out_date"] < e["check_in_date"]:
                continue
            old = want.get(e["booking_id"])
            if not event_time_wins or old is None or e["timestamp"] >= old[1]:
                want[e["booking_id"]] = (e["amount"], e["timestamp"])
    return {k: amount for k, (amount, _ts) in want.items()}


def _assert_cdc_gates(fact, quarantine, gold, dim, files, event_time_wins):
    """The three CDC gates: fact = latest per key, quarantine = the bad
    rows, gold = a full rebuild at 6 dp."""
    want_fact = _expected_fact(files, event_time_wins)
    got = fact.read().select("booking_id", "amount").collect()
    assert len(got) == len(want_fact)
    assert {r.booking_id: r.amount for r in got} == want_fact
    want_bad = sorted(
        e["id"] for events in files for e in events
        if e["check_out_date"] < e["check_in_date"]
    )
    assert sorted(r.id for r in quarantine.read().collect()) == want_bad

    def r6(df):
        return sorted(
            (r.country, r.total_bookings, r.last_booking_date, r.total_amount)
            for r in df.select(
                "country", "total_bookings", "last_booking_date",
                F.round("total_amount", 6).alias("total_amount"),
            ).collect()
        )

    assert r6(gold.read()) == r6(gold_booking_aggregation(fact.read(), dim))


def _crash_and_replay(spark, tmp_path, sink, event_time_wins, before_entry):
    """Drain one-file triggers whose last (an incremental-gold one) dies at
    ``sink``'s commit, before the checkpoint commits; restart the stream
    and apply the three CDC gates. ``sink="fold"`` is the fact sink on a
    trigger that folds a pending delta (three files, fold every 2nd
    merge). Returns the tables and the crashed commit's entry."""
    files = _two_files(event_time_wins)
    assert any(e["check_out_date"] < e["check_in_date"] for e in files[1])
    if sink == "fold":
        files = [files[0], files[1][:60], files[1][60:]]
        assert any(e["check_out_date"] < e["check_in_date"] for e in files[2])
    landing = str(tmp_path / "feed")
    _write_files(landing, files)
    tables = {
        name: _CrashAfterCommit(spark, str(tmp_path / name))
        for name in ("fact", "quarantine", "gold")
    }
    crashing = tables["fact" if sink == "fold" else sink]
    crashing.crash_batch, crashing.before_entry = len(files) - 1, before_entry
    if sink == "fold":
        crashing.fold_after = 2
    dim = _dim(spark)

    def drain():
        load_booking_fact_stream(
            spark, landing, tables["fact"], tables["quarantine"],
            str(tmp_path / "ckpt"), dim=dim, gold=tables["gold"],
            incremental_gold=True, event_time_wins=event_time_wins,
            max_files_per_trigger=1,
        )

    with pytest.raises(Exception):  # StreamingQueryException wraps the cause
        drain()
    assert crashing.crash_batch is None, "injection never fired"
    txn = ("booking_fact:" + str(tmp_path / "ckpt"), len(files) - 1)
    assert crashing.applied(txn) != before_entry
    entry = crashing.crashed
    if sink == "fold":  # the crashed commit folds the pending delta
        assert entry["meta"]["mor"]["pending"] == 0
        assert any(p.startswith("_delta/") for p in entry["remove"])
    drain()
    _assert_cdc_gates(
        tables["fact"], tables["quarantine"], tables["gold"], dim, files,
        event_time_wins,
    )
    return tables, dim, files, crashing, entry


@pytest.mark.parametrize(
    "event_time_wins", [False, True], ids=["arrival", "event_time"]
)
@pytest.mark.parametrize("sink", ["quarantine", "fact", "gold", "fold"])
def test_crash_after_each_sink_commit_replays_to_exact_sinks(
    spark, tmp_path, sink, event_time_wins
):
    """A trigger dies right after ``sink`` created its log entry: the
    restarted stream replays it, every sink that committed skips it, the
    others complete it, and all three CDC gates hold."""
    _crash_and_replay(spark, tmp_path, sink, event_time_wins, before_entry=False)


@pytest.mark.parametrize(
    "event_time_wins", [False, True], ids=["arrival", "event_time"]
)
@pytest.mark.parametrize("sink", ["quarantine", "fact", "gold", "fold"])
def test_crash_before_each_sink_entry_replays_and_reclaims(
    spark, tmp_path, sink, event_time_wins
):
    """A trigger dies after ``sink``'s files landed but before its log
    entry: no reader sees those files, the replay commits the batch once,
    all three CDC gates hold, and a later commit's vacuum reclaims the
    crashed writer's files without touching a live one."""
    tables, dim, files, crashing, entry = _crash_and_replay(
        spark, tmp_path, sink, event_time_wins, before_entry=True
    )
    orphans = [os.path.join(crashing.root, a["path"]) for a in entry["add"]]
    assert orphans and all(os.path.exists(p) for p in orphans)
    assert not {a["path"] for a in entry["add"]} & set(crashing._snapshot().files)
    empty = crashing.read().limit(0)
    for _ in range(2 * 10 + 1):  # a checkpoint commit sweeps
        if not any(os.path.exists(p) for p in orphans):
            break
        crashing.append(empty)
    assert not any(os.path.exists(p) for p in orphans), "orphans never reclaimed"
    assert set(os.listdir(crashing.root)) <= {"_log", "data", "_delta"}
    _assert_cdc_gates(
        tables["fact"], tables["quarantine"], tables["gold"], dim, files,
        event_time_wins,
    )


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _assert_only_cached(spark, frame):
    """``frame`` is cached and nothing else is (it is unpersisted to look,
    then persisted again)."""
    assert frame.storageLevel != StorageLevel.NONE
    frame.unpersist(blocking=True)
    assert _cache_manager(spark).isEmpty()
    frame.persist()


def test_pipeline_leaves_nothing_cached(spark, tmp_path):
    """After an available_now drain, after a trigger that raises mid-batch
    and after stop() of a continuous-trigger query, Spark caches only the
    dim the caller persisted: the trigger's cached rows and the query's
    cached dim side are released on every exit path."""
    spark.catalog.clearCache()
    events = gen_booking_events(n=360, n_keys=300, seed=37)
    landing = str(tmp_path / "feed")
    _write_files(landing, [events[:120], events[120:240]])
    dim = _dim(spark).persist()
    tables = {
        name: _CrashAfterCommit(spark, str(tmp_path / name))
        for name in ("fact", "quarantine", "gold")
    }

    def stream(**kw):
        return load_booking_fact_stream(
            spark, landing, tables["fact"], tables["quarantine"],
            str(tmp_path / "ckpt"), dim=dim, gold=tables["gold"],
            incremental_gold=True, max_files_per_trigger=1, **kw,
        )

    try:
        stream()
        _assert_only_cached(spark, dim)

        _write_files(str(tmp_path / "next"), [events[240:]])
        os.replace(str(tmp_path / "next" / "feed_000.json"),
                   os.path.join(landing, "feed_002.json"))
        tables["fact"].crash_batch = 2
        with pytest.raises(Exception):
            stream()
        assert tables["fact"].crash_batch is None, "injection never fired"
        _assert_only_cached(spark, dim)

        q = stream(available_now=False, processing_time="1 second")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # the query's listener releases the dim side once the stop reaches it
        own_side = dim.select("customer_id", "country")
        deadline = time.time() + 30
        while own_side.storageLevel != StorageLevel.NONE:
            assert time.time() < deadline, "dim side still cached after stop()"
            time.sleep(0.2)
        _assert_only_cached(spark, dim)
        assert tables["fact"].read().count() > 0
    finally:
        dim.unpersist()
