"""The driver-resident tail of a CDC trigger: the Arrow "latest row per
key" kernel against the Spark rules it replaces, the Spark jobs one
incremental trigger launches, the events it counts, the byte cap on a
default drain, and incremental gold's max when a booking leaves its
group."""

import json
import random

import pyarrow as pa
import pytest

from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
    gold_booking_aggregation,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.operators.merge import (
    latest_per_key,
    latest_rows,
    resolve_event_time,
    resolve_event_time_rows,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines import load_booking_fact_stream
from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
    dim_side,
    process_booking_batch,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.schemas import BOOKING_DOC_SCHEMA
from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import (
    ParquetTable,
    _mor_resolve_rows,
    _mor_resolve_tagged,
)

from fixtures import gen_booking_events
from test_trigger_sinks import _assert_cdc_gates, _dim, _write_files

ROW = "k long, ts long, seq long, v string"
ARROW_ROW = pa.schema([
    ("k", pa.int64()), ("ts", pa.int64()), ("seq", pa.int64()), ("v", pa.string()),
])


def _rows(rng, n, unique_keys=False, seq0=0):
    """``n`` rows over a few keys (a null key among them) with few
    distinct event times (nulls among them), so keys repeat and times tie;
    ``seq`` is unique."""
    keys = [None, *range(8)]
    if unique_keys:
        keys = rng.sample(keys, min(n, len(keys)))
    out = []
    for i in range(n):
        k = keys[i] if unique_keys else rng.choice(keys)
        ts = None if rng.random() < 0.2 else rng.randrange(4)
        out.append({"k": k, "ts": ts, "seq": seq0 + i, "v": f"r{seq0 + i}"})
    return out


def _both(spark, rows, schema=ARROW_ROW, ddl=ROW):
    return spark.createDataFrame([tuple(r.values()) for r in rows], ddl), \
        pa.Table.from_pylist(rows, schema)


def _as_set(rows):
    return {tuple(sorted(r.items(), key=lambda kv: kv[0])) for r in rows}


def _spark_rows(df):
    return _as_set(r.asDict() for r in df.collect())


@pytest.mark.parametrize("seed", range(4))
def test_latest_rows_matches_latest_per_key(spark, seed):
    rng = random.Random(seed)
    for n in (0, 1, 40):
        df, table = _both(spark, _rows(rng, n))
        # seq makes the order total: Spark's window breaks exact ties
        # arbitrarily, the kernel by input order
        want = _spark_rows(latest_per_key(df, ["k"], ["ts", "seq"]))
        assert _as_set(latest_rows(table, ["k"], ["ts", "seq"]).to_pylist()) == want


@pytest.mark.parametrize("seed", range(4))
def test_resolve_event_time_rows_matches_resolve_event_time(spark, seed):
    rng = random.Random(100 + seed)
    for n_target, n_source in ((0, 0), (5, 0), (0, 5), (9, 9), (6, 9)):
        target = _rows(rng, n_target, unique_keys=True)
        source = _rows(rng, n_source, unique_keys=True, seq0=100)
        target_ts = {r["k"]: r["ts"] for r in target}
        tied = set()
        for r in source:  # exact ties, a null one included: the source wins
            if r["k"] in target_ts and rng.random() < 0.5:
                r["ts"] = target_ts[r["k"]]
                tied.add(r["v"])
        (t_df, t_tab), (s_df, s_tab) = _both(spark, target), _both(spark, source)
        want = _spark_rows(resolve_event_time(t_df, s_df, ["k"], ["ts"]))
        got = resolve_event_time_rows(t_tab, s_tab, ["k"], ["ts"]).to_pylist()
        assert _as_set(got) == want
        assert tied <= {r["v"] for r in got}


@pytest.mark.parametrize("event_time_wins", [False, True], ids=["arrival", "event_time"])
@pytest.mark.parametrize("seed", range(3))
def test_mor_resolve_rows_matches_mor_resolve_tagged(spark, seed, event_time_wins):
    rng = random.Random(200 + seed)
    mor = {"keys": ["k"], "order_by": ["ts"], "event_time_wins": event_time_wins}
    # a stack of frames (base = seq 0), each unique on its keys
    rows = []
    for frame in range(4):
        for r in _rows(rng, 6, unique_keys=True, seq0=10 * frame):
            r["seq"] = frame
            rows.append(r)
    for stack in (rows, rows[:0]):
        df, table = _both(spark, stack)
        df, table = (
            df.withColumnRenamed("seq", "__seq"),
            table.rename_columns(["k", "ts", "__seq", "v"]),
        )
        want = _spark_rows(_mor_resolve_tagged(df, mor))
        assert _as_set(_mor_resolve_rows(table, mor).to_pylist()) == want


# -- one incremental trigger --------------------------------------------------


def _events(n, n_keys, seed):
    """Booking events whose customer, like the booking date, stays the same
    across a booking's updates, so no gold group loses a booking."""
    events = [dict(e) for e in gen_booking_events(n=n, n_keys=n_keys, seed=seed)]
    customer = {}
    for e in events:
        e["customer_id"] = customer.setdefault(e["booking_id"], e["customer_id"])
    return events


def _write_json(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _read_batch(spark, path):
    return spark.read.schema(BOOKING_DOC_SCHEMA).json(path)


def _tables(spark, tmp_path):
    return [ParquetTable(spark, str(tmp_path / n)) for n in ("fact", "quarantine", "gold")]


def _seeded(spark, tmp_path, files):
    """Fact, quarantine and gold after one trigger per file but the last:
    the first creates the fact and a fully refreshed gold, the second
    leaves a pending merge-on-read delta."""
    fact, quarantine, gold = _tables(spark, tmp_path)
    dim = dim_side(_dim(spark))
    for i, events in enumerate(files[:-1]):
        path = str(tmp_path / f"f{i}.json")
        _write_json(path, events)
        process_booking_batch(
            _read_batch(spark, path), fact, quarantine, dim=dim, gold=gold,
            incremental_gold=True, txn=("t", i),
        )
    assert fact._current_meta()["mor"]["pending"] >= 1
    return fact, quarantine, gold, dim


def test_incremental_trigger_launches_seven_jobs(spark, tmp_path):
    """Batch read, key broadcast, before-image collect, fact delta,
    quarantine append, gold read, gold write — and nothing else."""
    events = _events(n=360, n_keys=260, seed=41)
    files = [events[:120], events[120:240], events[240:]]
    assert any(e["check_out_date"] < e["check_in_date"] for e in files[-1])
    fact, quarantine, gold, dim = _seeded(spark, tmp_path, files)
    path = str(tmp_path / "last.json")
    _write_json(path, files[-1])
    batch = _read_batch(spark, path)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("one-trigger", "one incremental trigger")
    try:
        before = set(tracker.getJobIdsForGroup("one-trigger"))
        process_booking_batch(
            batch, fact, quarantine, dim=dim, gold=gold, incremental_gold=True,
            txn=("t", len(files) - 1),
        )
        jobs = set(tracker.getJobIdsForGroup("one-trigger")) - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 7, sorted(jobs)
    _assert_cdc_gates(fact, quarantine, gold, dim, files, False)


def test_batch_of_rejected_rows_leaves_fact_and_gold(spark, tmp_path):
    events = _events(n=240, n_keys=200, seed=43)
    rejected = [dict(e, check_out_date="2023-01-01") for e in events[:20]]
    files = [events[:120], events[120:], rejected]
    fact, quarantine, gold, dim = _seeded(spark, tmp_path, files)
    want_gold = sorted(tuple(r) for r in gold.read().collect())
    path = str(tmp_path / "rejected.json")
    _write_json(path, rejected)
    process_booking_batch(
        _read_batch(spark, path), fact, quarantine, dim=dim, gold=gold,
        incremental_gold=True, txn=("t", 2),
    )
    assert sorted(tuple(r) for r in gold.read().collect()) == want_gold
    _assert_cdc_gates(fact, quarantine, gold, dim, files, False)


def test_drain_counts_each_event_once(spark, tmp_path):
    """Structured Streaming counts every read of the foreachBatch frame in
    numInputRows: the batch is read once, so the count is the events."""
    files = [gen_booking_events(n=150, n_keys=120, seed=s) for s in (51, 52, 53)]
    landing = str(tmp_path / "feed")
    _write_files(landing, files)
    fact, quarantine, gold = _tables(spark, tmp_path)
    q = load_booking_fact_stream(
        spark, landing, fact, quarantine, str(tmp_path / "ckpt"),
        dim=_dim(spark), gold=gold, incremental_gold=True, max_files_per_trigger=1,
    )
    progress = [p for p in q.recentProgress if int(p["numInputRows"]) > 0]
    assert len(progress) == len(files)
    assert sum(int(p["numInputRows"]) for p in progress) == sum(map(len, files))


def test_default_drain_caps_every_trigger(spark, tmp_path, monkeypatch):
    """Without max_files_per_trigger a drain is capped by bytes: a backlog
    larger than the cap runs as several triggers, and no collect to the
    driver holds more than one file's events. The file source admits at
    least one file per trigger, so a 1-byte cap drains one file each."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions import arrow
    from azure_airbnb_cdc_ingestion_pipeline_spark.streaming import cdc

    events = gen_booking_events(n=450, n_keys=400, seed=43)
    files = [events[:150], events[150:300], events[300:]]
    landing = str(tmp_path / "feed")
    _write_files(landing, files)
    fact, quarantine, gold = _tables(spark, tmp_path)
    dim = _dim(spark)
    monkeypatch.setattr(cdc, "TRIGGER_MAX_BYTES", 1)
    collected = []
    collect = arrow.collect

    def spy(df):
        out = collect(df)
        collected.append(out.data.num_rows)
        return out

    monkeypatch.setattr(arrow, "collect", spy)
    q = load_booking_fact_stream(
        spark, landing, fact, quarantine, str(tmp_path / "ckpt"),
        dim=dim, gold=gold, incremental_gold=True,
    )
    triggers = [int(p["numInputRows"]) for p in q.recentProgress
                if int(p["numInputRows"]) > 0]
    assert len(triggers) >= 2
    assert sum(triggers) == len(events)
    budget = max(map(len, files))
    assert collected and max(collected) <= budget
    _assert_cdc_gates(fact, quarantine, gold, dim, files, False)


@pytest.mark.parametrize("event_time_wins", [False, True], ids=["arrival", "event_time"])
def test_gold_max_drops_when_a_booking_leaves_its_group(spark, tmp_path, event_time_wins):
    """An update that moves a booking to another customer retracts its date
    from the old group; a group whose max it was reads the fact's max, as
    a rebuild does."""
    events = gen_booking_events(n=240, n_keys=180, seed=31)
    files = [events[:120], events[120:]]
    landing = str(tmp_path / "feed")
    _write_files(landing, files)
    fact, quarantine, gold = _tables(spark, tmp_path)
    dim = _dim(spark)
    load_booking_fact_stream(
        spark, landing, fact, quarantine, str(tmp_path / "ckpt"), dim=dim,
        gold=gold, incremental_gold=True, event_time_wins=event_time_wins,
        max_files_per_trigger=1,
    )
    got = {r.country: r.last_booking_date for r in gold.read().collect()}
    want = {
        r.country: r.last_booking_date
        for r in gold_booking_aggregation(fact.read(), dim).collect()
    }
    assert got == want
    _assert_cdc_gates(fact, quarantine, gold, dim, files, event_time_wins)


def test_signed_delta_joins_a_dim_of_another_integer_type():
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import signed_delta

    image = pa.table({
        "customer_id": pa.array([1, 2, None], pa.int32()),
        "amount": [10.0, None, 5.0],
        "booking_date": pa.array([3, 4, 5], pa.int32()),
    })
    empty = image.slice(0, 0)
    dims = [
        pa.table({"customer_id": pa.array([1, 2], t), "country": ["US", "DE"]})
        for t in (pa.int32(), pa.int64())
    ]
    same, wider = (signed_delta(empty, image, d).sort_by("country") for d in dims)
    assert same.to_pylist() == wider.to_pylist() == [
        {"country": "DE", "total_bookings": 1, "total_amount": 0.0,
         "last_booking_date": 4, "retracted_max": None},
        {"country": "US", "total_bookings": 1, "total_amount": 10.0,
         "last_booking_date": 3, "retracted_max": None},
    ]
