"""End-to-end pipeline tests against the FIXTURES.md F1/F2 fixtures:
dim lifecycle (list→upsert→archive→delete), CDC fact merge with quality
quarantine, gold golden-output check vs a DuckDB oracle, streaming
incremental + replay idempotence."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines import (
    load_booking_fact_stream,
    run_cdc_pipeline,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

from fixtures import gen_booking_events, write_booking_events_json, write_customer_csv_drops


@pytest.fixture()
def workspace(tmp_path):
    ws = {
        "raw": str(tmp_path / "customer_raw_data"),
        "archive": str(tmp_path / "customer_archive"),
        "landing": str(tmp_path / "booking_feed"),
        "warehouse": str(tmp_path / "warehouse"),
        "checkpoint": str(tmp_path / "checkpoint"),
    }
    write_customer_csv_drops(ws["raw"])
    write_booking_events_json(ws["landing"], n_files=4, n=400, n_keys=350)
    return ws


def test_cdc_pipeline_end_to_end(spark, workspace):
    tables = run_cdc_pipeline(
        spark,
        customer_raw_dir=workspace["raw"],
        customer_archive_dir=workspace["archive"],
        booking_landing_dir=workspace["landing"],
        warehouse_dir=workspace["warehouse"],
        checkpoint_dir=workspace["checkpoint"],
    )

    # --- dim: 100 customers, SCD1 overwrite = later file wins -------------
    dim = tables["dim"].read()
    assert dim.count() == 100
    # ids 1-8 were re-dropped in file 2 with seed+2 values; the overwrite
    # must have replaced file-1 values (spot-check one field changes with seed)
    row = dim.filter(F.col("customer_id") == 1).collect()[0]
    assert row.first_name == "First1"  # stable field survives

    # file lifecycle: raw emptied, archive holds the 3 processed files
    assert os.listdir(workspace["raw"]) == []
    assert len(os.listdir(workspace["archive"])) == 3

    # --- fact + quarantine: exact counts from the generator ---------------
    events = gen_booking_events(n=400, n_keys=350)
    bad = [e for e in events if e["check_out_date"] < e["check_in_date"]]
    good = [e for e in events if e["check_out_date"] >= e["check_in_date"]]
    fact = tables["fact"].read()
    assert tables["quarantine"].read().count() == len(bad)
    assert fact.count() == len({e["booking_id"] for e in good})

    # updates resolve to the latest timestamp per booking_id
    latest = {}
    for e in good:
        k = e["booking_id"]
        if k not in latest or e["timestamp"] > latest[k]["timestamp"]:
            latest[k] = e
    some_key = next(k for k in latest if sum(1 for e in good if e["booking_id"] == k) > 1)
    got = fact.filter(F.col("booking_id") == some_key).collect()[0]
    assert got.timestamp.strftime("%Y-%m-%d %H:%M:%S") == latest[some_key]["timestamp"]

    # --- gold golden-output vs DuckDB oracle (F4) --------------------------
    gold = tables["gold"].read().toPandas()
    con = duckdb.connect()
    con.register("fact_pd", fact.toPandas())
    con.register("dim_pd", dim.toPandas())
    expected = con.sql(
        """
        SELECT d.country, count(*) AS total_bookings,
               round(sum(coalesce(f.amount,0)),2) AS total_amount,
               max(f.booking_date) AS last_booking_date
        FROM fact_pd f JOIN dim_pd d ON f.customer_id = d.customer_id
        GROUP BY d.country
        """
    ).df()
    gold = gold.sort_values("country").reset_index(drop=True)
    expected = expected.sort_values("country").reset_index(drop=True)
    assert list(gold.country) == list(expected.country)
    assert list(gold.total_bookings) == list(expected.total_bookings)
    assert [round(v, 2) for v in gold.total_amount] == list(expected.total_amount)


def test_streaming_incremental_and_replay(spark, tmp_path):
    landing = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    wh = str(tmp_path / "wh")
    write_booking_events_json(landing, n_files=2, n=100, n_keys=90)
    fact = ParquetTable(spark, f"{wh}/fact")
    quarantine = ParquetTable(spark, f"{wh}/rej")

    load_booking_fact_stream(spark, landing, fact, quarantine, ckpt)
    count1 = fact.read().count()
    v1 = fact.current_version()

    # replay with no new files: checkpoint skips everything, state unchanged
    load_booking_fact_stream(spark, landing, fact, quarantine, ckpt)
    assert fact.read().count() == count1

    # drop new events for EXISTING keys with later timestamps → updates only
    events = gen_booking_events(n=100, n_keys=90)
    good_keys = [
        e["booking_id"] for e in events
        if e["check_out_date"] >= e["check_in_date"]
    ]
    import json

    by_key = {}
    for e in events:  # first event per key = the booking's creation record
        by_key.setdefault(e["booking_id"], e)
    upd_path = os.path.join(landing, "feed_new.json")
    with open(upd_path, "w") as f:
        for i, k in enumerate(good_keys[:10]):
            # an update mutates stay dates/amount but NEVER booking_date
            # (creation time) — the invariant the partitioned merge relies on
            e = dict(by_key[k])
            e["check_in_date"] = "2024-06-01"
            e["check_out_date"] = "2024-06-05"
            e["amount"] = 111.11
            e["timestamp"] = f"2025-01-01 00:00:{i:02d}"
            f.write(json.dumps(e) + "\n")

    load_booking_fact_stream(spark, landing, fact, quarantine, ckpt)
    assert fact.current_version() > v1
    # updates, not inserts: count unchanged; amounts overwritten
    assert fact.read().count() == count1
    updated = fact.read().filter(F.col("amount") == 111.11).count()
    assert updated == len(set(good_keys[:10]))


def test_watermark_drops_late_events_across_restarts(spark, tmp_path):
    """Watermark persistence: a second checkpointed drain resumes the
    watermark from the first, so an event older than (max_ts - delay)
    is dropped from the windowed aggregation."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    land = tmp_path / "wm_land"
    land.mkdir()
    schema = T.StructType(
        [T.StructField("ts", T.StringType()), T.StructField("k", T.StringType())]
    )

    def _drain(qname):
        stream = (
            spark.readStream.schema(schema)
            .json(str(land))
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        emitted = []  # append mode emits only FINALIZED windows

        def _collect(batch_df, _bid):
            emitted.extend(batch_df.collect())

        q = (
            stream.writeStream.foreachBatch(_collect)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["window"].start.hour: r["n"] for r in emitted}

    with open(land / "f1.json", "w") as f:
        for h in (10, 10, 12):  # watermark after batch: 12:00 - 1h = 11:00
            f.write(_json.dumps({"ts": f"2024-01-01 {h}:30:00", "k": "a"}) + "\n")
    out1 = _drain("wm_sink_1")
    assert out1.get(10) == 2  # 10:00 window finalized once watermark passed 11

    with open(land / "f2.json", "w") as f:
        # one LATE event (10:45 < watermark 11:00 → dropped) and one fresh
        f.write(_json.dumps({"ts": "2024-01-01 10:45:00", "k": "late"}) + "\n")
        f.write(_json.dumps({"ts": "2024-01-01 14:10:00", "k": "b"}) + "\n")
    out2 = _drain("wm_sink_2")
    # the 12:00 window finalizes with exactly 1 event — the late 10:45 row
    # did NOT create or reopen anything (its window was already emitted)
    assert out2.get(12) == 1
    assert 10 not in out2  # late row dropped, 10:00 window not re-emitted


def test_schema_drift_passthrough_to_sink(spark, tmp_path):
    """allowSchemaDrift analog: a field NOT in the explicit schema must
    survive read → sink instead of being silently dropped."""
    import json

    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.readers import read_json_docs
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable
    from pyspark.sql import types as T

    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        {"booking_id": 1, "amount": 10.5, "loyalty_tier": "gold", "beds": 2},
        {"booking_id": 2, "amount": 7.25},
    ]
    (src / "part0.json").write_text("\n".join(json.dumps(r) for r in rows))

    schema = T.StructType(
        [
            T.StructField("booking_id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    df = read_json_docs(spark, str(src), schema, drift_column="_drift")
    assert set(df.columns) == {"booking_id", "amount", "_drift"}

    sink = ParquetTable(spark, str(tmp_path / "sink"))
    sink.upsert(df, keys=["booking_id"])
    back = sink.read()
    r1 = back.filter("booking_id = 1").select("_drift").first()[0]
    assert r1 == {"loyalty_tier": "gold", "beds": "2"}
    r2 = back.filter("booking_id = 2").select("_drift").first()[0]
    assert r2 == {}
    # typed fields still typed, missing-field contract unchanged
    assert back.schema["amount"].dataType.typeName() == "double"


def test_incremental_gold_matches_full_refresh(spark, tmp_path):
    """Three CDC batches (with cross-batch key updates) maintained with
    retraction-based incremental gold land on EXACTLY the state a full
    refresh computes from the final fact table."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
        gold_booking_aggregation,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
        process_booking_batch,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.schemas import BOOKING_DOC_SCHEMA
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

    events = gen_booking_events(n=300, n_keys=220, seed=7)
    dim = spark.createDataFrame(
        [(i, ["US", "DE", "JP", "PT"][i % 4]) for i in range(1, 101)],
        "customer_id int, country string",
    )
    fact = ParquetTable(spark, str(tmp_path / "fact"))
    quarantine = ParquetTable(spark, str(tmp_path / "quar"))
    gold = ParquetTable(spark, str(tmp_path / "gold"))
    for b in range(3):
        batch = spark.createDataFrame(events[b * 100 : (b + 1) * 100], BOOKING_DOC_SCHEMA)
        process_booking_batch(
            batch, fact, quarantine, dim=dim, gold=gold, incremental_gold=True
        )
    got = {
        r["country"]: (
            r["total_bookings"],
            round(r["total_amount"], 2),
            r["last_booking_date"],
        )
        for r in gold.read().collect()
    }
    want = {
        r["country"]: (
            r["total_bookings"],
            round(r["total_amount"], 2),
            r["last_booking_date"],
        )
        for r in gold_booking_aggregation(fact.read(), dim).collect()
    }
    assert got == want and len(want) > 0


def test_event_time_wins_out_of_order_batches_converge(spark, tmp_path):
    """event_time_wins=True through the streaming surface: an out-of-order
    drain (newer events land FIRST, older updates for the same keys arrive
    in a later micro-batch) must keep the newer state — and applying the
    same two batches in either order converges to identical fact tables.
    Default arrival-wins would let the late older batch clobber it."""
    import json

    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
        process_booking_batch,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.schemas import BOOKING_DOC_SCHEMA

    events = gen_booking_events(n=60, n_keys=60, seed=11)
    good = [e for e in events if e["check_out_date"] >= e["check_in_date"]][:20]

    def _variant(e, amount, ts):
        out = dict(e)
        out["amount"] = amount
        out["timestamp"] = ts
        return out

    newer = [_variant(e, 222.22, "2025-06-01 00:00:00") for e in good]
    older = [_variant(e, 111.11, "2024-06-01 00:00:00") for e in good]

    # streaming surface: newer batch drains first, older arrives later
    landing = str(tmp_path / "feed")
    os.makedirs(landing)
    with open(os.path.join(landing, "f1.json"), "w") as f:
        for e in newer:
            f.write(json.dumps(e) + "\n")
    fact = ParquetTable(spark, str(tmp_path / "wh/fact"))
    quar = ParquetTable(spark, str(tmp_path / "wh/rej"))
    ckpt = str(tmp_path / "ckpt")
    load_booking_fact_stream(
        spark, landing, fact, quar, ckpt, event_time_wins=True
    )
    with open(os.path.join(landing, "f2.json"), "w") as f:
        for e in older:
            f.write(json.dumps(e) + "\n")
    load_booking_fact_stream(
        spark, landing, fact, quar, ckpt, event_time_wins=True
    )
    out = fact.read()
    assert out.count() == 20
    assert out.filter(F.col("amount") == 222.22).count() == 20  # newer kept

    # permutation convergence on the batch surface
    fact_a = ParquetTable(spark, str(tmp_path / "a"))
    fact_b = ParquetTable(spark, str(tmp_path / "b"))
    quar2 = ParquetTable(spark, str(tmp_path / "q2"))
    for tbl, order in ((fact_a, (newer, older)), (fact_b, (older, newer))):
        for batch_events in order:
            batch = spark.createDataFrame(batch_events, BOOKING_DOC_SCHEMA)
            process_booking_batch(batch, tbl, quar2, event_time_wins=True)
    a = {r["booking_id"]: r["amount"] for r in fact_a.read().collect()}
    b = {r["booking_id"]: r["amount"] for r in fact_b.read().collect()}
    assert a == b and set(a.values()) == {222.22}


def test_incremental_gold_before_image_survives_vacuum(spark, tmp_path):
    """Guards the before-image's read of the PRE-merge fact version: the
    incremental-gold delta is collected before the fact commit lands (a
    replay whose fact commit already landed reads the pre-merge version
    the txn marker records, which default retention (keep=2) keeps on
    disk) — per-batch gold must equal a full refresh after EVERY
    consecutive batch, not just the last."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
        gold_booking_aggregation,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
        process_booking_batch,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.schemas import BOOKING_DOC_SCHEMA

    events = gen_booking_events(n=200, n_keys=120, seed=13)
    dim = spark.createDataFrame(
        [(i, ["US", "DE"][i % 2]) for i in range(1, 101)],
        "customer_id int, country string",
    )
    fact = ParquetTable(spark, str(tmp_path / "fact"))
    quar = ParquetTable(spark, str(tmp_path / "quar"))
    gold = ParquetTable(spark, str(tmp_path / "gold"))
    for b in range(2):
        batch = spark.createDataFrame(
            events[b * 100 : (b + 1) * 100], BOOKING_DOC_SCHEMA
        )
        process_booking_batch(
            batch, fact, quar, dim=dim, gold=gold, incremental_gold=True
        )
        got = {
            r["country"]: (r["total_bookings"], round(r["total_amount"], 2))
            for r in gold.read().collect()
        }
        want = {
            r["country"]: (r["total_bookings"], round(r["total_amount"], 2))
            for r in gold_booking_aggregation(fact.read(), dim).collect()
        }
        assert got == want, f"batch {b}: incremental gold diverged"


def test_event_time_wins_incremental_gold_stays_consistent(spark, tmp_path):
    """event_time_wins + incremental_gold: a late batch of OLDER events
    for existing keys must leave gold exactly equal to a full refresh of
    the post-merge fact — the delta must use the merge's winner (existing
    newer row), not assume the batch row wins."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
        gold_booking_aggregation,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
        process_booking_batch,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.schemas import BOOKING_DOC_SCHEMA

    events = gen_booking_events(n=80, n_keys=80, seed=21)
    good = [e for e in events if e["check_out_date"] >= e["check_in_date"]][:30]

    def _variant(e, amount, ts):
        out = dict(e)
        out["amount"] = amount
        out["timestamp"] = ts
        return out

    newer = [_variant(e, 200.0, "2025-06-01 00:00:00") for e in good]
    older = [_variant(e, 100.0, "2024-06-01 00:00:00") for e in good]
    dim = spark.createDataFrame(
        [(i, ["US", "DE"][i % 2]) for i in range(1, 101)],
        "customer_id int, country string",
    )
    fact = ParquetTable(spark, str(tmp_path / "fact"))
    quar = ParquetTable(spark, str(tmp_path / "quar"))
    gold = ParquetTable(spark, str(tmp_path / "gold"))
    for batch_events in (newer, older):  # out of order: newer lands first
        batch = spark.createDataFrame(batch_events, BOOKING_DOC_SCHEMA)
        process_booking_batch(
            batch, fact, quar, dim=dim, gold=gold,
            incremental_gold=True, event_time_wins=True,
        )
    # fact kept the newer amounts
    assert fact.read().filter(F.col("amount") == 200.0).count() == len(good)
    got = {
        r["country"]: (r["total_bookings"], round(r["total_amount"], 2))
        for r in gold.read().collect()
    }
    want = {
        r["country"]: (r["total_bookings"], round(r["total_amount"], 2))
        for r in gold_booking_aggregation(fact.read(), dim).collect()
    }
    assert got == want and len(want) > 0


def test_midbatch_crash_after_fact_merge_replays_exactly_once(spark, tmp_path):
    """VERDICT r3 task #5: kill the foreachBatch AFTER the fact MERGE (and
    the quarantine append) commit but BEFORE the gold/checkpoint commit,
    restart, and assert no duplicate application — the per-table
    (app, batch) txn markers must make the replay skip the already-
    committed sinks (the quarantine APPEND is not naturally idempotent)
    and still complete the missing gold commit."""
    landing = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    wh = str(tmp_path / "wh")
    write_booking_events_json(landing, n_files=2, n=200, n_keys=150)
    fact = ParquetTable(spark, f"{wh}/fact")
    quarantine = ParquetTable(spark, f"{wh}/rej")

    class CrashingTable(ParquetTable):
        crashes = 1

        def overwrite(self, df, partition_by=None, txn=None):
            if CrashingTable.crashes > 0:
                CrashingTable.crashes -= 1
                raise RuntimeError("injected crash before gold commit")
            return super().overwrite(df, partition_by=partition_by, txn=txn)

    gold = CrashingTable(spark, f"{wh}/gold")
    dim = spark.createDataFrame(
        [(i, f"Country{i % 5}") for i in range(1, 101)],
        "customer_id int, country string",
    )

    events = gen_booking_events(n=200, n_keys=150)
    bad = [e for e in events if e["check_out_date"] < e["check_in_date"]]
    good_keys = {
        e["booking_id"] for e in events
        if e["check_out_date"] >= e["check_in_date"]
    }

    with pytest.raises(Exception):  # StreamingQueryException wraps the cause
        load_booking_fact_stream(
            spark, landing, fact, quarantine, ckpt, dim=dim, gold=gold
        )
    assert CrashingTable.crashes == 0, "injection never fired"
    # the crash hit after fact+quarantine committed, before gold/checkpoint
    assert not gold.exists()
    fact_v = fact.current_version()
    q_count = quarantine.read().count()
    assert q_count == len(bad) > 0

    # restart: the batch REPLAYS (checkpoint never committed), the guard
    # must skip fact+quarantine (same version, no duplicate rows) and
    # complete the gold commit
    load_booking_fact_stream(
        spark, landing, fact, quarantine, ckpt, dim=dim, gold=gold
    )
    assert quarantine.read().count() == q_count  # no duplicate appends
    assert fact.current_version() == fact_v      # merge skipped, not redone
    assert fact.read().count() == len(good_keys)
    assert gold.exists()
    # gold matches a from-scratch recompute over the final fact
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
        gold_booking_aggregation,
    )

    expect = {
        (r.country, r.total_bookings)
        for r in gold_booking_aggregation(fact.read(), dim).collect()
    }
    got = {(r.country, r.total_bookings) for r in gold.read().collect()}
    assert got == expect

    # a further drain with NO new files is a no-op on every sink
    load_booking_fact_stream(
        spark, landing, fact, quarantine, ckpt, dim=dim, gold=gold
    )
    assert quarantine.read().count() == q_count
    assert fact.current_version() == fact_v


def test_stream_trigger_that_folds_keeps_sinks_exact(spark, tmp_path):
    """A 1-file trigger that lands on the merge-on-read fold — the fact
    holds fold_after - 1 pending deltas, seeded through upsert_delta —
    must fold (no _delta in the new version, pending 0) and leave fact =
    latest-per-key, quarantine = the trigger's bad rows and incremental
    gold = a full rebuild at 6 dp."""
    import inspect
    import json

    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
        gold_booking_aggregation,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
        FACT_KEYS, FACT_ORDER, FACT_PARTITIONING, transform_bookings,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.schemas import BOOKING_DOC_SCHEMA

    fold_after = inspect.signature(ParquetTable.upsert_delta).parameters[
        "fold_after"].default
    per, trigger_n = 40, 80
    events = gen_booking_events(
        n=fold_after * per + trigger_n, n_keys=fold_after * per + 20, seed=5
    )
    seed, trigger = events[: fold_after * per], events[fold_after * per :]
    dim = spark.createDataFrame(
        [(i, ["US", "DE", "JP"][i % 3]) for i in range(1, 101)],
        "customer_id int, country string",
    )
    wh = tmp_path / "wh"
    fact = ParquetTable(spark, str(wh / "fact"))
    quarantine = ParquetTable(spark, str(wh / "rej"))
    gold = ParquetTable(spark, str(wh / "gold"))
    # the first upsert_delta creates the fact; each later one adds a delta
    for b in range(fold_after):
        rows = spark.createDataFrame(seed[b * per : (b + 1) * per], BOOKING_DOC_SCHEMA)
        fact.upsert_delta(
            transform_bookings(rows)[0], keys=FACT_KEYS,
            partition_by=FACT_PARTITIONING, order_by=FACT_ORDER,
        )
    assert fact._current_meta()["mor"]["pending"] == fold_after - 1
    gold.overwrite(gold_booking_aggregation(fact.read(), dim))

    landing = tmp_path / "feed"
    landing.mkdir()
    with open(landing / "trigger.json", "w") as f:
        for e in trigger:
            f.write(json.dumps(e) + "\n")
    load_booking_fact_stream(
        spark, str(landing), fact, quarantine, str(tmp_path / "ckpt"),
        dim=dim, gold=gold, incremental_gold=True, max_files_per_trigger=1,
    )

    assert not [p for p in fact._snapshot().files if p.startswith("_delta/")]
    assert fact._current_meta()["mor"]["pending"] == 0
    good = [e for e in events if e["check_out_date"] >= e["check_in_date"]]
    want_fact = {e["booking_id"]: e["amount"] for e in good}  # ts is monotone
    got = fact.read().select("booking_id", "amount").collect()
    assert {r.booking_id: r.amount for r in got} == want_fact
    assert len(got) == len(want_fact)
    want_bad = sorted(
        e["id"] for e in trigger if e["check_out_date"] < e["check_in_date"]
    )
    assert want_bad
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


_SIGKILL_CHILD = """
import sys

from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines import load_booking_fact_stream
from azure_airbnb_cdc_ingestion_pipeline_spark.session import get_spark
from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

work = sys.argv[1]
spark = get_spark("sigkill-child", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
load_booking_fact_stream(
    spark, work + "/landing", ParquetTable(spark, work + "/fact"),
    ParquetTable(spark, work + "/rej"), work + "/ckpt",
    max_files_per_trigger=1,
)
"""


def _assert_same_rows(got, want):
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty()
    assert want.exceptAll(got).isEmpty()


def test_stream_survives_sigkill_mid_drain(spark, tmp_path):
    """A child process drains six one-file triggers and is SIGKILLed —
    JVM and all, no cleanup — once the fact has committed two versions.
    Resuming from its checkpoint must leave fact and quarantine identical
    to an uninterrupted drain of the same files: the checkpoint replays
    the interrupted batch and the txn markers keep the sinks from
    applying it twice."""
    import shutil
    import subprocess
    import sys
    import time

    from perfbench.run import _kill_session

    n_files = 6
    work, ref = tmp_path / "killed", tmp_path / "reference"
    write_booking_events_json(str(work / "landing"), n_files=n_files,
                              n=600, n_keys=500, seed=17)
    shutil.copytree(work / "landing", ref / "landing")
    fact = ParquetTable(spark, str(work / "fact"))
    quarantine = ParquetTable(spark, str(work / "rej"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (repo, os.environ.get("PYTHONPATH")) if p))
    log = open(tmp_path / "child.log", "w")
    child = subprocess.Popen(
        [sys.executable, "-c", _SIGKILL_CHILD, str(work)], env=env,
        stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
    )
    try:
        deadline = time.time() + 90
        while (fact.current_version() or 0) < 2:
            assert child.poll() is None, (tmp_path / "child.log").read_text()[-2000:]
            assert time.time() < deadline, "child never committed 2 fact versions"
            time.sleep(0.05)
    finally:
        _kill_session(child.pid)
        child.wait(timeout=30)
        deadline = time.time() + 30
        while _kill_session(child.pid):  # Spark's Python daemon, if any
            assert time.time() < deadline, "child session outlived SIGKILL"
            time.sleep(0.1)
        log.close()
    committed = [n for n in os.listdir(work / "ckpt" / "commits") if n.isdigit()]
    assert len(committed) < n_files, "the kill landed after the drain ended"

    load_booking_fact_stream(
        spark, str(work / "landing"), fact, quarantine, str(work / "ckpt"),
        max_files_per_trigger=1,
    )
    ref_fact = ParquetTable(spark, str(ref / "fact"))
    ref_quarantine = ParquetTable(spark, str(ref / "rej"))
    load_booking_fact_stream(
        spark, str(ref / "landing"), ref_fact, ref_quarantine,
        str(ref / "ckpt"), max_files_per_trigger=1,
    )
    _assert_same_rows(fact.read(), ref_fact.read())
    _assert_same_rows(quarantine.read(), ref_quarantine.read())
    assert quarantine.read().count() > 0


def test_stream_continuous_trigger_keeps_sinks_exact(spark, tmp_path):
    """The continuous ``processingTime`` trigger (``available_now=False``)
    with incremental gold over three landed files: after
    processAllAvailable the fact is latest-per-key, the quarantine holds
    the bad rows and gold equals a full rebuild at 6 dp."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
        gold_booking_aggregation,
    )

    landing = str(tmp_path / "feed")
    kw = dict(n=300, n_keys=250, seed=23)
    paths = write_booking_events_json(landing, n_files=3, **kw)
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert len(paths) == 3 and all(a < b for a, b in zip(mtimes, mtimes[1:]))
    events = gen_booking_events(**kw)
    dim = spark.createDataFrame(
        [(i, ["US", "DE", "JP"][i % 3]) for i in range(1, 101)],
        "customer_id int, country string",
    )
    fact = ParquetTable(spark, str(tmp_path / "wh/fact"))
    quarantine = ParquetTable(spark, str(tmp_path / "wh/rej"))
    gold = ParquetTable(spark, str(tmp_path / "wh/gold"))
    q = load_booking_fact_stream(
        spark, landing, fact, quarantine, str(tmp_path / "ckpt"),
        dim=dim, gold=gold, available_now=False, processing_time="1 second",
        incremental_gold=True, max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    good = [e for e in events if e["check_out_date"] >= e["check_in_date"]]
    want_fact = {e["booking_id"]: e["amount"] for e in good}  # ts is monotone
    got = fact.read().select("booking_id", "amount").collect()
    assert {r.booking_id: r.amount for r in got} == want_fact
    assert len(got) == len(want_fact)
    want_bad = sorted(
        e["id"] for e in events if e["check_out_date"] < e["check_in_date"]
    )
    assert want_bad
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


# ---------------------------------------------------------------------------
# r6: expectation suite as the streaming publish gate (VERDICT r5 #7)
# ---------------------------------------------------------------------------


def _write_events(landing, events):
    import json

    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, "feed.json"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_dq_gate_clean_batch_publishes(spark, tmp_path):
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
        booking_expectations,
    )

    landing = str(tmp_path / "feed")
    write_booking_events_json(landing, n_files=2, n=100, n_keys=90)
    fact = ParquetTable(spark, str(tmp_path / "wh/fact"))
    quar = ParquetTable(spark, str(tmp_path / "wh/rej"))
    load_booking_fact_stream(
        spark, landing, fact, quar, str(tmp_path / "ckpt"),
        dq_rules=booking_expectations(),
    )
    # the standard fixture (nulls allowed, negatives absent) passes the
    # suite — the gate must not block a clean drain
    assert fact.read().count() > 0


def test_dq_gate_breach_halts_before_merge(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
        booking_expectations,
    )

    events = gen_booking_events(n=50, n_keys=50, seed=7)
    events[10]["amount"] = -125.0  # contract breach
    landing = str(tmp_path / "feed")
    _write_events(landing, events)
    fact = ParquetTable(spark, str(tmp_path / "wh/fact"))
    quar = ParquetTable(spark, str(tmp_path / "wh/rej"))
    with pytest.raises(StreamingQueryException, match="amount_non_negative"):
        load_booking_fact_stream(
            spark, landing, fact, quar, str(tmp_path / "ckpt"),
            dq_rules=booking_expectations(),
        )
    # stopOnFirstError semantics: NOTHING committed — no fact, no
    # quarantine, and the checkpoint did not record the batch, so a
    # fixed-and-restarted stream replays it
    assert not fact.exists()
    assert not quar.exists()


def test_dq_gate_quarantine_publishes_clean_rows(spark, tmp_path):
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
        booking_expectations,
    )

    events = gen_booking_events(n=60, n_keys=60, seed=11)
    # craft 3 breaches among otherwise-clean rows
    bad_ids = set()
    for i in (5, 20, 33):
        events[i]["amount"] = -1.0
        bad_ids.add(events[i]["booking_id"])
    # make sure the crafted rows aren't ALSO date-quality rejects (they
    # must reach the dq gate, not the upstream split)
    for i in (5, 20, 33):
        events[i]["check_in_date"] = "2024-03-01"
        events[i]["check_out_date"] = "2024-03-05"
    landing = str(tmp_path / "feed")
    _write_events(landing, events)
    fact = ParquetTable(spark, str(tmp_path / "wh/fact"))
    quar = ParquetTable(spark, str(tmp_path / "wh/rej"))
    dqq = ParquetTable(spark, str(tmp_path / "wh/dq"))
    load_booking_fact_stream(
        spark, landing, fact, quar, str(tmp_path / "ckpt"),
        dq_rules=booking_expectations(), dq_on_breach="quarantine",
        dq_quarantine=dqq,
    )
    assert {r.booking_id for r in dqq.read().collect()} == bad_ids
    fact_ids = {r.booking_id for r in fact.read().collect()}
    assert bad_ids.isdisjoint(fact_ids)
    assert len(fact_ids) > 0


# ---------------------------------------------------------------------------
# r7: expectation gate on the streaming SCD2 dim path (VERDICT r6 #8)
# ---------------------------------------------------------------------------


def _scd2_hist0(spark):
    return spark.createDataFrame(
        [(1, "SEG_A", "2024-01-01", None, True),
         (2, "SEG_B", "2024-01-01", None, True)],
        "k long, seg string, effective_from string, effective_to string, "
        "is_current boolean",
    ).select(
        "k", "seg",
        F.to_date("effective_from").alias("effective_from"),
        F.to_date("effective_to").alias("effective_to"),
        "is_current",
    )


def _scd2_wave(spark, rows):
    return spark.createDataFrame(
        rows, "k long, seg string, effective_from string"
    ).select("k", "seg", F.to_date("effective_from").alias("effective_from"))


def _scd2_file_stream(spark, tmp_path, waves):
    from pyspark.sql.types import (
        DateType, LongType, StringType, StructField, StructType,
    )

    in_dir = str(tmp_path / "scd2_in")
    for i, w in enumerate(waves):
        w.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(in_dir, f"wave{i:02d}")
        )
    schema = StructType([
        StructField("k", LongType()),
        StructField("seg", StringType()),
        StructField("effective_from", DateType()),
    ])
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(in_dir, "wave*"))
    )


def _scd2_rules():
    return [
        ("key_not_null", F.col("k").isNull()),
        ("effective_from_present", F.col("effective_from").isNull()),
    ]


def test_scd2_gate_clean_stream_versions_history(spark, tmp_path):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.merge import scd2_apply
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_dim_scd2 import (
        load_dim_scd2_stream,
    )

    hist0 = _scd2_hist0(spark)
    w1 = _scd2_wave(spark, [(1, "SEG_X", "2024-02-01")])
    w2 = _scd2_wave(spark, [(1, "SEG_X", "2024-03-01"),  # no-op: collapses
                            (2, "SEG_Y", "2024-03-01")])
    dim = ParquetTable(spark, str(tmp_path / "wh/dim"))
    load_dim_scd2_stream(
        _scd2_file_stream(spark, tmp_path, [w1, w2]), dim,
        keys=["k"], attr_cols=["seg"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        initial_history=hist0, dq_rules=_scd2_rules(),
    )
    got = {
        (r.k, r.seg, str(r.effective_from), str(r.effective_to), r.is_current)
        for r in dim.read().collect()
    }
    # micro-batched waves must converge to the one-shot batch history
    want = {
        (r.k, r.seg, str(r.effective_from), str(r.effective_to), r.is_current)
        for r in scd2_apply(
            hist0, w1.unionByName(w2), keys=["k"], attr_cols=["seg"]
        ).collect()
    }
    assert got == want
    # and the no-op change created no version: key 1 has exactly 2
    assert sum(1 for g in got if g[0] == 1) == 2


def test_scd2_gate_breach_halts_before_apply(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_dim_scd2 import (
        load_dim_scd2_stream,
    )

    poisoned = _scd2_wave(spark, [(1, "SEG_X", "2024-02-01"),
                                  (None, "SEG_Z", "2024-02-01")])
    dim = ParquetTable(spark, str(tmp_path / "wh/dim"))
    with pytest.raises(StreamingQueryException, match="key_not_null"):
        load_dim_scd2_stream(
            _scd2_file_stream(spark, tmp_path, [poisoned]), dim,
            keys=["k"], attr_cols=["seg"],
            checkpoint_dir=str(tmp_path / "ckpt"),
            initial_history=_scd2_hist0(spark), dq_rules=_scd2_rules(),
        )
    # halt = stop BEFORE any commit: no dim table, checkpoint unreplayed
    assert not dim.exists()


def test_scd2_gate_quarantine_versions_clean_rows(spark, tmp_path):
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_dim_scd2 import (
        process_scd2_batch,
    )

    batch = _scd2_wave(spark, [(1, "SEG_X", "2024-02-01"),
                               (None, "SEG_Z", "2024-02-01")])
    dim = ParquetTable(spark, str(tmp_path / "wh/dim"))
    dqq = ParquetTable(spark, str(tmp_path / "wh/dq"))
    process_scd2_batch(
        batch, dim, keys=["k"], attr_cols=["seg"],
        initial_history=_scd2_hist0(spark), dq_rules=_scd2_rules(),
        dq_on_breach="quarantine", dq_quarantine=dqq,
    )
    assert [r.seg for r in dqq.read().collect()] == ["SEG_Z"]
    hist = dim.read()
    assert hist.filter(F.col("seg") == "SEG_Z").count() == 0
    assert hist.filter((F.col("k") == 1) & F.col("is_current")).collect()[0].seg == "SEG_X"


@pytest.mark.parametrize("entry", [
    "process_booking_batch", "load_booking_fact_stream",
    "process_scd2_batch", "load_dim_scd2_stream",
])
def test_scd2_quarantine_wiring_validated_upfront(spark, tmp_path, entry):
    """dq_on_breach='quarantine' without a dq_quarantine table is a wiring
    error: every gated entry raises ValueError before it writes anything,
    even on a batch that would pass the gate."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
        booking_expectations, process_booking_batch,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_dim_scd2 import (
        load_dim_scd2_stream, process_scd2_batch,
    )
    from azure_airbnb_cdc_ingestion_pipeline_spark.schemas import BOOKING_DOC_SCHEMA

    landing = str(tmp_path / "feed")
    write_booking_events_json(landing, n_files=1, n=40, n_keys=40)
    wave = _scd2_wave(spark, [(1, "SEG_X", "2024-02-01")])
    dim = ParquetTable(spark, str(tmp_path / "wh/dim"))
    fact = ParquetTable(spark, str(tmp_path / "wh/fact"))
    quar = ParquetTable(spark, str(tmp_path / "wh/rej"))
    ckpt = str(tmp_path / "ckpt")
    booking = dict(dq_rules=booking_expectations(), dq_on_breach="quarantine")
    scd2 = dict(keys=["k"], attr_cols=["seg"], initial_history=_scd2_hist0(spark),
                dq_rules=_scd2_rules(), dq_on_breach="quarantine")
    calls = {
        "process_booking_batch": lambda: process_booking_batch(
            spark.read.schema(BOOKING_DOC_SCHEMA).json(landing), fact, quar,
            **booking),
        "load_booking_fact_stream": lambda: load_booking_fact_stream(
            spark, landing, fact, quar, ckpt, **booking),
        "process_scd2_batch": lambda: process_scd2_batch(wave, dim, **scd2),
        "load_dim_scd2_stream": lambda: load_dim_scd2_stream(
            _scd2_file_stream(spark, tmp_path, [wave]), dim,
            checkpoint_dir=ckpt, **scd2),
    }
    with pytest.raises(ValueError, match="dq_quarantine"):
        calls[entry]()
    assert not (fact.exists() or quar.exists() or dim.exists())


def test_scd2_unseeded_dim_fails_loud(spark, tmp_path):
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_dim_scd2 import (
        process_scd2_batch,
    )

    batch = _scd2_wave(spark, [(1, "SEG_X", "2024-02-01")])
    dim = ParquetTable(spark, str(tmp_path / "wh/dim"))
    with pytest.raises(ValueError, match="initial_history"):
        process_scd2_batch(batch, dim, keys=["k"], attr_cols=["seg"])
