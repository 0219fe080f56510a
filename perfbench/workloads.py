"""The benchmark's three closed-loop, single-client workloads.

Each workload is one consumer: it issues its next operation only after the
previous one has committed. An operation is one micro-batch
(``cdc_stream``) or one query execution (``warehouse_queries``,
``corpus_curation``). A workload runs in *units* — a drain of ``chunk``
change-feed files, or one pass over its query mix in a seed-chosen order —
and a measured window runs whole units until ``seconds`` have passed, so
every window holds the same mix of operations.

Outputs are checked after the window, untimed: every query result against
its DuckDB oracle (canonicalized by ``tools/oracle_check.canon``), and the
CDC tables against a reference computed from the generated feed.
"""

from __future__ import annotations

import inspect
import os
import random
import statistics
import time

WAREHOUSE_MIX = [
    "agg_groupby_join", "join_inner_equi", "derive_columns", "topk_per_group",
    "lookup_join_latest", "sink_upsert_merge", "scd1_upsert",
    "sql_pricing_summary", "sql_top_revenue_orders", "sql_market_share",
    "window_ranking", "cdc_apply_changes",
]
CORPUS_MIX = [
    "text_quality_score", "text_pii_redact", "text_bpe_encode",
    "dedup_minhash_lsh", "dedup_simhash", "embedding_cosine_pairs",
    "ann_numpy_topk", "multimodal_phash_dedup",
]
WORKLOADS = ("cdc_stream", "warehouse_queries", "corpus_curation")

#: input sizes; ``toy`` is for the benchmark's own tests
SIZES = {
    "full": {
        "warehouse_sf": 0.01, "corpus_sf": 0.01,
        "cdc_seed_rows": 20_000, "cdc_batch_events": 1000,
        "cdc_warmup_batches": 3, "cdc_chunk": 8,
    },
    "toy": {
        "warehouse_sf": 0.001, "corpus_sf": 0.001,
        "cdc_seed_rows": 2000, "cdc_batch_events": 100,
        "cdc_warmup_batches": 1, "cdc_chunk": 2,
    },
}
#: the traced run's metrics (``BENCHMARK.json`` ``per_layer``), each 0 on a
#: workload that does not exercise its layer; per-query times of the
#: warehouse mix (``wh.<query>_s``) are printed but not part of the result
PER_LAYER = [
    "session.import_s", "session.get_spark_s",
    "streaming.trigger_overhead_s",
    "pipelines.process_batch_s", "pipelines.process_batch_self_s",
    "tables.upsert_delta_s", "tables.fold_s", "tables.append_s",
    "tables.maybe_compact_s", "tables.overwrite_s", "tables.read_for_keys_s",
    "tables.read_resolved_s", "tables.live_files",
    "tables.bytes_written_per_event", "tables.commits", "cdc.fact_query_s",
    "plans.build_s", "plans.exec_s", "readers.input_mb",
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.shuffle_write_mb",
    "spark.cpu_util", "spark.gc_s", "python.workers_spawned", "process.peak_rss_mb",
    *(f"corpus.{q}_s" for q in CORPUS_MIX),
    "trace.overhead_pct",
]
#: upper bound on batches one run may drain (sizes the generated feed)
CDC_MAX_BATCHES = 400


def median(values) -> float:
    """Median, or 0.0 when there are no values (every operation failed)."""
    xs = list(values)
    return statistics.median(xs) if xs else 0.0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that keeps at least ten
    samples above it. With fewer than 20 samples no percentile above the
    median is supported, and the tail is the median."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return statistics.median(xs), 50.0
    return xs[n - 11], 100.0 * (n - 10) / n


class Ctx:
    """What a workload needs from the worker: session, paths, knobs."""

    def __init__(self, spark, workload: str, seed: int, size: str, work: str,
                 trace: bool = False, fault: str = "none"):
        self.spark = spark
        self.trace = trace
        self.workload = workload
        self.seed = seed
        self.size = SIZES[size]
        self.work = work
        self.fault = fault
        self.inputs = os.path.join(work, "inputs")


# ---------------------------------------------------------------------------
# query workloads
# ---------------------------------------------------------------------------

class QueryWorkload:
    """A fixed query mix from the package's catalog over generated tables."""

    def __init__(self, ctx: Ctx, mix: list[str]):
        from azure_airbnb_cdc_ingestion_pipeline_spark.plans.queries import (
            ORACLE_SQL, QUERIES,
        )

        self.ctx = ctx
        self.mix = mix
        self.sf_dir = os.path.join(ctx.inputs, "star")
        self.queries = QUERIES
        self.oracle = ORACLE_SQL
        self.rng = random.Random(ctx.seed)
        self.results: list[tuple[str, object]] = []
        self.unit = 0
        self.n_docs = _rows(self.sf_dir, "documents")

    def warm_up(self) -> None:
        """One untimed pass, its queries run one at a time as the window
        runs them. (Issuing them from concurrent threads warmed up no
        faster, and left the first sequential pass ~15 % slower than the
        next one.)"""
        from azure_airbnb_cdc_ingestion_pipeline_spark.session import release_persisted

        for name in self.mix:
            self.queries[name](self.ctx.spark, self.sf_dir).toPandas()
            release_persisted(blocking=True)

    def run_unit(self) -> list[dict]:
        from azure_airbnb_cdc_ingestion_pipeline_spark.session import release_persisted

        order = list(self.mix)
        self.rng.shuffle(order)
        ops = []
        for name in order:
            op = {"name": name, "ok": True, "items": 1}
            t0 = time.perf_counter()
            try:
                if self.ctx.fault == "raise" and self.unit == 0 and name == order[0]:
                    raise RuntimeError("injected query failure")
                df = self.queries[name](self.ctx.spark, self.sf_dir)
                t1 = time.perf_counter()
                pdf = df.toPandas()
            except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
                op.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
                t1 = time.perf_counter()
                pdf = None
            t2 = time.perf_counter()
            op.update(wall=t2 - t0, build=t1 - t0, exec=t2 - t1)
            release_persisted(blocking=True)
            ops.append(op)
            if pdf is not None:
                self.results.append((name, pdf))
        self.unit += 1
        return ops

    def verify(self) -> list[str]:
        """Compare every kept result with its oracle; returns failures."""
        from tools.oracle_check import canon, duck_con

        con = duck_con(self.sf_dir)
        expected: dict[str, object] = {}
        failures = []
        for name, pdf in self.results:
            if name not in expected:
                expected[name] = canon(con.sql(self.oracle[name]).df())
                if self.ctx.fault == "wrong" and not failures and len(expected) == 1:
                    expected[name] = expected[name].iloc[1:].reset_index(drop=True)
            got, want = canon(pdf), expected[name]
            if list(got.columns) != list(want.columns):
                failures.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
            elif len(got) != len(want):
                failures.append(f"{name}: {len(got)} rows != {len(want)}")
            elif not got.equals(want):
                failures.append(f"{name}: values differ")
        con.close()
        return failures

    def commits(self) -> int:
        return 0

    def items_per_s(self, ops: list[dict]) -> float:
        wall = sum(o["wall"] for o in ops)
        if self.mix is CORPUS_MIX:
            return self.n_docs * len(ops) / len(self.mix) / wall
        return len(ops) / wall

    def layer_metrics(self, ops: list[dict]) -> dict:
        prefix = "corpus" if self.mix is CORPUS_MIX else "wh"
        out = {
            "plans.build_s": median(o["build"] for o in ops),
            "plans.exec_s": median(o["exec"] for o in ops),
        }
        for name in self.mix:
            out[f"{prefix}.{name}_s"] = median(o["wall"] for o in ops if o["name"] == name)
        return out


def _rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    return pq.read_metadata(path).num_rows if os.path.exists(path) else 0


# ---------------------------------------------------------------------------
# CDC speed layer
# ---------------------------------------------------------------------------

class CdcWorkload:
    """Drain 1 k-event change-feed files, one per trigger, through
    ``load_booking_fact_stream`` into a seeded fact with incremental gold."""

    def __init__(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
            gold_booking_aggregation,
        )
        from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
            FACT_KEYS, FACT_ORDER, FACT_PARTITIONING, transform_bookings,
        )
        from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

        import gen

        self.ctx = ctx
        spark = ctx.spark
        size = ctx.size
        self.feed = gen.BookingFeed(
            ctx.seed, size["cdc_seed_rows"], size["cdc_batch_events"], CDC_MAX_BATCHES,
        )
        root = os.path.join(ctx.work, "cdc")
        self.landing = os.path.join(root, "landing")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.landing, exist_ok=True)
        self.fact = ParquetTable(spark, os.path.join(root, "fact"))
        self.quarantine = ParquetTable(spark, os.path.join(root, "quarantine"))
        self.gold = ParquetTable(spark, os.path.join(root, "gold"))
        self.dim = spark.createDataFrame(
            [(i, f"country-{i % 12}") for i in range(gen.CDC_CUSTOMERS)],
            "customer_id int, country string",
        )
        self.gold_of = lambda fact_df: gold_booking_aggregation(fact_df, self.dim)
        self.F = F
        self.mtime0 = int(time.time())
        self.batches = 0
        self.unit = 0
        # the seed events reach the fact through the stream itself, as one
        # large first trigger (that trigger creates the fact and a fully
        # refreshed gold). A traced run holds back `pending` batch-size
        # slices of the seed and upserts them directly, leaving the table
        # part-way through its merge-on-read fold cycle: as many deltas as
        # put the fold on the first batch of its traced window (after the
        # warm-up and the one-unit untraced baseline).
        fold_after = inspect.signature(ParquetTable.upsert_delta).parameters[
            "fold_after"].default
        self.pending = (
            (fold_after - 1 - size["cdc_warmup_batches"] - size["cdc_chunk"]) % fold_after
            if ctx.trace else 0
        )
        cut = size["cdc_seed_rows"] - self.pending * size["cdc_batch_events"]
        self.feed.write_events(os.path.join(self.landing, "seed.json"), 0, cut)
        os.utime(os.path.join(self.landing, "seed.json"), (self.mtime0 - 1,) * 2)
        self.tail = os.path.join(root, "seed_tail.json")
        if self.pending:
            self.feed.write_events(self.tail, cut, size["cdc_seed_rows"])
        self._upsert_args = dict(
            keys=FACT_KEYS, partition_by=FACT_PARTITIONING, order_by=FACT_ORDER,
        )
        self._transform = transform_bookings

    def warm_up(self) -> None:
        from azure_airbnb_cdc_ingestion_pipeline_spark.schemas import BOOKING_DOC_SCHEMA

        self._drain(0)  # the seed
        if self.pending:
            spark, F = self.ctx.spark, self.F
            raw = spark.read.schema(BOOKING_DOC_SCHEMA).json(self.tail)
            derived, _rejected = self._transform(raw)
            idx = F.expr("cast(substring(id, 4) as int)")  # ev-<n>
            lo = self.ctx.size["cdc_seed_rows"] - self.pending * self.feed.batch_events
            for j in range(self.pending):
                a = lo + j * self.feed.batch_events
                part = derived.filter((idx >= a) & (idx < a + self.feed.batch_events))
                self.fact.upsert_delta(part, **self._upsert_args)
            self.gold.overwrite(self.gold_of(self.fact.read()))
        self._drain(self.ctx.size["cdc_warmup_batches"])

    def _drain(self, n: int) -> tuple[float, list[dict]]:
        from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines import load_booking_fact

        for b in range(self.batches, self.batches + n):
            path = os.path.join(self.landing, f"b{b:05d}.json")
            self.feed.write_batch(path, b)
            # strictly increasing mtimes: the file source drains in order
            os.utime(path, (self.mtime0 + b, self.mtime0 + b))
        self.batches += n
        t0 = time.perf_counter()
        q = load_booking_fact.load_booking_fact_stream(
            self.ctx.spark, self.landing, self.fact, self.quarantine, self.ckpt,
            dim=self.dim, gold=self.gold, incremental_gold=True,
            max_files_per_trigger=1,
        )
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if int(p["numInputRows"]) > 0]
        return wall, progress[-n:]

    def run_unit(self) -> list[dict]:
        n = self.ctx.size["cdc_chunk"]
        fail_at = None
        if self.ctx.fault == "raise" and self.unit == 0:
            fail_at = self._arm_failure()
        try:
            wall, progress = self._drain(n)
            error = None
        except Exception as exc:  # noqa: BLE001 — the failed batch is counted
            wall, progress, error = 0.0, [], f"{type(exc).__name__}: {exc}"[:300]
        finally:
            if fail_at is not None:
                fail_at()
        self.unit += 1
        ops = []
        for p in progress:
            d = p["durationMs"]
            ops.append({
                "name": "batch", "ok": True, "wall": d["triggerExecution"] / 1e3,
                "items": int(p["numInputRows"]),
                "overhead": (d["triggerExecution"] - d.get("addBatch", 0)) / 1e3,
                "chunk_wall": wall / max(1, len(progress)),
            })
        if error is not None or len(ops) != n:
            missing = n - len(ops)
            ops += [{"name": "batch", "ok": False, "wall": 0.0, "items": 0,
                     "error": error or "batch not drained", "overhead": 0.0,
                     "chunk_wall": 0.0}] * max(1, missing)
        return ops

    def _arm_failure(self):
        """Make the next chunk's second batch raise; returns the undo."""
        from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines import load_booking_fact

        original = load_booking_fact.process_booking_batch
        calls = {"n": 0}

        def failing(*args, **kwargs):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("injected batch failure")
            return original(*args, **kwargs)

        load_booking_fact.process_booking_batch = failing
        return lambda: setattr(load_booking_fact, "process_booking_batch", original)

    def items_per_s(self, ops: list[dict]) -> float:
        return sum(o["items"] for o in ops) / sum(o["chunk_wall"] for o in ops)

    def fact_query_s(self) -> float:
        """The gold aggregation over the resolved fact, as an analyst would
        issue it at the end of the run (median of 3)."""
        return _median_wall(lambda: self.gold_of(self.fact.read()).collect())

    def read_resolved_s(self) -> float:
        """A full resolved read of the fact (median of 3)."""
        return _median_wall(lambda: self.fact.read().count())

    def commits(self) -> int:
        """Table versions committed so far (one per sink commit)."""
        return sum(t.current_version() or 0
                   for t in (self.fact, self.quarantine, self.gold))

    def verify(self) -> list[str]:
        F = self.F
        failures = []
        drained = self.batches
        want_fact, want_bad = self.feed.expected(drained)
        if self.ctx.fault == "wrong":
            k = next(iter(want_fact))
            c, a, t = want_fact[k]
            want_fact[k] = (c, a + 1.0, t)
        got = self.fact.read().select(
            "booking_id", "customer_id", "amount",
            F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        ).toPandas()
        got_fact = {
            b: (int(c), float(a), t)
            for b, c, a, t in zip(got.booking_id, got.customer_id, got.amount, got.ts)
        }
        if len(got) != len(got_fact):
            failures.append("fact: duplicate booking_id rows")
        if got_fact != want_fact:
            diff = sum(1 for k in want_fact.keys() | got_fact.keys()
                       if want_fact.get(k) != got_fact.get(k))
            failures.append(f"fact: {diff} bookings differ from latest_per_key")
        bad = sorted(self.quarantine.read().select("id").toPandas()["id"])
        if bad != want_bad:
            failures.append(f"quarantine: {len(bad)} rows, expected {len(want_bad)}")

        def r6(df):
            pdf = df.select(
                "country", "total_bookings", "last_booking_date",
                F.round("total_amount", 6).alias("total_amount"),
            ).toPandas()
            return pdf.sort_values("country").reset_index(drop=True)

        if not r6(self.gold.read()).equals(r6(self.gold_of(self.fact.read()))):
            failures.append("gold: incremental gold differs from a rebuild at 6 dp")
        return failures


def _median_wall(action, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        action()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def make(ctx: Ctx):
    if ctx.workload == "cdc_stream":
        return CdcWorkload(ctx)
    if ctx.workload == "warehouse_queries":
        return QueryWorkload(ctx, WAREHOUSE_MIX)
    if ctx.workload == "corpus_curation":
        return QueryWorkload(ctx, CORPUS_MIX)
    raise ValueError(f"unknown workload {ctx.workload!r}")


def write_inputs(workload: str, seed: int, size: str, inputs: str) -> dict:
    """Generate the workload's inputs from ``seed``; returns their sizes."""
    import gen

    s = SIZES[size]
    os.makedirs(inputs, exist_ok=True)
    if workload == "cdc_stream":  # the feed is written as the run drains it
        return {"seed_events": s["cdc_seed_rows"],
                "batch_events": s["cdc_batch_events"],
                "customers": gen.CDC_CUSTOMERS, "months": gen.CDC_MONTHS}
    sf = s["warehouse_sf"] if workload == "warehouse_queries" else s["corpus_sf"]
    return gen.write_star_schema(os.path.join(inputs, "star"), seed, sf)
