"""Runtime tracing for the benchmark's traced run (``--trace 1``).

Nothing here edits the package: :class:`Tracer` replaces public functions
and methods of the package (and the DataFrame actions of pyspark) with
wrappers that record a span around each call, and puts the originals back
on :meth:`Tracer.uninstall`. Spans are kept in memory and written once, at
exit, each with its name, start, end and parent; a layer's self time is its
spans' duration minus the part their child spans cover.

Lazy DataFrame builders return before any work runs, so the layer time that
counts sits in spans around actions (``spark.action.*``) and table commits;
the builder spans still count calls.

:class:`SparkCounters` reads the Spark UI's REST API (the public monitoring
interface) to attribute jobs, tasks, bytes, CPU and GC time to a measured
window. Executor-level totals are cumulative counters, so they repeat
exactly for the same work.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import urllib.request
from collections import defaultdict


class Tracer:
    """In-memory spans plus the wrappers that record them."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._next_id = 0
        self._id_lock = threading.Lock()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span around the ``with`` body; yields the span record
        so the body can annotate it."""
        with self._id_lock:
            sid = self._next_id
            self._next_id += 1
        stack = self._stack()
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "thread": threading.get_ident()}
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    # -- wrapping --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        """Put back every wrapped attribute (an inherited one is deleted
        from the class it was set on, so lookup falls through again)."""
        while self._patched:
            owner, attr, original = self._patched.pop()
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    # -- summaries -------------------------------------------------------
    def window(self, t0: float, t1: float) -> list[dict]:
        return [s for s in self.spans if t0 <= s["start"] and s["end"] <= t1]

    @staticmethod
    def self_times(spans: list[dict]) -> dict[str, dict]:
        """Per span name: call count, total and self seconds."""
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in spans:
            d = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            d["calls"] += 1
            d["total_s"] += dur
            d["self_s"] += max(0.0, dur - child[s["id"]])
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                **extra,
                "spans": self.spans,
                "by_name": self.self_times(self.spans),
            }, f)


def install_package_spans(tracer: Tracer) -> None:
    """Wrap the package's public entry points and pyspark's actions."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from azure_airbnb_cdc_ingestion_pipeline_spark.operators import aggregate, merge
    from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines import load_booking_fact
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources import readers
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

    for attr in ("append", "maybe_compact", "overwrite", "read",
                 "read_for_keys", "upsert_pruned"):
        tracer.wrap(ParquetTable, attr, f"tables.{attr}")
    _wrap_upsert_delta(tracer, ParquetTable)
    # the streaming entry resolves these module globals at call time
    tracer.wrap(load_booking_fact, "process_booking_batch", "pipelines.process_batch")
    tracer.wrap(load_booking_fact, "transform_bookings", "pipelines.transform")
    tracer.wrap(load_booking_fact, "run_foreach_batch_merge", "streaming.start")
    tracer.wrap(load_booking_fact, "read_change_feed", "streaming.read_change_feed")
    tracer.wrap(aggregate, "gold_booking_aggregation", "operators.gold_aggregation")
    tracer.wrap(aggregate, "merge_gold", "operators.merge_gold")
    tracer.wrap(aggregate, "signed_delta", "operators.signed_delta")
    tracer.wrap(merge, "latest_per_key", "operators.latest_per_key")
    tracer.wrap(merge, "merge_dataframes", "operators.merge_dataframes")
    tracer.wrap(readers, "read_table", "readers.read_table")
    tracer.wrap(readers, "read_events", "readers.read_events")
    for attr in ("collect", "toPandas", "count", "isEmpty", "first", "take", "head"):
        tracer.wrap(DataFrame, attr, f"spark.action.{attr}")
    for attr in ("parquet", "json", "save"):
        tracer.wrap(DataFrameWriter, attr, f"spark.write.{attr}")


def _wrap_upsert_delta(tracer: Tracer, table_cls) -> None:
    """``tables.upsert_delta`` spans, marked ``fold`` when the call folded
    the pending deltas into the base: a fold leaves fewer live files than
    it found, a plain delta append leaves one more."""
    original = table_cls.upsert_delta

    @functools.wraps(original)
    def wrapper(self, *args, **kwargs):
        before = self.live_file_count()
        with tracer.span("tables.upsert_delta") as rec:
            out = original(self, *args, **kwargs)
        rec["fold"] = self.live_file_count() < before
        return out

    tracer._patched.append((table_cls, "upsert_delta", original))
    table_cls.upsert_delta = wrapper


# ---------------------------------------------------------------------------
# Spark counters from the monitoring REST API
# ---------------------------------------------------------------------------

class SparkCounters:
    """Jobs, tasks, bytes, CPU and GC of one Spark application, read from
    its UI's REST API (``localhost`` only)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism
        self._seen_stages: set = set()
        self._seen_jobs: set = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _executor(self) -> dict:
        ex = self._get("/executors")
        driver = [e for e in ex if e["id"] == "driver"] or ex
        return driver[0]

    def mark(self) -> dict:
        """Snapshot before a window: remembers every job and stage seen."""
        self._seen_jobs = {j["jobId"] for j in self._get("/jobs")}
        self._seen_stages = {
            (s["stageId"], s["attemptId"]) for s in self._get("/stages")
        }
        return self._executor()

    def since(self, before: dict) -> dict:
        """Totals of the jobs and stages that ran since :meth:`mark`."""
        after = self._executor()
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in self._seen_jobs]
        stages = [
            s for s in self._get("/stages")
            if (s["stageId"], s["attemptId"]) not in self._seen_stages
            and s["status"] == "COMPLETE"
        ]
        mb = 1024.0 * 1024.0
        return {
            "jobs": len(jobs),
            "tasks": after["totalTasks"] - before["totalTasks"],
            "input_mb": (after["totalInputBytes"] - before["totalInputBytes"]) / mb,
            "shuffle_write_mb": (after["totalShuffleWrite"] - before["totalShuffleWrite"]) / mb,
            "gc_s": (after["totalGCTime"] - before["totalGCTime"]) / 1e3,
            "cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "output_mb": sum(s.get("outputBytes", 0) for s in stages) / mb,
        }
