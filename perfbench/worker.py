"""One benchmark process. Started by ``run.py``; not meant to be run by hand.

The worker sets up exactly as a user of the package would — import the
package and its query catalog, call ``get_spark`` — then runs the workload
(prepare, warm-up, measured window, untimed output checks), writes one
``RESULT`` line with its set-up times and metrics to stdout, and waits for
``run.py`` to stop its session.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


def emit(tag: str, payload: dict) -> None:
    sys.stdout.write(f"{tag} {json.dumps(payload)}\n")
    sys.stdout.flush()


class ProcSampler(threading.Thread):
    """Samples this session from ``/proc`` every 0.1 s: peak resident
    memory of the driver, its JVM and its Python workers together, and the
    Python worker processes seen."""

    def __init__(self):
        super().__init__(daemon=True)
        # the session, not the process group: Spark's Python daemon moves
        # itself and its workers to a group of their own
        self.sid = os.getsid(0)
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.peak_bytes = 0
        self.workers: set[int] = set()
        self._cmd: dict[int, bool] = {}
        self.seen_before: set[int] = set()
        self._halt = threading.Event()

    def _sample(self) -> None:
        total = 0
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            pid = int(name)
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                if int(stat.rsplit(")", 1)[1].split()[3]) != self.sid:
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.page
                if pid not in self._cmd:
                    with open(f"/proc/{pid}/cmdline", "rb") as f:
                        self._cmd[pid] = b"pyspark.daemon" in f.read()
                if self._cmd[pid]:
                    self.workers.add(pid)
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                continue  # the process ended between listdir and read
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._halt.wait(0.1):
            self._sample()

    def reset(self) -> None:
        self._sample()
        self.peak_bytes = 0
        self.seen_before = set(self.workers)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def window(wl, seconds: float, deadline: float) -> tuple[list[dict], float]:
    """Whole units until ``seconds`` have passed (or the deadline nears)."""
    ops: list[dict] = []
    t0 = time.perf_counter()
    while True:
        ops += wl.run_unit()
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds or time.time() + elapsed > deadline:
            return ops, elapsed


def end_to_end(wl, ops: list[dict]) -> dict:
    """Metrics over the successful operations (all 0 when none succeeded:
    such a run fails anyway)."""
    from workloads import median, tail

    ok = [o for o in ops if o["ok"]]
    if not ok:
        return {"ops": 0, "op_p50_s": 0.0, "op_tail_s": 0.0, "op_tail_pct": 0.0,
                "items_per_s": 0.0}
    walls = [o["wall"] for o in ok]
    tail_s, tail_pct = tail(walls)
    return {
        "ops": len(walls),
        "op_p50_s": median(walls),
        "op_tail_s": tail_s,
        "op_tail_pct": tail_pct,
        "items_per_s": wl.items_per_s(ok),
    }


def run_main(args, spark, setup: dict) -> dict:
    import workloads

    deadline = T_START + args.budget
    ctx = workloads.Ctx(spark, args.workload, args.seed, args.size, args.work,
                        trace=bool(args.trace), fault=args.fault)
    sampler = ProcSampler()
    sampler.start()
    phases = {}
    t = time.perf_counter()
    wl = workloads.make(ctx)
    phases["prepare_s"] = time.perf_counter() - t
    t = time.perf_counter()
    wl.warm_up()  # JIT, code generation, Python workers
    phases["warm_up_s"] = time.perf_counter() - t
    out: dict = {"setup": setup, "phases": phases, "layers": {}}
    sampler.reset()
    if args.trace:
        # one untraced unit is the baseline of the tracing overhead
        ops = wl.run_unit()
        traced, out["layers"] = traced_window(args, spark, wl, sampler, deadline)
        base, with_spans = end_to_end(wl, ops), end_to_end(wl, traced)
        if base["ops"] and with_spans["ops"]:
            out["layers"]["trace.overhead_pct"] = 100.0 * (
                with_spans["op_p50_s"] / base["op_p50_s"] - 1.0)
        out["layers"]["session.import_s"] = setup["import_s"]
        out["layers"]["session.get_spark_s"] = setup["get_spark_s"]
    else:
        ops, _wall = window(wl, args.seconds, deadline)
        traced = []
    out["peak_rss_mb"] = sampler.peak_bytes / 2**20
    sampler.stop()
    out["metrics"] = end_to_end(wl, ops)
    all_ops = ops + traced
    t = time.perf_counter()
    failures = [f"{o['name']}: {o.get('error')}" for o in all_ops if not o["ok"]]
    failures += wl.verify()
    phases["verify_s"] = time.perf_counter() - t
    out.update(
        attempted=len(all_ops),
        failed=min(len(all_ops), len(failures)),
        correct=not failures,
        failures=failures[:20],
        walls=[(o["name"], o["wall"]) for o in all_ops],
    )
    return out


def traced_window(args, spark, wl, sampler, deadline) -> tuple[list[dict], dict]:
    """The traced window: package spans and Spark counters around whole
    units; returns its operations and the per-layer metrics."""
    import workloads
    from tracing import SparkCounters, Tracer, install_package_spans

    tracer = Tracer()
    counters = SparkCounters(spark)
    commits0 = wl.commits()
    sampler.reset()
    before = counters.mark()
    install_package_spans(tracer)
    t0 = time.perf_counter()
    try:
        ops, wall = window(wl, args.seconds, deadline)
    finally:
        tracer.uninstall()
    t1 = time.perf_counter()
    layers = layer_metrics(
        wl, ops, wall, tracer.window(t0, t1), counters.since(before),
        counters.cores, len(sampler.workers - sampler.seen_before),
        wl.commits() - commits0,
    )
    layers["process.peak_rss_mb"] = sampler.peak_bytes / 2**20
    if isinstance(wl, workloads.CdcWorkload):
        layers["cdc.fact_query_s"] = wl.fact_query_s()
        layers["tables.read_resolved_s"] = wl.read_resolved_s()
        layers["tables.live_files"] = wl.fact.live_file_count()
    os.makedirs(args.trace_dir, exist_ok=True)
    tracer.dump(
        os.path.join(args.trace_dir, f"spans-{args.workload}-{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed, "window": [t0, t1]},
    )
    return ops, layers


def layer_metrics(wl, ops, wall, spans, spark_tot, cores, workers, commits) -> dict:
    import workloads
    from tracing import Tracer

    n = max(1, len(ops))
    by = Tracer.self_times(spans)

    def per_op(name: str, key: str = "total_s") -> float:
        return by.get(name, {}).get(key, 0.0) / n

    out = {name: 0.0 for name in workloads.PER_LAYER}
    out.update({
        "spark.jobs_per_op": spark_tot["jobs"] / n,
        "spark.tasks_per_op": spark_tot["tasks"] / n,
        "spark.shuffle_write_mb": spark_tot["shuffle_write_mb"] / n,
        "readers.input_mb": spark_tot["input_mb"] / n,
        "spark.gc_s": spark_tot["gc_s"] / n,
        "spark.cpu_util": spark_tot["cpu_s"] / (wall * cores),
        "python.workers_spawned": float(workers),
    })
    ok = [o for o in ops if o["ok"]]
    if isinstance(wl, workloads.CdcWorkload):
        events = sum(o["items"] for o in ok)
        folds = [s for s in spans if s.get("fold")]
        out.update({
            "streaming.trigger_overhead_s": workloads.median(o["overhead"] for o in ok),
            "pipelines.process_batch_s": per_op("pipelines.process_batch"),
            "pipelines.process_batch_self_s": per_op("pipelines.process_batch", "self_s"),
            "tables.upsert_delta_s": per_op("tables.upsert_delta"),
            "tables.fold_s": workloads.median(s["end"] - s["start"] for s in folds),
            "tables.append_s": per_op("tables.append"),
            "tables.maybe_compact_s": per_op("tables.maybe_compact"),
            "tables.overwrite_s": per_op("tables.overwrite"),
            "tables.read_for_keys_s": per_op("tables.read_for_keys"),
            "tables.bytes_written_per_event": spark_tot["output_mb"] * 2**20 / max(1, events),
            "tables.commits": commits / n,
        })
    else:
        out.update(wl.layer_metrics(ok))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--size", default="full")
    ap.add_argument("--fault", default="none")
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-dir", required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--budget", type=float, default=150.0)
    args = ap.parse_args()

    t0 = time.time()
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans import queries  # noqa: F401
    from azure_airbnb_cdc_ingestion_pipeline_spark.session import get_spark

    t1 = time.time()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.time()
    setup = {
        "setup_s": t2 - args.t_spawn,
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
    }
    emit("RESULT", run_main(args, spark, setup))
    sys.stdin.readline()  # run.py stops the session; EOF also ends it


if __name__ == "__main__":
    main()
