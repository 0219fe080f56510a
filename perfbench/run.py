"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed`` (numpy/pyarrow, no Spark), then starts
one worker process, which sets up as a user would (imports, ``get_spark``:
``setup_s``), warms up, measures for ``--seconds``, checks every output and
reports. Everything it writes goes under
``.perfbench/`` in the checkout and the work area is removed at exit.

The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "azure_airbnb_cdc_ingestion_pipeline_spark"
#: set-up samples per run, taken one after another; the last sample is
#: the measuring worker's own set-up
SETUP_SAMPLES = 1
#: a run must end within this many seconds
RUN_BUDGET_S = 170.0

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s"}


def _child_env(work: str) -> dict:
    env = dict(os.environ)
    env.update({
        # numeric libraries single-threaded: Spark owns the cores
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # nproc
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # scratch stays inside the checkout; -XX:-UsePerfData keeps the JVM
        # from writing its perf-data file to the system temp dir
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    return env


#: prctl option that makes orphaned descendants re-parent to this process
PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Orphans of the worker's tree are re-parented to this process instead
    of init, so ``_stop_session`` can reap every one of them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # without it, init reaps the orphans


def _session_members(sid: int) -> list[int]:
    """Processes of session ``sid`` that have not ended, plus ended ones
    still waiting to be reaped by this process."""
    me = str(os.getpid())
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                state, ppid, _pgrp, session = f.read().rsplit(")", 1)[1].split()[:4]
        except (OSError, ValueError):
            continue  # the process ended between listdir and read
        if int(session) == sid and (state != "Z" or ppid == me):
            pids.append(int(name))
    return pids


def _kill_session(sid: int) -> list[int]:
    """SIGKILL every process of the worker's session: its JVM, and Spark's
    Python daemon and workers, which move to a process group of their own."""
    members = _session_members(sid)
    for pid in members:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return members


def _reap_children() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill the worker's whole session and wait until every member has
    ended and been reaped."""
    deadline = time.time() + 60
    while True:
        members = _kill_session(proc.pid)
        proc.wait()
        _reap_children()
        if not members or time.time() > deadline:
            return
        time.sleep(0.05)


def _read_tagged(proc: subprocess.Popen, tag: str) -> dict:
    for line in proc.stdout:
        if line.startswith(tag + " "):
            return json.loads(line[len(tag) + 1:])
    raise RuntimeError(f"worker ended before its {tag} line")


def run(args) -> int:
    import workloads

    t_begin = time.time()
    deadline = t_begin + RUN_BUDGET_S
    _become_subreaper()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    for sub in ("tmp", "spark-local", "inputs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    proc = log = watchdog = None
    try:
        sizes = workloads.write_inputs(args.workload, args.seed, args.size,
                                       os.path.join(work, "inputs"))
        env = _child_env(work)
        log = open(os.path.join(work, "worker.log"), "w")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--fault", args.fault,
            "--work", work, "--trace-dir", base,
            "--t-spawn", repr(time.time()),
            "--budget", str(deadline - time.time() - 20),
        ]
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True,
        )
        # a hung worker is killed at the deadline; its stdout then closes
        watchdog = threading.Timer(deadline - time.time(), _kill_session,
                                   (proc.pid,))
        watchdog.start()
        res = _read_tagged(proc, "RESULT")
        setup = res["setup"]
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        if log is not None:
            log.flush()
            _print_log_tail(os.path.join(work, "worker.log"))
        return 2
    finally:
        if watchdog is not None:
            watchdog.cancel()
        if proc is not None:
            _stop_session(proc)
        if log is not None:
            log.close()
        shutil.rmtree(work, ignore_errors=True)

    m = res["metrics"]
    e2e = {"setup_s": setup["setup_s"], "op_p50_s": m["op_p50_s"],
           "items_per_s": m["items_per_s"]}
    _print_report(args, sizes, setup, res, e2e, t_begin)
    if args.trace:
        metrics = {k: {"value": res["layers"][k], "unit": _layer_unit(k)}
                   for k in workloads.PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0 if res["correct"] and res["failed"] == 0 else 1


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_util"):
        return "ratio"
    if name.endswith("per_event"):
        return "B/event"
    return "count"


def _print_report(args, sizes, setup, res, e2e, t_begin) -> None:
    """Human-readable lines before the result line, with the workload's
    own names for the generic metrics."""
    m = res["metrics"]
    print(f"workload {args.workload} seed {args.seed} inputs {json.dumps(sizes)}")
    print(f"setup_s {e2e['setup_s']:.3f} s (imports {setup['import_s']:.3f} s, "
          f"get_spark {setup['get_spark_s']:.3f} s)")
    op = "batch" if args.workload == "cdc_stream" else "query"
    print(f"{op}_p50_s {m['op_p50_s']:.4f} s over {m['ops']} {op} operations")
    print("walls " + " ".join(f"{n}={w:.3f}" for n, w in res["walls"]))
    print(f"{op}_tail_s {m['op_tail_s']:.4f} s (p{m['op_tail_pct']:.0f})")
    rate = {
        "cdc_stream": ("cdc_events_per_s", 1.0, "events/s"),
        "warehouse_queries": ("queries_per_min", 60.0, "queries/min"),
        "corpus_curation": ("docs_per_s", 1.0, "docs/s"),
    }[args.workload]
    print(f"{rate[0]} {m['items_per_s'] * rate[1]:.3f} {rate[2]}")
    for k, v in sorted(res["layers"].items()):
        print(f"layer {k} {v:.4f} {_layer_unit(k)}")
    print(f"peak_rss_mb {res['peak_rss_mb']:.1f} MB")
    print(f"op_error_rate {res['failed'] / max(1, res['attempted']):.4f} "
          f"({res['failed']} of {res['attempted']} operations)")
    print("phases " + " ".join(f"{k} {v:.1f}" for k, v in res["phases"].items())
          + f" total_s {time.time() - t_begin:.1f}")
    for f in res["failures"]:
        print(f"FAILED {f}")


def _print_log_tail(path: str) -> None:
    with open(path) as f:
        sys.stderr.write("".join(f.readlines()[-40:]))


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through run()'s cleanup


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    # before numpy loads (input generation): Spark owns the cores
    os.environ.update(OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1",
                      MKL_NUM_THREADS="1")
    sys.path.insert(0, HERE)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("cdc_stream", "warehouse_queries", "corpus_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="input size; toy is for the benchmark's own tests")
    ap.add_argument("--fault", choices=("none", "wrong", "raise"), default="none",
                    help="inject a wrong expected result or a failing "
                         "operation (tests of the benchmark itself)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "oracle_check.py")
    ):
        print(f"perfbench: {PACKAGE}/ and tools/oracle_check.py must sit next "
              "to perfbench/ (run from a checkout of the repository)",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
