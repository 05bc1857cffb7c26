"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload query|batch --seed N \
        --seconds S --trace 0|1 [--size full|tiny]

Run from the repository root. The run generates its inputs from the seed
under ``.perfbench_work/``, starts one Spark session on ``local[<cpus>]``,
sets up three times, warms up, measures whole rounds (query) or passes
(batch) of its workload until ``--seconds`` have passed, at least one,
checks every output, and prints two JSON lines: a record with the
workload's own figures, then the result (``correct``, ``attempted``,
``failed``, ``metrics``). ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs with spans and the Spark event log on and reports the
per-layer metrics, including the tracing overhead: the share of the
measured window spent in tracer calls into the JVM. Spans of a
traced run are written to ``.perfbench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
E2E_UNITS = {"setup_s": "s", "latency_ms": "ms"}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._halt = threading.Event()

    def _tree_kb(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, todo = set(), [os.getpid()]
        while todo:
            p = todo.pop()
            tree.add(p)
            todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def start_session(work: str, event_dir: str | None):
    from project_cortex_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def workload_class(name: str):
    if name == "query":
        from query import QueryWorkload
        return QueryWorkload
    from batch import BatchWorkload
    return BatchWorkload


def measure(args, work: str) -> dict:
    """Start a session, set up, warm up, measure, check; stop the session."""
    from spans import Tracer, layer_metrics, read_event_log

    traced = bool(args.trace)
    event_dir = os.path.join(work, "events") if traced else None
    t0 = time.time()
    spark = start_session(work, event_dir)
    session_ms = (time.time() - t0) * 1000
    tracer = Tracer(spark, f"{args.workload}-{args.seed}", traced)
    try:
        w = workload_class(args.workload)(spark, tracer, os.path.join(work, "data"), args.seed, args.size)
        setups = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            with tracer.span("workload", "setup"):
                w.setup(rep)
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.warm()
        warm_s = time.perf_counter() - t
        tracer.cost_s = 0.0
        window_start = time.time()
        t_start = time.perf_counter()
        deadline = t_start + args.seconds
        while True:
            try:
                w.step()
            except Exception as exc:  # noqa: BLE001 - a failed step is counted, the run goes on
                print(f"step failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                w.failed_steps += 1
                if w.failed_steps > 5:
                    raise
            if time.perf_counter() >= deadline:
                break
        elapsed = time.perf_counter() - t_start
        figures = w.figures(elapsed)
        tracer.enabled = False
        t = time.perf_counter()
        attempted, failed = w.check()
        check_s = time.perf_counter() - t
    finally:
        spark.stop()
    out = {
        "session_ms": session_ms,
        "setups_s": setups,
        "elapsed_s": elapsed,
        "warm_s": warm_s,
        "check_s": check_s,
        "tracer_cost_s": tracer.cost_s,
        "layer_extra": w.layer_extra,
        "attempted": attempted,
        "failed": failed,
        **figures,
    }
    if traced:
        tracer.write(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
        window = [sp for sp in tracer.spans if sp["start"] >= window_start]
        out["layers"] = layer_metrics(window, read_event_log(event_dir))
    return out


def shutdown_gateway() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: kill and reap
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("query", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "project_cortex_spark")):
        print("perfbench: project_cortex_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = str(len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })

    rss = RssSampler()
    rss.start()
    try:
        run = measure(args, work)
    finally:
        shutdown_gateway()
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    setup_s = run["session_ms"] / 1000 + statistics.median(run["setups_s"])
    e2e = {
        "setup_s": setup_s,
        "latency_ms": run["latency_ms"],
    }
    attempted, failed = run["attempted"], run["failed"]
    record = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "trace": args.trace,
        "cpus": int(cpus), "seconds": args.seconds, "elapsed_s": run["elapsed_s"],
        "session_start_s": run["session_ms"] / 1000, "setup_reps_s": run["setups_s"],
        "warm_s": run["warm_s"], "check_s": run["check_s"],
        "failed_frac": failed / attempted, "peak_rss_mb": rss.peak_kb / 1024,
        "inputs": run["gen"], **run["record"],
    }
    if args.trace:
        from spans import per_layer_names

        layers = dict(run["layers"])
        layers["session.start_ms"] = run["session_ms"]
        layers["sources.load_ms"] = run["load_ms"]
        layers["pipeline.bytes_written"] = float(run["bytes_written"])
        layers.update(run["layer_extra"])
        layers["tracing.overhead_frac"] = run["tracer_cost_s"] / run["elapsed_s"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": float(v), "unit": E2E_UNITS[n]} for n, v in e2e.items()}
    record.update({n: v for n, v in e2e.items()})
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
