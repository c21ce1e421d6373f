"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout: the engine (``webcrawler_spark``)
is imported from the working directory. Builds the workload's inputs from
``--seed``, measures for ``--seconds``, checks the outputs and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around every layer call and reports the per-layer
metrics instead. Everything the run writes (Spark scratch, catalog, temp
files) lives under ``.bench_work/`` in the working directory and is removed
at exit.
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

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "3g"
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_ms_p50": "ms",
}


class RssSampler(threading.Thread):
    """Peak resident set of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def _tree_rss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended between listdir and open
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
            rss[int(name)] = pages * PAGE_KB
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def _configure_env(root: str, work: str) -> None:
    """Point every writer of the run (Spark scratch, JVM temp, Python temp,
    the SQL warehouse) inside ``work`` and size the session (at most 4 cores)
    through the env vars ``session.get_spark`` reads."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the traced run reads every job back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    tmp = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"']
        + [f"--conf {k}={v}" for k, v in confs.items()]
        + ["pyspark-shell"]
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def _e2e_metrics(res, session_s: float) -> dict:
    values = {
        "setup_s": session_s + res.setup_s,
        "throughput_per_s": res.throughput_per_s,
        "latency_ms_p50": statistics.median(res.latencies_ms),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def _layer_metrics(res, units: dict, peak_kb: int) -> dict:
    values = dict(res.layer)
    values["process.peak_rss_mb"] = peak_kb / 1024.0
    values["trace.throughput_per_s"] = res.throughput_per_s
    values["trace.latency_ms_p50"] = statistics.median(res.latencies_ms)
    return {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import pyspark  # noqa: F401

        import webcrawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads as W
    from perfbench.trace import Tracer

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    _configure_env(root, work)
    sampler = RssSampler()  # the untraced run reports no memory; it samples nothing
    if args.trace:
        sampler.start()
    spark = None
    try:
        from webcrawler_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx = W.Ctx(spark, args.seed, args.seconds, CORES, work)
        if args.trace:
            ctx.tracer = Tracer(spark)
            W.patch_layers(ctx.tracer)
        t_run = time.perf_counter()
        res = W.WORKLOADS[args.workload](ctx)
        res.details["run_s"] = round(time.perf_counter() - t_run, 3)
    finally:
        if spark is not None:
            _stop_spark(spark)
        if args.trace:
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    res.details["samples"] = len(res.latencies_ms)
    res.details["session_s"] = round(session_s, 3)
    print(json.dumps({"details": res.details}, default=str))
    if args.trace:
        metrics = _layer_metrics(res, W.PER_LAYER, sampler.peak_kb)
    else:
        metrics = _e2e_metrics(res, session_s)
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
