#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. Generates the workload's inputs
from ``--seed`` (cached under ``.perfbench_work/``), starts Spark through
``session.get_spark`` on ``local[<cores>]``, runs the workload's warm-up,
measures whole passes until ``--seconds`` have gone by, checks the outputs against
computations made apart from the program, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
measured modules' public functions in spans and reports the per-layer
metrics instead (spans are written to ``.perfbench_work/traces/``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("batch", "index_serving")
END_TO_END = (
    ("setup_s", "s"), ("pass_s", "s"), ("query_geomean_s", "s"),
    ("probe_p50_ms", "ms"), ("probe_p90_ms", "ms"), ("serve_probes_per_s", "1/s"),
    ("append_p50_s", "s"), ("index_build_s", "s"), ("peak_rss_mb", "MB"),
    ("written_mb", "MB"),
)


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._halt.wait(0.1)

    def stop(self):
        self._halt.set()
        self.join(timeout=5)
        self.peak = max(self.peak, self._tree_rss())


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_session(root: str, work: str, trace: bool):
    """The Spark runtime as ``session.get_spark`` configures it, with every
    scratch path kept inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no JVM perf-data files: they would go to /tmp, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # a 3 GB heap instead of the engine's 8 GB default keeps the process
    # small on a shared machine; the workloads' working sets fit easily
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # Python workers need the package importable without relying on the
    # driver's working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from pwhl_data_engineering_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "1000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    spark = get_spark("perfbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # still running after a minute: kill and reap it
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work")
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    # fail fast, before any set-up, when the program is not in the checkout
    importlib.import_module("pwhl_data_engineering_pipeline_spark.session")

    rss = RssSampler()
    rss.start()
    wl_mod = importlib.import_module(args.workload)
    t0 = time.time()
    inputs = wl_mod.make_inputs(work, args.seed, "full")
    gen_s = time.time() - t0

    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = make_session(root, work, bool(args.trace))
    from tracing import Tracer, per_layer_spec

    tracer = Tracer(spark, enabled=False)
    try:
        wl = wl_mod.Workload(spark, tracer, run_dir)
        # set-up: from process start to the end of warm-up, less input
        # generation and any timed one-off build the workload reports itself
        excluded = wl.warmup(inputs)
        setup_s = time.time() - t_proc - gen_s - excluded
        if args.trace:
            tracer.enabled = True
            tracer.wrap_modules()
        t_measure = time.time()
        m = wl.measure(inputs, args.seconds)
        tracer.enabled = False
        t_check = time.time()
        problems = wl.check(inputs)
        problems += wl.selftest()
        print(f"gen {gen_s:.1f}s, setup {setup_s:.1f}s, measure {t_check - t_measure:.1f}s, "
              f"checks {time.time() - t_check:.1f}s", file=sys.stderr)
        if args.trace:
            layer = tracer.collect(m["rounds"])
            tracer.dump(os.path.join(work, "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.json"))
    finally:
        stop_spark(spark)
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    # the timings of this run go to stderr in both modes, so a traced run
    # shows its own cost next to an untraced one
    print("timings: " + json.dumps({"setup_s": setup_s, **m["metrics"]}), file=sys.stderr)
    if args.trace:
        metrics = {k["name"]: {"value": float(layer.get(k["name"], 0.0)), "unit": k["unit"]}
                   for k in per_layer_spec()}
    else:
        values = dict(m["metrics"])
        values["setup_s"] = setup_s
        values["peak_rss_mb"] = rss.peak / 1e6
        metrics = {n: {"value": float(values[n]), "unit": u} for n, u in END_TO_END}
    print(json.dumps({
        "correct": not problems,
        "attempted": int(m["attempted"]),
        "failed": int(m["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
