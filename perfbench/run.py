#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload execution --seed 1 --seconds 10 --trace 0

Builds the seeded inputs under a private directory of the checkout,
starts a ``local[nproc]`` session through ``session.get_spark``, runs
one workload (see workloads.py) in a closed loop, checks its outputs,
stops the JVM and removes every file it wrote.  Standard output ends
with one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it carries the workload's
detail figures and the run's environment.
"""

from __future__ import annotations

import argparse
import json
import os
import importlib
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: Driver JVM heap: far below the machine's memory, ample for the
#: generated inputs.
DRIVER_MEMORY = "3g"
#: The gated metrics.  Each workload's cold_s (its first executions in
#: the fresh session) is a detail figure: one JIT-cold sample, it spread
#: up to 0.30 over ten runs on a contended host.
END_TO_END = {"setup_s": "s", "warm_s": "s", "items_per_s": "1/s"}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _start_session(run_dir: str, trace: bool):
    from hadoop__spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark("perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop the context, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # every workload measures a fixed sequence of operations, so two
    # commits are compared on the same work; on 4 cores each sequence
    # measures longer than BENCHMARK.json's run_seconds
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # fail before writing anything when the engine is not in the checkout
    import hadoop__spark.session  # noqa: F401

    from perfbench import datagen, workloads
    from perfbench.trace import MODULES, Tracer, by

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    # Python-side temporaries (py4j handshake, pyspark, ann03's index
    # dir) and Spark's local dirs go under the run directory
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    spark = None
    ticks = _cpu_ticks()
    try:
        t0 = time.perf_counter()
        catalog_dir = os.path.join(run_dir, "catalog")
        fixtures = datagen.write_catalog(catalog_dir, args.seed, workloads.TABLES[args.workload])
        gen_s = time.perf_counter() - t0

        from hadoop__spark.session import register_views

        marks = [time.perf_counter()]
        spark = _start_session(run_dir, bool(args.trace))
        marks.append(time.perf_counter())
        register_views(spark, catalog_dir)
        marks.append(time.perf_counter())
        spark.sql("SELECT COUNT(*) FROM lineitem").collect()  # warm-up
        marks.append(time.perf_counter())
        setup_s = marks[-1] - marks[0]
        setup_parts = dict(zip(("session_s", "register_s", "warmup_s"),
                               (b - a for a, b in zip(marks, marks[1:]))))

        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            for short in MODULES:
                tracer.patch_module(importlib.import_module(f"hadoop__spark.operators.{short}"), short)
        ctx = workloads.Ctx(spark, args.seed, run_dir, catalog_dir, fixtures, tracer)
        try:
            e2e = workloads.WORKLOADS[args.workload](ctx)
        finally:
            if tracer:
                tracer.close()

        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024
        # share of CPU time the hypervisor gave to other guests during the
        # run: latencies dominated by py4j round trips inflate with it
        spent = [b - a for a, b in zip(ticks, _cpu_ticks())]
        env = {
            "cpu_steal_share": spent[7] / max(sum(spent), 1),
            "nproc": len(os.sched_getaffinity(0)),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        metrics = {"setup_s": setup_s, **e2e}
        if tracer:
            mods = by(tracer.jobs(), lambda j: j.mod)
            layer = {name: 0.0 for name in workloads.per_layer_names()}
            for m in ("queries",) + MODULES:
                layer[f"{m}.tasks"] = mods[m].tasks
                layer[f"{m}.shuffle_bytes"] = mods[m].shuffle_bytes
                layer[f"{m}.spill_bytes"] = mods[m].spill_bytes
            layer.update(ctx.layer)
            layer["traced.cold_s"] = e2e["cold_s"]
            layer["traced.warm_s"] = e2e["warm_s"]
            measured = e2e["measured_s"]
            layer["trace.unattributed_share"] = 1 - tracer.covered_s / measured if measured else 0.0
            layer["mem.peak_rss_mb"] = rss_mb
            out = {k: {"value": v, "unit": workloads.unit_of(k)} for k, v in layer.items()}
        else:
            out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "inputs_s": gen_s, "setup": setup_parts, "error_rate": ctx.failed / max(ctx.attempted, 1),
            "end_to_end": {k: metrics[k] for k in END_TO_END}, "cold_s": e2e["cold_s"],
            "peak_rss_mb": rss_mb,
            **ctx.detail, "env": env,
        }
        for err in ctx.errors:
            print(err, file=sys.stderr)
        print(json.dumps(detail))
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": out,
        }))
        return 0
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(scratch):
            os.rmdir(scratch)


if __name__ == "__main__":
    sys.exit(main())
