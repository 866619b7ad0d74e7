#!/usr/bin/env python3
"""Benchmark of the retrieval engine: build, serve and update at local[nproc].

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload (``serve`` or ``update``, see workloads.py) from a seed,
checks every output, prints each metric by name with its unit, and prints
as its last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  All files go under ``.perfbench_work/`` in the
repository root: a per-run directory, removed at exit except for a traced
run's spans, and a cache of the fixed corpora and the serve index, keyed on
the Python sources.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "document_retrieval_system_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["serve", "update"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--small", action="store_true",
                   help="tiny inputs, for the self-test smoke runs")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file this run writes under ``work``, and let Spark's
    Python workers import the package from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # a cluster-manager setting would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def start_spark(work: str):
    from document_retrieval_system_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf={
                          "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                          # the inputs are a few MB; the host is shared
                          "spark.driver.memory": "2g",
                          "spark.ui.showConsoleProgress": "false",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until every
    process this run started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while started & _alive(started):
        if time.monotonic() > deadline:
            raise RuntimeError("processes still running after Spark stopped")
        time.sleep(0.1)


def _alive(pids: set[int]) -> set[int]:
    out = set()
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.add(pid)
        except OSError:
            pass
    return out


def source_key() -> str:
    """Hash of the package's and the benchmark's Python sources: cached
    corpora and indexes are reused only by the code that made them."""
    h = hashlib.sha256()
    for top in (PACKAGE, "perfbench"):
        for base, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(base, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    top = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(top, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        return bench(args, work, os.path.join(top, "cache-" + source_key()))
    finally:
        for name in os.listdir(work):
            if name != "spans.json":
                shutil.rmtree(os.path.join(work, name), ignore_errors=True)
        if not os.listdir(work):
            os.rmdir(work)


def bench(args, work: str, cache: str) -> int:
    from perfbench.trace import Tracer, driver_gc_ms, tree_cpu_s, tree_peak_rss_mb
    from perfbench.workloads import WORKLOADS, Run

    spark = start_spark(work)
    try:
        run = Run(spark, work, cache, args.seed, Tracer(spark, bool(args.trace)),
                  args.small)
        wl = WORKLOADS[args.workload](run)
        with run.tracer.span("setup"):
            wl.setup()
        # CPU seconds, not wall seconds: see "Why CPU time" in README.md
        setup_s = tree_cpu_s()
        setup_wall_s = time.perf_counter() - T_START
        gc0 = driver_gc_ms(spark)
        with run.tracer.span(args.workload):
            wl.measure(args.seconds)
        gc_ms = driver_gc_ms(spark) - gc0
        peak_mb = tree_peak_rss_mb()
        t_check = time.perf_counter()
        wl.check()
        print(f"perfbench: setup {setup_wall_s:.1f} s, measure "
              f"{t_check - setup_wall_s - T_START:.1f} s, check "
              f"{time.perf_counter() - t_check:.1f} s; cycles (wall s / CPU s) "
              + " ".join(f"{w:.2f}/{c:.2f}" for w, c in run.cycles), file=sys.stderr)
        cycle_cpu_s = statistics.median(c for _, c in run.cycles)
        run.metric("setup_s", setup_s, "s")
        run.metric("setup_wall_s", setup_wall_s, "s")
        run.metric("cycle_cpu_s", cycle_cpu_s, "s")
        run.metric("cycle_s", statistics.median(w for w, _ in run.cycles), "s")
        run.metric("peak_rss_mb", peak_mb, "MB")
        if args.trace:
            from perfbench.layers import probe_layers

            metrics = probe_layers(run, wl, args.workload, gc_ms, peak_mb)
            run.tracer.write(os.path.join(work, "spans.json"))
        else:
            metrics = {"setup_s": (setup_s, "s"), "cycle_cpu_s": (cycle_cpu_s, "s")}
    finally:
        stop_spark(spark)
    run.metric("op_fail_frac", run.failed / max(run.attempted, 1), "ratio")
    for name, (value, unit) in sorted(run.report.items()):
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
