"""Run one benchmark workload and print one JSON result line.

From the repository root:

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0

Workloads: lake_ingest (write path), lake_serve (read path: dashboard HTTP
and training batches), catalog_slice (a fixed slice of the query catalog).
Inputs are generated from --seed before the measured window. The last line
of stdout is ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (see perfbench/metrics.py and perfbench/README.md). The exit code is
0 when every output check passed, 1 when one failed, 2 when the run could
not start (for example, no gridiron_spark package in the working directory).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.harness import MB, Context, log, since_start  # noqa: E402  (starts the clock)

WORKLOADS = ("lake_ingest", "lake_serve", "catalog_slice")
WORK_DIR = ".perfbench_work"
# Spark task threads. Half of a 4-vCPU box: the JVM's compiler and collector
# threads, the Python driver, the in-process HTTP server and the pandas UDF
# workers need CPUs of their own. In 6 interleaved pairs of catalog_slice runs
# local[2] won 3 and had the lower median catalog total (4.33 s against
# 4.75 s), so the two extra task threads bought no speed.
MAX_CORES = 2
# Initial driver heap. The program sets only the maximum (8g); the benchmark's
# untimed collections between operations would otherwise let the collector
# shrink the heap, and every operation would pay, unevenly, to grow it back.
HEAP_MIN = "2g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--tiny", action="store_true", help="small inputs, for the benchmark's own tests"
    )
    return p.parse_args(argv)


def _isolate(work: Path) -> None:
    """Keep every file Spark, Python and the program write inside ``work``,
    and size the session for a small box."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(MAX_CORES, os.cpu_count() or 1))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        f"--conf spark.ui.showConsoleProgress=false "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{HEAP_MIN} -XX:+AlwaysPreTouch" '
        f"pyspark-shell"
    )


def _peak_rss_mb() -> float:
    """Peak resident size of this (the Python) process."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def _live_mb(ctx: Context) -> float:
    """Memory the program holds: the Python process's peak RSS, the JVM's
    non-heap memory in use (classes, compiled code) and the most JVM heap in
    use after any of the run's collections. The JVM's own resident size is
    left out: it follows the heap size the collector chooses (and here the
    committed initial heap), not what the program holds."""
    bean = ctx.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return _peak_rss_mb() + bean.getNonHeapMemoryUsage().getUsed() / MB + ctx.live_heap_mb


def _stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "gridiron_spark" / "__init__.py").is_file():
        print(f"perfbench: no gridiron_spark package in {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / WORK_DIR / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path) -> int:
    from gridiron_spark.session import get_spark

    from perfbench import metrics
    from perfbench.tracing import Tracer

    if args.workload == "catalog_slice":
        from perfbench.catalog import CatalogSlice as cls
    elif args.workload == "lake_serve":
        from perfbench.lake import LakeServe as cls
    else:
        from perfbench.lake import LakeIngest as cls
    ctx = Context(work, args.seed, args.tiny)
    workload = cls(ctx)
    # input generation is pure Python; it overlaps the JVM's start-up
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs_ready = pool.submit(workload.prepare)
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        log("spark session up")
        prepared = inputs_ready.exception()
    ctx.spark = spark
    ctx.tracer = tracer = Tracer(spark, enabled=bool(args.trace))
    try:
        if prepared is not None:
            raise prepared
        log("inputs written")
        try:
            workload.setup()
            os.sync()  # flush set-up's writes before the measured window
            setup_s = since_start()
            log("set-up done")
            tracer.reset()
            workload.measure(time.perf_counter() + args.seconds)
            log("measured window done")
        finally:
            workload.close()
            tracer.unpatch()
        mem_mb = _live_mb(ctx)
        if args.trace:
            values = {name: 0.0 for name in metrics.PER_LAYER}
            values.update(workload.per_layer())
            values["trace.overhead_s"] = tracer.overhead_s
            units = metrics.PER_LAYER
            tracer.write(ROOT / WORK_DIR / f"trace-{args.workload}-seed{args.seed}.json")
        else:
            values = dict(workload.end_to_end(), setup_s=setup_s, mem_live_mb=mem_mb)
            units = metrics.END_TO_END
    finally:
        _stop_spark(spark)
        log("spark stopped")
    if set(values) != set(units):
        raise RuntimeError(f"metrics out of step with perfbench.metrics: {set(values) ^ set(units)}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if ctx.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
