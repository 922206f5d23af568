"""What every workload shares: the run context, output checks, progress log."""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

_T0 = time.perf_counter()  # first import of this module, at process start
MB = 1 << 20


def since_start() -> float:
    return time.perf_counter() - _T0


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the process started."""
    print(f"perfbench [{since_start():7.2f}s] {msg}", file=sys.stderr, flush=True)


def check(ok: bool, what: str) -> bool:
    if not ok:
        print(f"perfbench: check failed: {what}", file=sys.stderr)
    return ok


@dataclass
class Context:
    """What a workload gets from the harness."""

    work: Path
    seed: int
    tiny: bool
    spark: object = None  # set once the session is up, before setup()
    tracer: object = None
    attempted: int = 0
    failed: int = 0
    live_heap_mb: float = 0.0  # most JVM heap in use right after a collection

    def quiesce(self) -> None:
        """Untimed, around each Spark-heavy operation (as bench.py does between
        runs): collect garbage in the JVM, so each operation starts from the
        same heap state rather than paying for its predecessors, and note the
        heap still in use, which is what the program holds on to."""
        jvm = self.spark._jvm
        jvm.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        self.live_heap_mb = max(self.live_heap_mb, heap.getUsed() / MB)

    def attempt(self, op, *args) -> bool:
        """Run one operation; it returns whether its outputs checked out. An
        exception or a failed check counts the operation as failed."""
        self.attempted += 1
        try:
            ok = bool(op(*args))
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
        return ok
