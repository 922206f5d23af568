"""Steadiness check: run workloads over several seeds and report, for each
end-to-end metric, the median and the quartile spread as a share of the
median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --seeds 10 [--sets 2] [--workload lake_serve ...]

A metric passes when its spread is within its bound (``setup_s`` included);
the report also flags spreads below a third of the bound, the margin the
benchmark is tuned for. With ``--sets 2`` two sets of runs, on distinct
seeds, are interleaved run by run, so both see the same host; each metric's
second median must then not be worse than the first by more than the bound.
The exit code is 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def run_once(workload: str, seed: int, seconds: int, trace: int = 0, extra=()) -> dict:
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), *extra,
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode in (0, 1) and lines else None
    return {"returncode": proc.returncode, "wall_s": wall, "result": result, "stderr": proc.stderr}


def host_loop_s() -> float:
    """Seconds for a fixed pure-Python loop: a gauge of the host's speed at
    the time of a run, printed beside it so drift can be told from change."""
    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i * i
    return time.perf_counter() - t0


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def summarize(runs: list[dict], metrics: list[dict]) -> dict[str, dict]:
    """metric -> {median, spread, bound, within, target} over the runs' results."""
    out = {}
    for m in metrics:
        values = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        s = spread(values)
        out[m["name"]] = {
            "median": statistics.median(values),
            "spread": s,
            "bound": m["bound"],
            "within": s <= m["bound"],
            "target": s < m["bound"] / 3,
        }
    return out


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    change = (second - first) / first
    return change if better == "lower" else -change


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--sets", type=int, choices=(1, 2), default=1)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    args = p.parse_args(argv)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]
    runs = {(w, s): [] for w in workloads for s in range(args.sets)}
    for i in range(args.seeds):
        for s in range(args.sets):
            for workload in workloads:
                seed = args.first_seed + s * args.seeds + i
                host = host_loop_s()
                r = run_once(workload, seed, spec["run_seconds"])
                if r["result"] is None or not r["result"]["correct"]:
                    print(r["stderr"][-2000:], file=sys.stderr)
                    print(f"{workload} seed {seed}: failed (exit {r['returncode']})")
                    return 1
                runs[workload, s].append(r)
                print(json.dumps({"workload": workload, "set": s + 1, "seed": seed,
                                  "wall_s": round(r["wall_s"], 1),
                                  "host_loop_s": round(host, 3),
                                  **{k: v["value"] for k, v in r["result"]["metrics"].items()}}),
                      flush=True)
    ok = True
    for workload in workloads:
        sets = [summarize(runs[workload, s], metrics) for s in range(args.sets)]
        walls = [r["wall_s"] for s in range(args.sets) for r in runs[workload, s]]
        print(f"{workload}: wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for m in metrics:
            name = m["name"]
            line = f"  {name:18s}"
            for s in sets:
                st = s[name]
                ok &= st["within"]
                flag = "ok" if st["target"] else "ok, above a third" if st["within"] else "OVER"
                line += f"  median {st['median']:11.4f} spread {st['spread']:6.3f} ({flag})"
            if len(sets) == 2:
                w = worse_by(sets[0][name]["median"], sets[1][name]["median"], m["better"])
                ok &= w <= m["bound"]
                line += f"  2nd worse by {w:+.3f}{'' if w <= m['bound'] else ' OVER'}"
            print(line + f"  bound {m['bound']:.2f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
