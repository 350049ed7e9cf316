#!/usr/bin/env python3
"""Run every workload over several seeds and record the baseline.

    python3 perfbench/baseline.py --seeds 10 --out perfbench/baseline.json

Each run is ``run.py --trace 0`` with its own seed; then one
``--trace 1`` run per workload gives the per-layer table. For each
end-to-end metric the file keeps the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread (IQR / median), next to
a stamp of the host the runs were made on.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           f"{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def host_stamp() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    import pyspark
    return {"cpus": len(os.sched_getaffinity(0)), "cpu_model": model,
            "mem_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "date": time.strftime("%Y-%m-%d", time.gmtime())}


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out", type=Path, default=None)
    args = ap.parse_args()
    out = {"host": host_stamp(), "run_seconds": spec["run_seconds"],
           "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in range(args.seeds):
            t = time.monotonic()
            runs.append(run_once(w, seed, spec["run_seconds"], 0))
            print(f"{w} seed {seed}: {time.monotonic() - t:.0f} s, correct "
                  f"{runs[-1]['correct']}", file=sys.stderr, flush=True)
        e2e = {m["name"]: summarize([r["metrics"][m["name"]]["value"]
                                     for r in runs])
               for m in spec["end_to_end"]}
        entry = {"failed": sum(r["failed"] for r in runs),
                 "attempted": sum(r["attempted"] for r in runs),
                 "end_to_end": e2e}
        traced = run_once(w, 0, spec["run_seconds"], 1)
        entry["per_layer"] = {k: v["value"] for k, v in
                              traced["metrics"].items()}
        out["workloads"][w] = entry
        for name, s in e2e.items():
            print(f"{w:14} {name:12} median {s['median']:12.4f}  "
                  f"spread {s['spread']:.3f}", flush=True)
    if args.out:
        args.out.write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
