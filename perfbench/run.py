#!/usr/bin/env python3
"""Benchmark of the shipped paths: the resumable sidewalk job, the
page joins and page curation.

    python3 perfbench/run.py --workload sidewalk_job --seed 0 \\
        --seconds 25 --trace 0

Run from the repository root. One process, one local Spark session on
every core (``local[nproc]``), driver memory well below host RAM, Spark
scratch and the event log under ``perfbench/.work/``. The run:

1. starts the session (``session.get_spark``) and writes the workload's
   seeded inputs three times (``gen.py``); session start plus the median
   input time is ``setup_s``;
2. runs timed passes until ``--seconds`` have passed, each starting
   with the program's module caches cold, and checks every pass's
   outputs; then runs the once-per-run checks (DuckDB oracles, digests
   recorded for the default seed). There is no warm-up pass: the first
   pass runs in a fresh JVM with fresh Python workers, as a
   spark-submit of the job does, and with ``run_seconds`` below one
   pass it is the only timed pass. A warm-up pass would cost about as
   much as the rest of the run, and a full series (22 runs per
   workload) has to fit in under an hour;
3. with ``--trace 1`` runs an untraced pass (cold), then a traced pass
   that labels every Spark action with its call site and layer; the
   event log gives per-layer executor metrics for the traced pass, and
   the time spent labelling over the traced pass time is the tracing
   overhead. ``sidewalk_job`` also replays sample tiles through the
   tile kernel with per-stage spans.

Human-readable tables go to stderr; the last stdout line is the JSON
result ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
REQUIRED = ("job.py", "job_curate.py", "__spark_entry__.py",
            "osm_sidewalkreator_spark/session.py")
SETUP_REPS = 3
WATCHDOG_S = 170.0
DRIVER_MEM_GB = 3

END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("items_per_s", "1/s"),
              ("cpu_s", "s"), ("peak_rss_mb", "MB"))
COUNTS = (("checkpoint.tiles_committed", "count"),
          ("checkpoint.tiles_recomputed", "count"),
          ("checkpoint.tile_s_p50", "s"), ("checkpoint.tile_s_max", "s"),
          ("pipeline.halo_ratio", "ratio"))
TRACE_EXTRA = (("kernels.tiles", "count"), ("kernels.tile_pipeline_s", "s"),
               ("kernels.other.self_s", "s"),
               ("trace.overhead_frac", "ratio"),
               ("trace.cpu_attributed_frac", "ratio"),
               ("trace.python_attributed_frac", "ratio"))


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric name and unit, in report order."""
    import eventlog
    import tracing
    out = [(f"{layer}.{m}", u) for layer in eventlog.SPARK_LAYERS
           for m, u in eventlog.LAYER_METRICS]
    out += list(COUNTS)
    out += [(f"{tracing.stage_name(mod, attr)}.self_s", "s")
            for mod, attr in tracing.KERNEL_STAGES]
    return out + list(TRACE_EXTRA)


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def set_environment(work: Path) -> None:
    """Host fit, set before pyspark or the package is imported."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp", "eventlog", "warehouse", "synth"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{DRIVER_MEM_GB}g"
    os.environ["SPARK_GRAFT_SYNTH_ROOT"] = str(work / "synth")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # also reaches the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    confs = {
        "spark.local.dir": work / "spark-local",
        "spark.sql.warehouse.dir": work / "warehouse",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM_GB}g",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{work / 'eventlog'}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    sys.path[:0] = [str(ROOT), str(HERE)]


class Meter:
    """Wall time per phase, process-tree CPU and peak RSS of one pass."""

    def __init__(self, sampler):
        self.sampler = sampler
        self.wall: dict[str, float] = {}
        self.cpu_s = 0.0
        self.peak_mb = 0.0

    @contextmanager
    def phase(self, name: str):
        import proctree
        self.sampler.reset()
        c0, t0 = proctree.tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = time.perf_counter() - t0
            self.cpu_s += proctree.tree_cpu_s() - c0
            self.peak_mb = max(self.peak_mb, self.sampler.peak_mb)

    @property
    def pass_s(self) -> float:
        return sum(self.wall.values())


def start_watchdog() -> threading.Timer:
    def abort():
        import proctree
        log(f"perfbench: no result after {WATCHDOG_S:.0f} s; aborting")
        proctree.kill_descendants(5.0)
        os._exit(3)
    timer = threading.Timer(WATCHDOG_S, abort)
    timer.daemon = True
    timer.start()
    return timer


def stop_spark(spark) -> None:
    """Stop the session, end the JVM gateway and wait for every
    process this run started."""
    import proctree
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()   # the gateway JVM exits on EOF
            proc.wait(timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            pass                 # the kill below still runs
    proctree.kill_descendants()


def run(args) -> dict:
    t_proc = time.perf_counter()
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    set_environment(work)

    import eventlog
    import proctree
    import tracing
    import workloads as W
    from osm_sidewalkreator_spark.session import get_spark

    age0 = proctree.process_age_s() - (time.perf_counter() - t_proc)
    sampler = proctree.RssSampler().start()
    spark = get_spark(app=f"perfbench-{args.workload}")
    session_s = age0 + time.perf_counter() - t_proc
    checks: list = []
    passes: list[Meter] = []
    traced: list[Meter] = []
    counts: dict[str, float] = {}
    kernel: dict[str, float] = {}
    try:
        wl = W.WORKLOADS[args.workload](spark, work, work / "synth",
                                        args.seed, args.size)
        gen_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            sizes = wl.prepare()
            gen_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(gen_s)
        log(f"[{args.workload}] inputs {sizes}; session {session_s:.2f} s, "
            f"inputs {statistics.median(gen_s):.2f} s")

        spans = tracing.Spans()
        labels = tracing.ActionLabels(spark.sparkContext, ROOT, spans)
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            trace_this = args.trace and i % 2 == 1
            meter = Meter(sampler)
            if trace_this:
                labels.install()
                wl.spans = spans
            try:
                checks += wl.run_pass(i, meter)
            except Exception:  # noqa: BLE001 - a failed pass is counted
                log(traceback.format_exc())
                checks.append((f"pass_{i}", False, "exception"))
                meter = None
            finally:
                if trace_this:
                    labels.remove()
                    wl.spans = None
            if meter is not None:
                (traced if trace_this else passes).append(meter)
                log(f"[{args.workload}] pass {i}{' traced' if trace_this else ''}: "
                    + ", ".join(f"{k} {v:.3f}" for k, v in meter.wall.items())
                    + f", cpu {meter.cpu_s:.2f} s, rss {meter.peak_mb:.0f} MB")
            i += 1
            if time.perf_counter() >= deadline and (not args.trace or i >= 2):
                break
        checks += wl.final_checks()
        wl.finish(bool(args.trace))
        if args.trace:
            counts = dict(wl.counts)
            kspans = tracing.Spans()
            kernel["kernels.tiles"] = wl.replay(kspans)
            selfs = kspans.self_times()
            for mod, attr in tracing.KERNEL_STAGES:
                name = tracing.stage_name(mod, attr)
                kernel[f"{name}.self_s"] = selfs.get(name, 0.0)
            kernel["kernels.other.self_s"] = selfs.get(
                "kernels.tile_pipeline", 0.0)
            kernel["kernels.tile_pipeline_s"] = kspans.totals().get(
                "kernels.tile_pipeline", 0.0)
            log(f"[{args.workload}] action labels: "
                + json.dumps(labels.labels, indent=1))
    finally:
        stop_spark(spark)
        sampler.stop()

    if not passes or (args.trace and not traced):
        raise RuntimeError("no timed pass completed")
    attempted = len(checks)
    failed = sum(1 for c in checks if not c[1])
    for name, ok, detail in checks:
        if not ok:
            log(f"[{args.workload}] CHECK FAILED {name}: {detail}")

    def items_per_s(m: Meter) -> float:
        return wl.items / (m.wall[wl.items_phase] if wl.items_phase
                           else m.pass_s)

    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median([m.pass_s for m in passes]),
        "items_per_s": statistics.median([items_per_s(m) for m in passes]),
        "cpu_s": statistics.median([m.cpu_s for m in passes]),
        "peak_rss_mb": statistics.median([m.peak_mb for m in passes]),
    }
    phases = {k: statistics.median([m.wall[k] for m in passes])
              for k in passes[0].wall}
    report(args.workload, e2e, phases, len(passes), attempted, failed)
    if not args.trace:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    else:
        logs = list((work / "eventlog").iterdir())
        records = eventlog.stage_records(eventlog.read_events(logs[0]))
        layer = eventlog.layer_metrics(records, passes=len(traced))
        att = eventlog.attribution(records)
        # the labelling's own time: the untraced pass is cold, so the
        # difference between the two passes would mostly be warm-up
        overhead = labels.overhead_s / sum(m.pass_s for m in traced)
        values = {**layer, **counts, **kernel,
                  "trace.overhead_frac": overhead,
                  "trace.cpu_attributed_frac": att["cpu_frac"],
                  "trace.python_attributed_frac": att["python_frac"]}
        if att["unattributed"]:
            log(f"[{args.workload}] unattributed: {att['unattributed']}")
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_metrics()}
        report_layers(args.workload, metrics)
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


# the stderr table's name for each workload's items_per_s
ITEM_NAMES = {"sidewalk_job": "sidewalk_segments_per_s",
              "pages": "pages_per_s"}


def report(workload, e2e, phases, n, attempted, failed) -> None:
    log(f"\n{workload}: {n} timed passes (medians)")
    rows = [("setup_s", e2e["setup_s"], "s")]
    rows += [(k, v, "s") for k, v in phases.items()]
    rows += [("pass_s", e2e["pass_s"], "s"),
             (ITEM_NAMES[workload], e2e["items_per_s"], "1/s"),
             ("cpu_s", e2e["cpu_s"], "CPU-s"),
             ("peak_rss_mb", e2e["peak_rss_mb"], "MB"),
             ("failed_frac", failed / max(attempted, 1), "ratio")]
    for name, v, unit in rows:
        log(f"  {name:<26} {v:>12.4f} {unit}")


def report_layers(workload, metrics) -> None:
    import eventlog
    log(f"\n{workload}: per-layer (per traced pass)")
    keys = [m for m, _ in eventlog.LAYER_METRICS]
    log("  " + f"{'layer':<20}" + "".join(f"{k:>11}" for k in keys))
    for layer in eventlog.SPARK_LAYERS:
        vals = [metrics[f"{layer}.{k}"]["value"] for k in keys]
        if any(vals):
            log("  " + f"{layer:<20}" + "".join(f"{v:>11.3f}" for v in vals))
    for name, m in metrics.items():
        if not name.startswith(eventlog.SPARK_LAYERS) and m["value"]:
            log(f"  {name:<44} {m['value']:>12.4f} {m['unit']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("sidewalk_job", "pages"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full",
                    help="input scale; 'small' is for the smoke test")
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not (ROOT / p).exists()]
    if missing:
        log(f"perfbench: not a checkout of the program (missing "
            f"{', '.join(missing)})")
        return 2
    start_watchdog()
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - report and exit non-zero
        log(traceback.format_exc())
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
