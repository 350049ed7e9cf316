"""Per-layer metrics from a Spark event log.

Reads one uncompressed, non-rolling JSON-lines event log (the bench's
session sets ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``; Spark 4.1 would otherwise
write zstd rolling logs). Each job carries the ``perfbench.label``
local property ``"<layer>|<file>:<line>"`` set by
``tracing.ActionLabels``; jobs without it ran outside a traced pass and
are ignored.

A stage belongs to the first job that lists it (later AQE jobs list
the same, skipped, stage ids). In the checkpoint layers, a leaf stage
that scans files is the map side of scan + WKB decode + clip + tile
explode, so it is attributed to ``pipeline.prep``.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

LABEL_PROP = "perfbench.label"
PREP_SPLIT = ("checkpoint.census", "checkpoint.kernel")
PREP_LAYER = "pipeline.prep"
SPARK_LAYERS = ("pipeline.prep", "checkpoint.census", "checkpoint.kernel",
                "export", "joins.pip", "pages.geocode", "joins.knn",
                "entry.dem", "curate.labeled", "graph.components",
                "curate.chunks")
LAYER_METRICS = (("cpu_s", "s"), ("run_s", "s"), ("python_s", "s"),
                 ("python_mb", "MB"), ("shuffle_mb", "MB"),
                 ("spill_mb", "MB"), ("tasks", "count"),
                 ("task_skew", "ratio"))
_MB = 2.0 ** 20


def read_events(path: Path):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _task(event: dict) -> dict:
    tm = event.get("Task Metrics") or {}
    acc = {}
    for a in (event.get("Task Info") or {}).get("Accumulables", ()):
        try:
            acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update", 0))
        except (TypeError, ValueError):
            pass
    rd = tm.get("Shuffle Read Metrics") or {}
    wr = tm.get("Shuffle Write Metrics") or {}
    return {
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "run_s": tm.get("Executor Run Time", 0) / 1e3,
        "python_s": acc.get("time to run Python workers", 0) / 1e3,
        "python_mb": (acc.get("data sent to Python workers", 0)
                      + acc.get("data returned from Python workers", 0))
        / _MB,
        "shuffle_mb": (rd.get("Remote Bytes Read", 0)
                       + rd.get("Local Bytes Read", 0)
                       + wr.get("Shuffle Bytes Written", 0)) / _MB,
        "spill_mb": (tm.get("Memory Bytes Spilled", 0)
                     + tm.get("Disk Bytes Spilled", 0)) / _MB,
    }


def stage_records(events) -> list[dict]:
    """One record per executed stage: its label, leaf/scan flags and
    its tasks' metrics."""
    job_label: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    info: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            label = (e.get("Properties") or {}).get(LABEL_PROP)
            if label:
                job_label[e["Job ID"]] = label
            for sid in e.get("Stage IDs", ()):
                stage_job.setdefault(sid, e["Job ID"])
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            info[si["Stage ID"]] = si
        elif ev == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]].append(_task(e))
    out = []
    for sid, ts in tasks.items():
        label = job_label.get(stage_job.get(sid))
        if label is None:
            continue
        si = info.get(sid, {})
        rdds = {r.get("Name", "") for r in si.get("RDD Info", ())}
        out.append({"stage": sid, "label": label,
                    "leaf": not si.get("Parent IDs"),
                    "scan": "FileScanRDD" in rdds, "tasks": ts})
    return out


def layer_of(rec: dict) -> str:
    layer = rec["label"].split("|", 1)[0]
    if layer in PREP_SPLIT and rec["leaf"] and rec["scan"]:
        return PREP_LAYER
    return layer


def layer_metrics(records: list[dict], layers=SPARK_LAYERS,
                  passes: int = 1) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer (zeros where a layer did not
    run), totals divided by ``passes``; ``task_skew`` is max / median
    task run time in the layer's stage with the most run time."""
    by_layer: dict[str, list] = defaultdict(list)
    for rec in records:
        by_layer[layer_of(rec)].append(rec)
    out: dict[str, float] = {}
    for layer in layers:
        recs = by_layer.get(layer, [])
        ts = [t for r in recs for t in r["tasks"]]
        for key in ("cpu_s", "run_s", "python_s", "python_mb",
                    "shuffle_mb", "spill_mb"):
            out[f"{layer}.{key}"] = sum(t[key] for t in ts) / passes
        out[f"{layer}.tasks"] = len(ts) / passes
        skew = 0.0
        if recs:
            top = max(recs, key=lambda r: sum(t["run_s"] for t in r["tasks"]))
            runs = [t["run_s"] for t in top["tasks"]]
            med = statistics.median(runs)
            skew = max(runs) / med if med > 0 else 1.0
        out[f"{layer}.task_skew"] = skew
    return out


def attribution(records: list[dict], layers=SPARK_LAYERS) -> dict:
    """Share of labelled executor CPU and Python-worker time that lands
    in a named layer, plus the unattributed labels."""
    tot = {"cpu_s": 0.0, "python_s": 0.0}
    named = {"cpu_s": 0.0, "python_s": 0.0}
    stray: dict[str, float] = defaultdict(float)
    for rec in records:
        layer = layer_of(rec)
        for key in tot:
            v = sum(t[key] for t in rec["tasks"])
            tot[key] += v
            if layer in layers:
                named[key] += v
            else:
                stray[rec["label"]] += v
    return {"cpu_frac": named["cpu_s"] / tot["cpu_s"] if tot["cpu_s"] else 1.0,
            "python_frac": (named["python_s"] / tot["python_s"]
                            if tot["python_s"] else 1.0),
            "unattributed": dict(stray)}
