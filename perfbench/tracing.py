"""Spans, Spark action labels and the kernel-stage replay.

Everything here observes the program from outside:

* ``Spans`` keeps (name, start, end, parent) records in memory; a
  span's self time is its duration minus the time its direct children
  cover.
* ``ActionLabels`` wraps the PySpark action entry points (collect,
  count, writes, reads, ...) so every Spark job carries a local
  property naming the program ``file:line`` that issued it and the
  layer that call site maps to. Spark 4.1 stage names only say
  ``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``, so
  the event log cannot tell the layers apart without this.
* ``KernelStages`` swaps the module attributes that
  ``kernels.tile_pipeline`` calls for span-recording wrappers while
  sample tiles replay through ``pipeline.make_tile_kernel`` in this
  process.
"""

from __future__ import annotations

import functools
import linecache
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

LABEL_PROP = "perfbench.label"


class Spans:
    def __init__(self):
        self.records: list[list] = []   # [name, start, end, parent_idx]
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.records)
        parent = self._stack[-1] if self._stack else -1
        self.records.append([name, time.perf_counter(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.records[idx][2] = time.perf_counter()

    @property
    def current(self) -> str | None:
        return self.records[self._stack[-1]][0] if self._stack else None

    def self_times(self) -> dict[str, float]:
        child = [0.0] * len(self.records)
        for name, t0, t1, parent in self.records:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for (name, t0, t1, _), c in zip(self.records, child):
            out[name] = out.get(name, 0.0) + (t1 - t0) - c
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, t0, t1, _ in self.records:
            out[name] = out.get(name, 0.0) + (t1 - t0)
        return out


# ---------------- Spark action labels ----------------

# (path suffix, function, substring of the source line or None, layer);
# the innermost program frame that matches a rule names the layer
CALL_SITE_RULES = [
    ("osm_sidewalkreator_spark/streaming/checkpoint.py", "run_tiled_job",
     "fp_df", "checkpoint.census"),
    ("osm_sidewalkreator_spark/streaming/checkpoint.py", "run_tiled_job",
     "man_df", "checkpoint.census"),
    ("osm_sidewalkreator_spark/streaming/checkpoint.py", "run_tiled_job",
     None, "checkpoint.kernel"),
    ("osm_sidewalkreator_spark/sources/geojson.py", None, None, "export"),
    ("osm_sidewalkreator_spark/pages.py", None, None, "pages.geocode"),
    ("osm_sidewalkreator_spark/operators/graph.py", None, None,
     "graph.components"),
    ("job.py", "main", "f4326", "export"),
    ("job.py", "main", "feats", "export"),
    ("job.py", "main", "per_block", "joins.pip"),
    ("job.py", "main", "blocks", "joins.pip"),
    ("job.py", "main", "pages_geo", "joins.pip"),
    ("job.py", "main", None, "pipeline.prep"),
    ("job_curate.py", "main", "chunk", "curate.chunks"),
    ("job_curate.py", "main", "written", "curate.chunks"),
    ("job_curate.py", "main", "card", "curate.chunks"),
    ("job_curate.py", "main", None, "curate.labeled"),
    ("osm_sidewalkreator_spark/plans/curate.py", None, None,
     "curate.labeled"),
]


def _patch_targets():
    from pyspark import RDD
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame
    return [
        (DataFrame, ("collect", "count", "toPandas", "first", "head",
                     "take", "tail", "toLocalIterator", "foreach",
                     "foreachPartition", "isEmpty", "show", "checkpoint",
                     "localCheckpoint", "toArrow")),
        (DataFrameWriter, ("save", "parquet", "json", "csv", "text",
                           "orc", "saveAsTable", "insertInto")),
        (DataFrameReader, ("parquet", "load", "json", "csv", "text",
                           "orc", "table")),
        (RDD, ("collect", "count", "take", "first", "reduce", "fold",
               "aggregate", "treeAggregate", "foreach", "foreachPartition",
               "collectAsMap", "countByKey", "isEmpty", "sum", "max",
               "min", "saveAsTextFile", "toLocalIterator")),
    ]


class ActionLabels:
    """While installed, each Spark action runs with ``LABEL_PROP`` set
    to ``"<layer>|<file>:<line>"``."""

    def __init__(self, sc, root: Path, spans: Spans,
                 rules=CALL_SITE_RULES):
        self.sc = sc
        self.root = str(root.resolve()) + "/"
        self.bench = str(Path(__file__).resolve().parent) + "/"
        self.spans = spans
        self.rules = rules
        self.labels: dict[str, int] = {}
        self.overhead_s = 0.0      # time spent labelling, not in Spark
        self._saved: list = []
        self._local = threading.local()

    def label_for(self, frame) -> str:
        site = None
        while frame is not None:
            path = frame.f_code.co_filename
            if path.startswith(self.root) and not path.startswith(self.bench):
                rel = path[len(self.root):]
                line = linecache.getline(path, frame.f_lineno)
                if site is None:
                    site = f"{rel}:{frame.f_lineno}"
                for suffix, func, text, layer in self.rules:
                    if (rel.endswith(suffix)
                            and func in (None, frame.f_code.co_name)
                            and (text is None or text in line)):
                        return f"{layer}|{rel}:{frame.f_lineno}"
            frame = frame.f_back
        return f"{self.spans.current or 'unlabelled'}|{site or 'bench'}"

    def _wrap(self, fn):
        labels = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if getattr(labels._local, "busy", False):
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            label = labels.label_for(sys._getframe(1))
            labels.labels[label] = labels.labels.get(label, 0) + 1
            prev = labels.sc.getLocalProperty(LABEL_PROP)
            labels._local.busy = True
            labels.sc.setLocalProperty(LABEL_PROP, label)
            labels.overhead_s += time.perf_counter() - t0
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                labels.sc.setLocalProperty(LABEL_PROP, prev)
                labels._local.busy = False
                labels.overhead_s += time.perf_counter() - t1
        return wrapper

    def install(self) -> None:
        # jobs issued outside any wrapped entry point still carry a label
        self.sc.setLocalProperty(LABEL_PROP, "unlabelled|pass")
        for cls, names in _patch_targets():
            for name in names:
                if name in cls.__dict__:
                    orig = cls.__dict__[name]
                    self._saved.append((cls, name, orig))
                    setattr(cls, name, self._wrap(orig))

    def remove(self) -> None:
        self.sc.setLocalProperty(LABEL_PROP, None)
        while self._saved:
            cls, name, orig = self._saved.pop()
            setattr(cls, name, orig)


# ---------------- kernel stages ----------------

# stage spans: (module path, attribute); "Class.method" patches a method
KERNEL_STAGES = [
    ("osm_sidewalkreator_spark.plans.kernels", name) for name in (
        "shrink_widths_by_buildings", "split_streets", "protoblocks",
        "filter_protoblocks_by_existing_sidewalks", "dangle_keep_mask",
        "sidewalk_rings", "sidewalk_tag_zones",
        "clip_lines_outside_polygons", "merge_touching_lines",
        "crossings_and_kerbs")
] + [
    ("osm_sidewalkreator_spark.plans.refine", name) for name in (
        "snap_lines_to_reference", "split_lines_with_lines",
        "voronoi_split_block", "merge_small_stretches")
] + [
    ("osm_sidewalkreator_spark.geometry.morph", "region_boundary"),
    ("osm_sidewalkreator_spark.geometry.morph", "ConvexSet.query"),
    ("osm_sidewalkreator_spark.geometry.noding", "node_segments"),
]
PACKAGE = "osm_sidewalkreator_spark"


def stage_name(module: str, attr: str) -> str:
    return f"{module.rsplit('.', 1)[-1]}.{attr}"


class KernelStages:
    """Swap each stage function for a span-recording wrapper, in its
    defining module and in every package module that imported it by
    name, so both ``kernels.x(...)`` and ``from .m import x`` calls are
    seen."""

    def __init__(self, spans: Spans, stages=KERNEL_STAGES):
        self.spans = spans
        self.stages = stages
        self._saved: list = []

    def install(self) -> None:
        import importlib
        for modname, attr in self.stages:
            mod = importlib.import_module(modname)
            name = stage_name(modname, attr)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._saved.append((cls, meth, orig))
                setattr(cls, meth, self._wrap(orig, name))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name)
            for other in list(sys.modules.values()):
                if (getattr(other, "__name__", "").startswith(PACKAGE)
                        and getattr(other, attr, None) is orig):
                    self._saved.append((other, attr, orig))
                    setattr(other, attr, wrapped)

    def _wrap(self, fn, name):
        span = self.spans.span

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with span(name):
                return fn(*args, **kwargs)
        return wrapper

    def remove(self) -> None:
        while self._saved:
            obj, attr, orig = self._saved.pop()
            setattr(obj, attr, orig)
