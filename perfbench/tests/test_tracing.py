"""Spans, call-site labelling and the kernel-stage wrappers, without
Spark."""

import sys
import time

import tracing


def test_self_time_subtracts_direct_children():
    s = tracing.Spans()
    with s.span("root"):
        time.sleep(0.02)
        with s.span("a"):
            time.sleep(0.02)
            with s.span("b"):
                time.sleep(0.02)
        with s.span("a"):
            time.sleep(0.01)
    selfs, tot = s.self_times(), s.totals()
    assert abs(sum(selfs.values()) - tot["root"]) < 1e-9
    assert abs(selfs["a"] - (tot["a"] - tot["b"])) < 1e-9
    assert selfs["b"] == tot["b"]
    assert s.current is None


class _FakeSc:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def getLocalProperty(self, k):
        return self.props.get(k)


def _call_from(path, func, line_text, callback):
    """Run ``callback`` from a function ``func`` compiled as if it lived
    at ``path`` on a line reading ``line_text``."""
    src = f"def {func}(cb):\n    return cb()  # {line_text}\n"
    ns = {}
    exec(compile(src, str(path), "exec"), ns)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(src)
    return ns[func](callback)


def test_label_uses_innermost_matching_program_frame(tmp_path):
    spans = tracing.Spans()
    labels = tracing.ActionLabels(_FakeSc(), tmp_path, spans)
    grab = lambda: labels.label_for(sys._getframe(1))  # noqa: E731
    got = _call_from(tmp_path / "osm_sidewalkreator_spark/streaming/"
                     "checkpoint.py", "run_tiled_job", "fp_df.collect()",
                     grab)
    assert got.startswith("checkpoint.census|osm_sidewalkreator_spark/")
    got = _call_from(tmp_path / "job.py", "main", "f4326.write", grab)
    assert got.startswith("export|job.py:2")
    # no program frame: the bench span names the layer
    with spans.span("joins.knn"):
        assert labels.label_for(sys._getframe(0)).startswith("joins.knn|")


def test_wrapper_sets_and_restores_the_label(tmp_path):
    sc = _FakeSc()
    labels = tracing.ActionLabels(sc, tmp_path, tracing.Spans())
    seen = []
    wrapped = labels._wrap(lambda: seen.append(sc.props[
        tracing.LABEL_PROP]))
    sc.setLocalProperty(tracing.LABEL_PROP, "outer|x")
    wrapped()
    assert seen[0].startswith("unlabelled|")
    assert sc.props[tracing.LABEL_PROP] == "outer|x"


def test_kernel_stage_wrappers_install_and_restore():
    from osm_sidewalkreator_spark.geometry import morph, noding
    from osm_sidewalkreator_spark.plans import kernels
    before = (kernels.split_streets, noding.node_segments,
              morph.node_segments, morph.ConvexSet.query)
    spans = tracing.Spans()
    ks = tracing.KernelStages(spans)
    ks.install()
    try:
        assert kernels.split_streets is not before[0]
        # the name morph imported is wrapped too
        assert morph.node_segments is noding.node_segments
        assert noding.node_segments is not before[1]
    finally:
        ks.remove()
    assert (kernels.split_streets, noding.node_segments,
            morph.node_segments, morph.ConvexSet.query) == before
