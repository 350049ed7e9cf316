"""The event-log parser on a tiny log recorded from a traced
sidewalk_job run (trimmed to seven jobs and three tasks per stage)."""

from pathlib import Path

import pytest

import eventlog

SAMPLE = Path(__file__).parent / "fixtures" / "eventlog_sample.jsonl"


@pytest.fixture(scope="module")
def records():
    return eventlog.stage_records(eventlog.read_events(SAMPLE))


def test_unlabelled_jobs_are_ignored(records):
    # job 0 ran before any traced pass: its stage carries no label
    assert 0 not in {r["stage"] for r in records}
    assert {r["stage"] for r in records} == {177, 178, 179, 184, 195, 206}


def test_leaf_scans_of_checkpoint_jobs_are_prep(records):
    layers = {r["stage"]: eventlog.layer_of(r) for r in records}
    assert layers == {177: "pipeline.prep", 178: "pipeline.prep",
                      179: "pipeline.prep", 184: "pipeline.prep",
                      195: "checkpoint.kernel", 206: "export"}


def test_layer_metrics(records):
    m = eventlog.layer_metrics(records)
    assert set(m) == {f"{layer}.{k}" for layer in eventlog.SPARK_LAYERS
                      for k, _ in eventlog.LAYER_METRICS}
    assert m["checkpoint.kernel.tasks"] == 3
    assert m["checkpoint.kernel.run_s"] == pytest.approx(0.594)
    assert m["checkpoint.kernel.python_s"] == pytest.approx(0.459)
    assert m["checkpoint.kernel.cpu_s"] == pytest.approx(0.063787761)
    # max / median task run time: 0.584 / 0.005
    assert m["checkpoint.kernel.task_skew"] == pytest.approx(116.8)
    assert m["pipeline.prep.tasks"] == 4
    assert m["pipeline.prep.python_s"] == pytest.approx(0.294)
    assert m["export.python_s"] == pytest.approx(0.707)
    assert m["joins.knn.run_s"] == 0 and m["joins.knn.task_skew"] == 0
    half = eventlog.layer_metrics(records, passes=2)
    assert half["export.run_s"] == pytest.approx(m["export.run_s"] / 2)


def test_attribution_counts_stray_labels(records):
    att = eventlog.attribution(records)
    assert att["cpu_frac"] == 1.0 and att["python_frac"] == 1.0
    stray = [dict(r, label="unlabelled|pass") if r["stage"] == 206 else r
             for r in records]
    att = eventlog.attribution(stray)
    assert att["python_frac"] == pytest.approx(1 - 0.707 / 1.46)
    assert list(att["unattributed"]) == ["unlabelled|pass"]
