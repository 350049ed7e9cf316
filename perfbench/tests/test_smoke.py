"""Small-scale end-to-end runs of both workloads through run.py, plus
the contract checks on BENCHMARK.json and the bare-directory failure.

Each run starts its own Spark session (about a minute apiece)."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd, *args, timeout=240):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


def test_benchmark_json_lists_what_run_reports():
    import run
    assert [w["name"] for w in SPEC["workloads"]] == ["sidewalk_job", "pages"]
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == \
        list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == \
        run.per_layer_metrics()


@pytest.mark.parametrize("workload", ["sidewalk_job", "pages"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_small_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--size", "small")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, p.stderr[-3000:]
    key = "per_layer" if trace == "1" else "end_to_end"
    assert list(res["metrics"]) == [m["name"] for m in SPEC[key]]
    if trace == "0":
        assert all(v["value"] > 0 for v in res["metrics"].values())
        return
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.cpu_attributed_frac"] >= 0.95
    assert m["trace.python_attributed_frac"] >= 0.95
    if workload == "sidewalk_job":
        assert m["checkpoint.tiles_recomputed"] >= 1
        assert m["checkpoint.kernel.python_s"] > 0
        stages = sum(v for k, v in m.items() if k.endswith(".self_s"))
        assert abs(stages - m["kernels.tile_pipeline_s"]) <= \
            0.05 * m["kernels.tile_pipeline_s"]
    else:
        assert m["joins.knn.run_s"] > 0 and m["curate.labeled.run_s"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(tmp_path, "--workload", "pages", "--seed", "0", "--seconds",
             "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
