"""The benchmark's own tests: seeded determinism, op records, smoke runs.

Run from the repository root:  python -m pytest perfbench/tests -q
The smoke runs start Spark at a tiny scale and take a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(BENCH))

import run  # noqa: E402
import workloads as wl  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SMOKE = ["--seed", "7", "--seconds", "1", "--scale", "0.02"]
MAINTAIN_KINDS = ("append", "compact")


def _bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _stream(workload: str, seed: int, blocks: int = 3) -> list[tuple]:
    gen = wl.WORKLOADS[workload](None).blocks(np.random.default_rng([seed, 2]))
    return [(op.op_id, op.kind, repr(op.params)) for _ in range(blocks) for op in next(gen)]


@pytest.mark.parametrize("workload", sorted(wl.WORKLOADS))
def test_same_seed_same_op_stream(workload):
    assert _stream(workload, 5) == _stream(workload, 5)
    assert _stream(workload, 5) != _stream(workload, 6)


@pytest.mark.parametrize("gen", [wl.uniform_points, wl.hot_points])
def test_same_seed_same_inputs(gen):
    a = gen(np.random.default_rng(3), 5000)
    b = gen(np.random.default_rng(3), 5000)
    c = gen(np.random.default_rng(4), 5000)
    assert all(np.array_equal(p, q) for p, q in zip(a, b))
    assert not np.array_equal(a[0], c[0])


def test_hot_points_shape():
    x, y = wl.hot_points(np.random.default_rng(0), 10_000)
    assert (x == np.float32(1050.0)).mean() >= wl.MIDLINE_SHARE
    _, counts = np.unique(np.stack([x, y]), axis=1, return_counts=True)
    assert counts.max() >= wl.HOT_SHARE * len(x)


def test_benchmark_json_matches_the_command():
    assert [w["name"] for w in SPEC["workloads"]] == list(wl.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "build", *SMOKE, cwd=tmp_path)
    assert proc.returncode != 0
    assert "{" not in proc.stdout


@pytest.fixture(scope="module", params=sorted(wl.WORKLOADS))
def traced(request):
    res = _result(_bench("--workload", request.param, "--trace", "1", *SMOKE))
    trace = json.loads((ROOT / ".perfbench_work" / "traces"
                        / f"{request.param}-seed7.json").read_text())
    return res, trace


def test_traced_smoke_run_is_correct(traced):
    res, _ = traced
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(run.PER_LAYER)


def test_every_op_record_carries_stage_metrics_and_noop_flag(traced):
    _, trace = traced
    assert trace["ops"]
    for rec in trace["ops"]:
        stages = [s for j in rec["jobs"] for s in j["stages"]]
        assert stages, rec["op_id"]
        assert all(s["run_ms"] >= 0 and "cpu_ms" in s for s in stages)
        # maintenance ops are materialized by their own parquet writes
        assert rec["noop"] is (rec["kind"] not in MAINTAIN_KINDS), rec["op_id"]


def test_untraced_smoke_run_reports_every_end_to_end_metric():
    res = _result(_bench("--workload", "build", "--trace", "0", *SMOKE))
    assert res["correct"] and res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
