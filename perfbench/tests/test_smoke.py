"""Smoke test of the benchmark at a tiny size (2 micro-batches of 50 documents,
10k taxi rows). Runs the real command in subprocesses:

    python -m pytest perfbench/tests -q      # from the repository root, ~5 min
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, taxi  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, seed: int, trace: int = 0, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def report(workload: str, seed: int) -> dict:
    with open(os.path.join(ROOT, ".perfbench", f"report-{workload}-{seed}.json")) as fh:
        return json.load(fh)


def expect_metrics(out: dict, spec: list[dict]) -> None:
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_emitted_and_checked(workload):
    out = result(run(workload, seed=1))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    expect_metrics(out, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert report(workload, 1)["checks"] > 0


#: per-layer metrics each workload must move when traced
EXERCISED = {
    "taxi_dag": ["sources.ingest_s", "sources.write_s", "sources.bytes_written",
                 "sources.read_calls", "plans.dag_run_s", "plans.models_built",
                 "plans.dq_tests", "ml.train_s", "ml.predict_s", "spark.plan_s",
                 "spark.jobs"],
    "stream_intake": ["streaming.trigger_s", "streaming.add_batch_s",
                      "streaming.dedup_sink_s", "streaming.rollup_sink_s",
                      "streaming.batch_jobs", "streaming.kept_ratio",
                      "streaming.index_bytes", "operators.calls", "materialize.calls",
                      "spark.jobs"],
}


@pytest.mark.parametrize("workload", sorted(EXERCISED))
def test_traced_run_emits_per_layer_metrics_and_spans(workload):
    out = result(run(workload, seed=1, trace=1))
    assert out["correct"]
    expect_metrics(out, SPEC["per_layer"])
    for name in EXERCISED[workload]:
        assert out["metrics"][name]["value"] > 0, name
    with open(os.path.join(ROOT, ".perfbench", f"spans-{workload}-1.json")) as fh:
        spans = json.load(fh)["spans"]
    assert spans and all(s["end"] >= s["start"] for s in spans)


def test_second_seed_changes_inputs_and_still_passes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    ta = datagen.taxi_csv(str(a / "t.csv"), 1, 10_000)
    tb = datagen.taxi_csv(str(b / "t.csv"), 2, 10_000)
    assert ta == tb and (a / "t.csv").read_bytes() != (b / "t.csv").read_bytes()
    assert datagen.stream_docs(1, 2, 50) != datagen.stream_docs(2, 2, 50)
    out = result(run("stream_intake", seed=2))
    assert out["correct"] and out["failed"] == 0


def test_check_rejects_a_wrong_result():
    def bench(ingested=10, core=8):
        counts = {"Texi_data": ingested, "core_texi": core}
        table = lambda name: SimpleNamespace(count=lambda: counts[name])  # noqa: E731
        return SimpleNamespace(checks=0, spark=SimpleNamespace(table=table))

    inp = {"rows": 10, "expected_core": 8}
    dq = [SimpleNamespace(test=f"t{i}", passed=True) for i in range(5)]
    out = {"dq": dq, "fares": [1.0] * len(taxi.REQUESTS)}
    assert taxi._check(bench(), inp, out) is None
    assert taxi._check(bench(ingested=9), inp, out)[0] == "ingest"
    assert taxi._check(bench(core=9), inp, out)[0] == "dag"
    failing = [*dq[:4], SimpleNamespace(test="t4", passed=False)]
    assert taxi._check(bench(), inp, {**out, "dq": failing})[0] == "dq"
    assert taxi._check(bench(), inp, {**out, "fares": [float("nan")] * 3})[0] == "predict"


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("taxi_dag", seed=1, cwd=str(tmp_path))
    assert proc.returncode != 0 and proc.stdout.strip() == ""
    assert not glob.glob(str(tmp_path / ".perfbench" / "report-*"))
