"""The fast mode: each workload once (its set-up and a single pass) on
the fixture inputs, checking the output contract."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--fast"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_fast_run_prints_every_end_to_end_metric(workload):
    out = run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    for name, m in out["metrics"].items():
        assert m["unit"] == units[name] and m["value"] > 0


def test_fast_traced_run_prints_every_per_layer_metric():
    out = run("star_query", 1)
    assert out["correct"] is True
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    m = {k: v["value"] for k, v in out["metrics"].items()}
    # both warehouse builds, the pipeline refresh and materialize_warehouse,
    # fill the cache
    assert m["model.star.builds_with_fill"] == 2
    assert m["pipelines.warehouse_pipeline.fill_stages"] > 0
    assert m["orchestration.dag.failed_tasks"] == 0
    assert m["orchestration.dag.attempts"] >= m["orchestration.dag.tasks"] > 0
    assert m["sources.files_written"] > 0


def test_fast_traced_corpus_run_checks_the_ingest_path():
    out = run("corpus_curation", 1)
    assert out["correct"] is True and out["failed"] == 0
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["pipelines.ingest_pipeline.base_s"] > 0
    assert m["pipelines.ingest_pipeline.batch_s"] > 0
    assert 0 < m["pipelines.ingest_pipeline.kept_ratio"] <= 1
