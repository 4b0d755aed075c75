"""Self-check of the benchmark: every workload once in ``--smoke`` mode
(sf0.001 tables, one cold pass), untraced and traced.

    python3 -m pytest perfbench/test_perfbench.py -q

Takes a few minutes: each run starts its own Spark driver.
"""

from __future__ import annotations

import json
import pickle
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

sys.path[:0] = [str(BENCH), str(ROOT)]
import oracle  # noqa: E402
import run as bench  # noqa: E402


def smoke(workload: str, trace: int, cwd: Path = ROOT, script: Path = BENCH / "run.py"):
    return subprocess.run(
        [sys.executable, str(script), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, cwd=cwd, timeout=300,
    )


def result_of(out: subprocess.CompletedProcess) -> dict:
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def record_of(workload: str, trace: int) -> dict:
    path = bench.WORK / "records" / f"{workload}-sf{bench.SMOKE_SF}-trace{trace}-seed1.json"
    return json.loads(path.read_text())


def check_metrics(out: subprocess.CompletedProcess, specs: list[dict]) -> None:
    res = result_of(out)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert any(line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
                   for line in out.stdout.splitlines()), f"{m['name']} not printed"
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    check_metrics(smoke(workload, 0), SPEC["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric_and_job_counts_agree(workload):
    check_metrics(smoke(workload, 1), SPEC["per_layer"])
    check = record_of(workload, 1)["job_check"]
    assert check["eventlog_jobs"] == check["tracker_jobs"] > 0
    assert check["mismatched_groups"] == [] and check["ungrouped_jobs"] == 0


def test_wrong_expected_answer_raises_failed_share():
    from mapreduce__spark.plans import REGISTRY

    workload = "relational"
    query = bench.WORKLOADS[workload][0]
    result_of(smoke(workload, 0))  # builds the answer cache
    inputs = oracle.manifest(bench.DATA / f"sf{bench.SMOKE_SF}")
    path = oracle.cache_path(bench.WORK / "oracle", REGISTRY[query].oracle, inputs)
    original = path.read_bytes()
    cols, rows = oracle.load(path)
    try:
        path.write_bytes(pickle.dumps((cols, rows[1:])))
        res = result_of(smoke(workload, 0))
    finally:
        path.write_bytes(original)
    assert res["failed"] >= 1 and not res["correct"]
    assert res["metrics"]["ok_share"]["value"] < 1
    assert record_of(workload, 0)["failures"][0]["query"] == query


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    out = smoke(WORKLOADS[0], 0, cwd=tmp_path, script=tmp_path / "perfbench" / "run.py")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
