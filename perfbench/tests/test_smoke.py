"""Toy-size smoke run of every workload, untraced and traced, through the
real command-line entry point (one Spark session per run; a few minutes).

Run with:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
REPO = BENCH.parent
SEED = 990001  # a seed the measured runs do not use

# shrink the inputs in the child process only; everything else is the real run
TOY = """
import sys
sys.path.insert(0, {bench!r})
from benchlib import workloads
workloads.OcrSmallDocs.corpus_params = {{"pages": 40, "skew_docs": 1, "skew_spans": 20}}
workloads.OcrSmallDocs.min_passes = 2
workloads.OcrSmallDocs.warmup_passes = 2
workloads.OcrIncremental.corpus_params = {{"pages": 40}}
workloads.OcrIncremental.min_passes = 2
import run
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("workload", ["ocr_small_docs", "ocr_incremental"])
@pytest.mark.parametrize("trace", [0, 1])
def test_toy_run(workload, trace):
    with open(REPO / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    out = subprocess.run(
        [sys.executable, "-c", TOY.format(bench=str(BENCH)), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    if trace:
        report = json.loads((REPO / ".perfbench_work" / "trace" /
                             f"{workload}-seed{SEED}.json").read_text())
        assert report["costliest_layer"] in report["layer_self_s"]
        assert report["spans"] and "tracing_overhead_s" in report
        assert report["unattributed_s"] == pytest.approx(
            report["traced_wall_s"] - sum(report["layer_self_s"].values()))
        # layers of both workloads are measured on every workload
        for name in ("parse.tasks", "incremental.jobs_per_part", "catalog.files_written_per_part",
                     "pipeline.jobs_per_pass"):
            assert result["metrics"][name]["value"] > 0, name
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
