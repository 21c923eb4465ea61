"""Smoke runs of every workload at sf0.001, the refusal to run without
the engine package, and the benchmark's data copy against the engine's
testdata.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

from forecast_cycle import MODEL  # noqa: E402
from run import DATA  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 1):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p, [json.loads(line) for line in p.stdout.splitlines() if line.startswith("{")]


@pytest.mark.parametrize("workload", ["analytics_mix", "forecast_cycle", "dedup_ingest"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload, trace):
    p, lines = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    header, detail, result = lines[-3]["header"], lines[-2]["detail"], lines[-1]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["errors"]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted]
    assert header["master"] == f"local[{header['nproc']}]"
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    if workload == "forecast_cycle":
        for k, v in MODEL.items():
            assert detail["model"][k] == pytest.approx(v, rel=1e-6)
    assert all(f["n"] >= 1 for f in detail["named"].values())
    assert not os.listdir(os.path.join(ROOT, ".perfbench_tmp"))


def test_data_is_the_engine_testdata():
    from tests.conftest import SF_SMALL

    if not os.path.isdir(SF_SMALL):
        pytest.skip("the engine's testdata is not on this host")
    names = sorted(os.listdir(DATA))
    assert names == sorted(f for f in os.listdir(SF_SMALL) if f.endswith(".parquet"))
    match, mismatch, errors = filecmp.cmpfiles(DATA, SF_SMALL, names, shallow=False)
    assert (mismatch, errors) == ([], [])


def test_refuses_without_package():
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=out) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p, lines = _run("forecast_cycle", 0, cwd=bare)
    assert p.returncode != 0
    assert not lines
