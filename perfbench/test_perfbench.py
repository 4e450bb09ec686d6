"""perfbench's own tests, in smoke mode (datagen TINY inputs).

Run from the repository root: ``python3 -m pytest perfbench -q``. Each Spark
run takes one to two minutes.
"""

from __future__ import annotations

import json
import pathlib
import shutil
import subprocess
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(*args: str, cwd: pathlib.Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize(
    "workload,trace", [("er_sparse", "0"), ("er_dense", "1")]
)
def test_smoke_run_prints_every_declared_metric(workload, trace):
    proc = bench("--workload", workload, "--trace", trace, "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    # cold + one resume; traced: five resumes, warm, 16 queries, reference
    assert result["attempted"] == (2 if trace == "0" else 24)
    declared = DECLARED["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        d["name"]: d["unit"] for d in declared
    }
    # the run's temp dirs are gone
    assert not list((ROOT / ".perfbench" / "runs").glob(f"{workload}-3-*"))


def test_refuses_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    proc = bench("--workload", "er_dense", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
