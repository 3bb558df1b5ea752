"""The benchmark's own tests, on tiny inputs (about 2k turns).

    python3 -m pytest perfbench -q

Each test starts the benchmark command as a fresh process, the way it
is run for real; a run costs about 30 s, mostly JVM start-up.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import procs  # noqa: E402
from run import FAMILY  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
# every runnable workload, gated in BENCHMARK.json or not
WORKLOADS = sorted(FAMILY)
TINY = ["--scale", "0.01", "--seconds", "1"]


@pytest.fixture(scope="module", autouse=True)
def subreaper():
    # whatever a run leaves behind is re-parented to this process, so
    # the survivor check below sees it
    procs.become_subreaper()


def bench(*args: str, cwd: str = ROOT, timeout: float = 180):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, SPEC["command"][1]), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p


def assert_nothing_left():
    left = procs.tree(os.getpid())
    procs.reap()
    assert left == [], f"processes left by the run: {left}"


def test_gated_workloads_are_runnable():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_reports_every_metric(workload, trace):
    code, out, p = bench("--workload", workload, "--seed", "3",
                         "--trace", str(trace), *TINY)
    assert code == 0, p.stderr[-3000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert_nothing_left()


@pytest.mark.parametrize("workload", ["mixed_extract", "commit_resume"])
def test_planted_defect_is_caught(workload):
    code, out, _ = bench("--workload", workload, "--seed", "3",
                         "--plant-defect", *TINY)
    assert code == 1
    assert out["correct"] is False
    assert out["failed"] >= 1
    assert_nothing_left()


def _digest(d: str) -> str:
    h = hashlib.md5()
    for dirpath, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("family", ["mix", "tool"])
def test_same_seed_same_inputs(tmp_path, family):
    a = inputs.ensure(str(tmp_path / "a"), family, 5, 0.005)
    b = inputs.ensure(str(tmp_path / "b"), family, 5, 0.005)
    c = inputs.ensure(str(tmp_path / "c"), family, 6, 0.005)
    key = lambda root, s: str(tmp_path / root / f"{family}-s{s}-x0.005")  # noqa: E731
    assert _digest(key("a", 5)) == _digest(key("b", 5))
    assert _digest(key("a", 5)) != _digest(key("c", 6))
    assert a["kind_mix"] == b["kind_mix"]
    if family == "tool":
        assert a["kind_mix"]["markdown"]["turns"] == 0
        assert a["kind_mix"]["plain"]["turns"] == 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, out, _ = bench("--workload", WORKLOADS[0], "--seed", "1",
                         "--seconds", "1", cwd=str(tmp_path), timeout=60)
    assert code != 0
    assert out is None
    assert_nothing_left()
