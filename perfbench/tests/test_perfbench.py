"""The benchmark's own tests: tiny inputs, about a second of ops each.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from data import cohort  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
TINY = ["--seconds", "1", "--scale", "0.02"]


def _run(capsys, workload: str, seed: int, trace: int) -> dict:
    assert run.main(["--workload", workload, "--seed", str(seed), "--trace", str(trace)] + TINY) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_passes_its_check(capsys, workload):
    out = _run(capsys, workload, seed=3, trace=0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_named_metric_is_printed_with_its_unit(capsys, trace, section):
    out = _run(capsys, "registry_refresh", seed=5, trace=trace)
    assert out["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_benchmark_names_only_runnable_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


def test_other_seed_changes_inputs_not_metric_names(capsys):
    a, b = cohort(np.random.default_rng(1), 500), cohort(np.random.default_rng(2), 500)
    assert a.schema == b.schema and not a.equals(b)
    assert cohort(np.random.default_rng(1), 500).equals(a)
    names = [set(_run(capsys, "cohort_interactive", seed, 0)["metrics"]) for seed in (1, 2)]
    assert names[0] == names[1]


def test_tail_needs_ten_samples_beyond():
    assert run.tail([float(i) for i in range(1, 21)]) == (10.0, 50.0, 10)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_planned_ops_are_whole_cycles():
    for cls in WORKLOADS.values():
        for seconds in (1, 30, 60):
            n = run.planned_ops(cls, seconds)
            assert n % cls.cycle == 0 and n >= cls.cycle


def test_interactive_session_mix_is_the_same_for_every_seed(monkeypatch, tmp_path):
    import collections
    import types

    import workloads

    monkeypatch.setattr(workloads, "write_parts", lambda *a, **k: [])
    mixes = []
    for seed in (1, 2):
        wl = workloads.CohortInteractive()
        wl.prepare(types.SimpleNamespace(seed=seed, scale=1.0, root=str(tmp_path)))
        mix = collections.Counter()
        for c in wl.calls:
            mix.update(c["cols"] + [("strat", c["strat"]), ("rows", c["rows"])])
            mix["p_values"] += c["p_values"]
            mix["beautify"] += c["beautify"]
        mixes.append((mix, [c["cols"] for c in wl.calls]))
    assert mixes[0][0] == mixes[1][0] and mixes[0][1] != mixes[1][1]


def test_bare_directory_exits_nonzero(tmp_path):
    import shutil
    import subprocess

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("tests", "__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
