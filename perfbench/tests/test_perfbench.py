"""The benchmark's own tests: metric-name validity against BENCHMARK.json,
a smoke-size run of each workload in both modes, and the refusal to run
without the program next to it.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_metrics_the_runs_print():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    e2e = {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]}
    assert e2e == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == metrics.per_layer()
    assert e2e["setup_s"] == ("s", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert len(b["per_layer"]) <= 128
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)


def test_metric_names_and_units_are_valid():
    b = _bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(m["better"] in ("higher", "lower") for m in b["end_to_end"] + b["per_layer"])


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["build", "append"])
def test_smoke_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = metrics.per_layer() if trace else metrics.END_TO_END
    assert set(res["metrics"]) == set(want)
    for name, m in res["metrics"].items():
        assert m["unit"] == want[name][0]
        assert math.isfinite(m["value"])
        if not trace:
            assert m["value"] > 0, name
    if trace:
        # the layers this workload enters report work; the others read 0
        layer = {"build": "plans.pipeline.extract_stage.jobs",
                 "append": "plans.incremental.finalize_graph.delta.jobs"}
        other = {"build": "append", "append": "build"}[workload]
        assert res["metrics"][layer[workload]]["value"] > 0
        assert res["metrics"][layer[other]]["value"] == 0
        # the operator battery is probed in the traced build run only
        suite = res["metrics"]["entry_queries.suite_s"]["value"]
        assert suite > 0 if workload == "build" else suite == 0
        assert res["metrics"]["trace.overcommitted_spans"]["value"] == 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "build", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
