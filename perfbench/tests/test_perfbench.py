"""Self-test of the benchmark: output schema, refusal outside a
checkout, and deterministic counters that must repeat exactly across
two same-seed traced runs.

Slow (each run starts Spark): run on demand from the repository root,

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
#: counters that depend only on the seed, never on timing; the
#: notebook's spark.jobs also counts one job per streaming-preview poll,
#: and how many polls a preview needs depends on timing
DETERMINISTIC = (
    "render.jobs.total", "catalyst.exchanges.total",
    "checkpoint.materializations.total", "streaming.rows_drained_per_row_shown",
)


def run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def check_schema(result: dict, spec_metrics: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec_metrics}
    for m in spec_metrics:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_schema(workload):
    code, result = run(workload, 5, 0)
    assert code == 0
    check_schema(result, SPEC["end_to_end"])
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_trace_counters_repeat(workload):
    first = run(workload, 7, 1)
    second = run(workload, 7, 1)
    for code, result in (first, second):
        assert code == 0
        check_schema(result, SPEC["per_layer"])
    a, b = first[1]["metrics"], second[1]["metrics"]
    names = DETERMINISTIC + (("spark.jobs.total",) if workload == "operators" else ())
    assert {k: a[k]["value"] for k in names} == {k: b[k]["value"] for k in names}
    materializations = a["checkpoint.materializations.total"]["value"]
    assert (materializations > 0) == (workload == "operators")


def test_refuses_without_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, result = run(WORKLOADS[0], 1, 0, cwd=str(tmp_path))
    assert code != 0 and result is None
