"""Smoke test of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case runs the benchmark in a subprocess with the tile sets shrunk
to a few tiles (the query tables are already at their sf0.001 minimum)
and checks that every metric prints with its unit, the outputs are
correct, and the traced run saw stages and tasks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import PER_LAYER  # noqa: E402
from run import END_TO_END  # noqa: E402

TINY = (
    "import sys, workloads, run\n"
    "workloads.AHN_SIZE = {'grid': 6, 'n_points': 3000}\n"
    "workloads.EXPORT_SIZE = {'grid': 2, 'n_points': 3000}\n"
    "sys.exit(run.main(sys.argv[1:]))\n"
)


def bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", TINY, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=os.path.dirname(HERE), env=dict(os.environ, PYTHONPATH=HERE),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(result: dict, units: dict[str, str]) -> None:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(units)
    for name, unit in units.items():
        assert result["metrics"][name]["unit"] == unit
        assert isinstance(result["metrics"][name]["value"], (int, float))


def test_queries_end_to_end():
    r = bench("queries_headline", 0)
    check(r, END_TO_END)
    assert all(r["metrics"][k]["value"] > 0 for k in END_TO_END)


@pytest.mark.parametrize("workload,counts", [
    ("queries_headline", ("plans.jobs", "plans.stages", "plans.tasks", "plans.python_eval_s")),
    ("tiles_pipeline", ("pipeline.tiles.jobs", "pipeline.workers.groups",
                        "pipeline.workers.tasks", "pipeline.processor.attempts",
                        "pipeline.processor.retried_tiles", "pipeline.output.files")),
])
def test_traced_layers(workload, counts):
    r = bench(workload, 1)
    check(r, PER_LAYER)
    for name in counts:
        assert r["metrics"][name]["value"] > 0, name
