"""Self-test of the benchmark: ``python3 -m pytest perfbench -q`` from the
repository root.

One pass per workload at sf0.001, with tracing off and on, must print every
metric ``BENCHMARK.json`` names, with its unit, and fail no op. Without the
program next to it, the benchmark must exit non-zero and print no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from fixtures import make_tables  # noqa: E402
from probe import Tracer, parse_metric  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_one_pass_prints_every_metric(workload: str, trace: int) -> None:
    proc = _run(ROOT, workload, trace, "--sf", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in wanted)
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float))


def test_exits_nonzero_without_the_program(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_inputs_depend_only_on_the_seed() -> None:
    a, b, c = make_tables(0.001, 9), make_tables(0.001, 9), make_tables(0.001, 10)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])


def test_parse_metric_units() -> None:
    assert parse_metric("33,334") == 33334
    assert parse_metric("2.0 KiB") == 2048
    assert parse_metric("total (min, med, max (stageId: taskId))\n4.5 s (1 s, 2 s, 2 s)") == 4.5
    assert parse_metric("250 ms") == 0.25


def test_self_time_subtracts_children() -> None:
    tr = Tracer()
    outer = tr.start("outer")
    inner = tr.start("inner")
    tr.end(inner)
    tr.end(outer)
    tr.spans[0].update(start=0.0, end=10.0)
    tr.spans[1].update(start=2.0, end=5.0)
    spans = tr.with_self_times()
    assert spans[0]["self_s"] == pytest.approx(7.0)
    assert spans[1]["self_s"] == pytest.approx(3.0)
