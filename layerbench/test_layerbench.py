"""The benchmark's own tests.

    python3 -m pytest layerbench/test_layerbench.py -q

The smoke runs start Spark at sf0.001 (about half a minute each).
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

from dedup_bench import materialized  # noqa: E402
from tracer import Span, Tracer, self_seconds  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "layerbench/run.py", "--seed", "1", "--seconds", "1", "--sf", "0.001", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace", [("ledger_read", "0"), ("ledger_ingest", "1"), ("dedup_stream", "1")]
)
def test_smoke_emits_exactly_the_declared_metrics(workload: str, trace: str) -> None:
    out = _result(_run(ROOT, "--workload", workload, "--trace", trace))
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = _declared()["end_to_end" if trace == "0" else "per_layer"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


def test_corrupted_answer_counts_as_failed() -> None:
    out = _result(_run(ROOT, "--workload", "ledger_read", "--trace", "0", "--corrupt-answer", "count"))
    assert out["correct"] is False
    assert out["failed"] >= 1 and out["failed"] < out["attempted"]


def test_refuses_to_run_without_the_program(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "layerbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "ledger_read", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_self_time_subtracts_children() -> None:
    spans = [Span(0, "measure", None, None, 0.0, 10.0), Span(1, "a", 0, 1, 1.0, 4.0), Span(2, "b", 0, 2, 5.0, 6.0)]
    assert self_seconds(spans) == {0: 6.0, 1: 3.0, 2: 1.0}


def test_job_group_is_cleared_outside_every_span() -> None:
    class FakeContext:
        def __init__(self) -> None:
            self.props: dict = {}

        def setJobGroup(self, group: str, description: str) -> None:
            self.props.update({"spark.jobGroup.id": group, "spark.job.description": description})

        def setLocalProperty(self, key: str, value) -> None:
            self.props[key] = value

    tr = Tracer(traced=True)
    tr.sc = FakeContext()
    with tr.span("measure"):
        tr.call("a", lambda: None)
        assert tr.sc.props["spark.jobGroup.id"] == "lb-0"
    assert tr.sc.props["spark.jobGroup.id"] is None


def test_materialized_rewrites_plain_ctes_only() -> None:
    sql = "WITH p AS (\n  SELECT 1\n),\ne0 AS (SELECT a FROM p)\nSELECT CAST(x AS INT) FROM e0"
    assert materialized(sql) == (
        "WITH p AS MATERIALIZED (\n  SELECT 1\n),\ne0 AS MATERIALIZED (SELECT a FROM p)\n"
        "SELECT CAST(x AS INT) FROM e0"
    )
