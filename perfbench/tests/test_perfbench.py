"""Tests of the benchmark itself, at a tiny scale.

Run from the checkout root: python3 -m pytest perfbench/tests -q
The end-to-end cases start a Spark session each (~30-60 s apiece).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from batch import Inputs, Op, check_wordcount, make_corpus, run_loop  # noqa: E402,E501
from common import Outcome  # noqa: E402
from spans import Tracer, metric_value  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_value_parses_every_sql_metric_form():
    assert metric_value("1,234") == 1234
    assert metric_value("14 ms") == pytest.approx(0.014)
    assert metric_value("0.0 B") == 0
    assert metric_value(
        "total (min, med, max (stageId: taskId))\n"
        "4.7 s (1.1 s, 1.2 s, 1.2 s (stage 0.0: task 3))"
    ) == pytest.approx(4.7)
    assert metric_value("2.0 KiB") == 2048
    # averages carry no total
    assert metric_value(
        "(min, med, max (stageId: taskId)):\n"
        "(1.6, 1.6, 1.6 (stage 5.0: task 7))"
    ) is None


def test_self_time_subtracts_children():
    tr = Tracer("t", enabled=True)
    with tr.span("op:q"):
        with tr.span("operators.build:q"):
            pass
    tr.spans[0].update(start=0.0, end=10.0)
    tr.spans[1].update(start=1.0, end=4.0)
    assert tr.self_times() == {"op": 7.0, "operators.build": 3.0}


def _write_output(out: Path, counts: dict[str, int]) -> None:
    out.mkdir(parents=True)
    lines = [f"{w}\t{c}" for w, c in sorted(counts.items())]
    (out / "part-00000.csv").write_text("\n".join(lines) + "\n")


def test_wordcount_check_accepts_ledger_and_rejects_a_wrong_count(tmp_path):
    ledger = make_corpus(7, tmp_path / "corpus", 50)
    counts: dict[str, int] = {}
    for part in sorted((tmp_path / "corpus" / "input").glob("part-*")):
        for w in part.read_text().split():
            counts[w] = counts.get(w, 0) + 1
    _write_output(tmp_path / "good", counts)
    assert check_wordcount(tmp_path / "good", ledger) == []
    counts["hadoop"] += 1
    _write_output(tmp_path / "bad", counts)
    problems = check_wordcount(tmp_path / "bad", ledger)
    assert any("tokens" in p for p in problems)
    assert any("hadoop" in p for p in problems)


def test_failing_operations_are_counted_and_do_not_stall_the_loop():
    def fail():
        raise OSError("disk full")

    spark = SimpleNamespace(sparkContext=SimpleNamespace(
        setJobGroup=lambda *a: None, defaultParallelism=1))
    ops = [Op(name="broken", module="m", build=fail, execute=None,
              check=None)]
    outcome = Outcome()
    tracer = Tracer("t", enabled=False)
    res = run_loop(spark, Inputs(ops, 1, 1), 0.05, 1, tracer, False, outcome)
    assert res["per_op"] == {}
    assert outcome.attempted >= 1
    assert outcome.failed == outcome.attempted
    assert outcome.failures[0] == "broken: OSError: disk full"


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace), "--tiny",
         *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_is_printed_with_its_unit(workload):
    result, _ = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_prints_layers_and_a_wrong_expectation_fails(workload):
    result, stderr = _run(workload, 1, "--expect-wrong")
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert not result["correct"]
    assert result["failed"] >= 1
    assert "# FAILED " in stderr
