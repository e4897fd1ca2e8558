"""Tiny-size smoke runs of every workload through the benchmark command.

Each run starts its own SparkSession, so this module takes a few minutes:

    python -m pytest -q perfbench/tests
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from run import END_TO_END, UNBOUNDED, per_layer_metrics  # noqa: E402


def bench(*args, cwd=ROOT, script=os.path.join(BENCH, "run.py")):
    p = subprocess.run(
        [sys.executable, script, "--size", "tiny", "--seconds", "1", "--seed", "7", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p, last


def test_benchmark_json_lists_what_the_command_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == ["analytic", "lakehouse"]


@pytest.mark.parametrize("workload", ["analytic", "lakehouse"])
def test_smoke_prints_every_metric_and_catches_a_wrong_result(workload):
    p, last = bench("--workload", workload, "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(last)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 3
    assert {n: m["unit"] for n, m in out["metrics"].items()} == dict(END_TO_END)
    for name, _ in END_TO_END:
        assert out["metrics"][name]["value"] > 0, name
    printed = {line.split()[0]: line.split() for line in p.stdout.splitlines() if line.strip()}
    for name, unit in END_TO_END + UNBOUNDED:
        assert name in printed and printed[name][2] == unit, name
        assert float(printed[name][1]) > 0, name
    assert float(printed["op_tail_s"][1]) >= float(printed["op_p50_s"][1])
    assert "error_rate 0.000000 ratio" in p.stdout

    p, last = bench("--workload", workload, "--trace", "0", "--inject-wrong")
    assert p.returncode == 1
    out = json.loads(last)
    assert out["correct"] is False
    assert out["failed"] > 0, "an injected wrong result must raise error_rate"
    assert "CHECK FAILED" in p.stderr


def test_traced_run_reports_every_per_layer_metric():
    p, last = bench("--workload", "lakehouse", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(last)
    assert {n: m["unit"] for n, m in out["metrics"].items()} == dict(per_layer_metrics())
    m = {n: v["value"] for n, v in out["metrics"].items()}
    assert m["exec.stages"] > 0 and m["engine.sql_s.merge"] > 0 and m["engine.sql_s.insert"] > 0
    assert m["lakehouse.files_scanned"] > 0 and m["rest_catalog.load_table_bytes"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p, last = bench("--workload", "lakehouse", "--trace", "0", cwd=tmp_path,
                    script=str(tmp_path / "perfbench" / "run.py"))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
