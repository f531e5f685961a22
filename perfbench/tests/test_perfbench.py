"""Tests of the benchmark itself, at a tiny input scale.

    python -m pytest perfbench/tests -q

The two end-to-end tests start Spark (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import spans  # noqa: E402
from run import tail  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_same_seed_regenerates_identical_inputs(tmp_path):
    def files(d):
        out = {}
        for root, _dirs, names in os.walk(d):
            for n in names:
                p = os.path.join(root, n)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, d)] = f.read()
        return out

    made = []
    for k in ("a", "b", "c"):
        d = tmp_path / k
        seed = 7 if k != "c" else 8
        gen.write_text_logs(str(d / "text"), 900, seed, n_files=4)
        gen.write_json_logs(str(d / "json"), 900, seed)
        gen.write_sequences(str(d / "tokens"), 900, seed)
        made.append(files(d))
    assert made[0] == made[1]
    assert made[0].keys() == made[2].keys() and made[0] != made[2]


def test_text_expectations_follow_the_generated_lines(tmp_path):
    inp = gen.write_text_logs(str(tmp_path), 900, 3, n_files=4)
    lines = b"".join(f["bytes"] for f in inp["files"]).decode().split("\n")
    heads = [ln for ln in lines if ln[:4].isdigit()]
    assert inp["messages"] == len(heads)
    broad = next(q for q in inp["queries"] if q["name"] == "broad")
    assert 0 < broad["expected"] <= inp["messages"]
    assert next(q for q in inp["queries"] if q["name"] == "miss")["expected"] == 0


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 41)]
    assert tail(xs) == (30.0, 75.0, 40)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([float(i) for i in range(12)]) == (11.0, 100.0, 12)


def test_self_times_subtract_children():
    s = [
        {"id": "a", "parent": None, "op": "o", "name": "op", "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "op": "o", "name": "x", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "b", "op": "o", "name": "y", "start": 2.0, "end": 3.0},
        {"id": "d", "parent": "a", "op": "o", "name": "x", "start": 5.0, "end": 6.0},
    ]
    st = spans.self_times(s)
    assert st == {"a": 6.0, "b": 2.0, "c": 1.0, "d": 1.0}
    (op,) = spans.op_breakdown(s)
    assert op["layers"] == {"x": 3.0, "y": 1.0}
    assert op["remainder_s"] == 6.0 and op["sum_s"] == op["wall_s"] == 10.0


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "json_logs", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_corrupt_expectation_is_a_failed_operation_and_all_metrics_print():
    spec = _spec()
    res = _result(_run("--workload", "json_logs", "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--scale", "0.05", "--corrupt-expectation"))
    assert res["correct"] is False
    assert res["failed"] >= 1 and res["attempted"] > res["failed"]
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want


def test_traced_run_prints_every_layer_and_accounts_for_wall_time():
    spec = _spec()
    proc = _run("--workload", "text_logs", "--seed", "4", "--seconds", "1",
                "--trace", "1", "--scale", "0.2")
    res = _result(proc)
    assert res["correct"] is True and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["sources.logfiles.compress_text_logs_multi.s"]["value"] > 0
    with open(os.path.join(ROOT, ".perfbench_work", "trace-text_logs-s4.json")) as f:
        dump = json.load(f)
    assert dump["spans"] and dump["span_counters"]
    for op in dump["operations"].values():
        assert op["sum_s"] == pytest.approx(op["wall_s"], abs=1e-6)
    assert "tracing_overhead_s" in dump
