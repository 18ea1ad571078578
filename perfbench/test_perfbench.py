"""Tests of the benchmark's own code.

    python -m pytest perfbench -q

The end-to-end cases run ``run.py`` at ``--size tiny`` in a subprocess
(each starts its own Spark JVM, ~30 s)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from perfbench import check, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _tiny(workload, trace_flag, seed=3, *extra) -> dict:
    res = _result(_run("--workload", workload, "--seed", str(seed),
                       "--seconds", "1", "--trace", str(trace_flag),
                       "--size", "tiny", *extra))
    left = [d for d in os.listdir(os.path.join(ROOT, ".perfbench"))
            if d.startswith(f"run-{workload}-{seed}-")]
    assert left == [], "scratch dirs left behind"
    return res


@pytest.mark.parametrize("trace_flag", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace_flag):
    res = _tiny(workload, trace_flag)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    want = SPEC["per_layer"] if trace_flag else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float))
        if not trace_flag:
            assert got["value"] > 0, m["name"]


def test_traced_counts_repeat_exactly():
    a, b = (_tiny("analyst_session", 1, 4)["metrics"] for _ in range(2))
    for name in ("plans.histogram.py4j_calls",
                 "plans.result.algebra_py4j_calls", "exec.jobs",
                 "exec.stages"):
        assert a[name]["value"] == b[name]["value"], name


def test_injected_wrong_result_counts_as_failure():
    res = _tiny("analyst_session", 0, 3, "--inject-fault", "0")
    assert res["correct"] is False
    assert res["failed"] == 1
    ok = res["metrics"]["ok_ratio"]["value"]
    assert ok == pytest.approx(1.0 - 1 / res["attempted"])


def test_without_the_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "shard_dedup", "--seed", "1", "--seconds", "1",
                cwd=str(tmp_path), timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_py4j_counter_skips_release_messages():
    class Client:
        def send_command(self, command, retry=True, binary=False):
            return command

    c = Client()
    n = trace.Py4JCounter(c)
    c.send_command("c\no1\nfoo\ne\n")
    c.send_command("m\nd\no7\ne\n")
    c.send_command("r\nu\nbar\ne\n", retry=False)
    assert n.n == 2


def test_union_of_job_intervals():
    iv = [(0, 10), (5, 20), (30, 40), (45, 100)]
    assert trace._union_ms(iv, 0, 50) == 20 + 10 + 5
    assert trace._union_ms([], 0, 50) == 0


def test_repeat_check_is_exact_and_oracle_check_tolerant():
    a = np.array([1.0, np.nan, 3.0])
    b = a.copy()
    b[0] = np.nextafter(1.0, 2.0)
    assert check.same(a, a.copy(), exact=True)
    assert not check.same(b, a, exact=True)
    assert check.same(b, a, exact=False)
    assert not check.same(a + 1.0, a, exact=False)
    df = pd.DataFrame({"g": ["A", "N"], "v": [0.5, np.nan]})
    assert check.same(df, df[["v", "g"]].copy(), exact=True)
    assert not check.same(df.assign(g=["A", "R"]), df, exact=False)
