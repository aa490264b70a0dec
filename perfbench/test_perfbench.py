"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The smoke runs start Spark (30-60 s each); the rest are instant.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench.common import (
    END_TO_END, PER_LAYER, CpuClock, Tracer, percentile, weighted_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def smoke(workload: str, trace: int, *extra: str) -> dict:
    out = bench("--workload", workload, "--seed", "7", "--seconds", "3",
                "--trace", str(trace), "--size", "smoke", *extra)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result


@pytest.mark.parametrize("workload", ["tribute_stream", "query_mix", "keyed_upsert"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    result = smoke(workload, trace)
    assert result["correct"] and result["failed"] == 0
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_planted_wrong_row_raises_failed_ratio():
    result = smoke("tribute_stream", 1, "--plant-fault")
    assert not result["correct"] and result["failed"] >= 1
    assert result["metrics"]["failed_ratio"]["value"] > 0


def test_benchmark_json_names_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = bench("--workload", "tribute_stream", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_percentiles():
    assert percentile([5, 1, 4, 2, 3], 50) == 3
    assert percentile(range(1, 101), 90) == 90
    assert weighted_percentile([(10, 1), (20, 3)], 50) == 20
    assert weighted_percentile([(10, 3), (20, 1)], 50) == 10


def test_self_time_subtracts_children():
    t = Tracer("r")
    root = t.add("root", 0.0, 10.0)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 6.0, root)  # overlaps a: covered = 1..6
    selfs = t.self_times_s()
    assert selfs[root] == pytest.approx(5.0)
    assert t.self_time_share("root") == pytest.approx(0.5)


def test_cpu_clock_counts_this_process():
    with CpuClock() as clock:
        t0 = time.process_time()
        while time.process_time() - t0 < 0.3:
            pass
    assert clock.cpu_s >= 0.25
    assert 0.0 <= clock.jit_s + clock.gc_s <= clock.cpu_s
    assert clock.program_s == clock.cpu_s - clock.jit_s - clock.gc_s
    assert 0.0 <= clock.steal_share <= 1.0
