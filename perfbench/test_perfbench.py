"""Self-tests of the benchmark at tiny sizes.

    python -m pytest perfbench -q

Each workload runs end to end at ``--scale`` well below 1 and must print
a correct result with exactly the metrics BENCHMARK.json names.
``pg_capture`` is skipped when the PostgreSQL server binaries are absent.
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
sys.path.insert(0, ROOT)

from perfbench.gen import OrdersChanges, state_digest  # noqa: E402
from perfbench.harness import PER_LAYER, tail  # noqa: E402
from perfbench.wl_pg_capture import txn_sql  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int, scale: float = 0.05) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--scale", str(scale)],
        cwd=cwd, capture_output=True, text=True, timeout=400)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_tail_is_highest_percentile_with_ten_beyond():
    values = list(range(1, 13))  # 12 steps: 10 lie beyond the 2nd smallest
    assert tail(values) == (2, 100.0 * 2 / 12)
    assert tail(list(range(1, 41)))[0] == 30


def test_generator_is_seeded_and_models_state():
    a, b = OrdersChanges(3, 100), OrdersChanges(3, 100)
    assert a.transactions(500) == b.transactions(500)
    assert state_digest(a.state) == state_digest(b.state)
    assert OrdersChanges(4, 100).transactions(500) != OrdersChanges(3, 100).transactions(500)


def test_txn_sql_splits_updates_of_one_key():
    row1 = ("1", "2", "O", "1.00", "1")
    row2 = ("1", "3", "F", "2.00", "2")
    sql = txn_sql([("UPDATE", 1, row1), ("UPDATE", 1, row2)])
    assert sql.count("UPDATE") == 2 and sql.startswith("BEGIN;") and sql.endswith("COMMIT;")


def test_benchmark_json_matches_runner():
    bench = _bench()
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} == {"pg_capture", "cdc_replay"}


@pytest.mark.parametrize("workload", ["pg_capture", "cdc_replay"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_tiny(workload, trace):
    if workload == "pg_capture" and shutil.which("initdb") is None:
        pytest.skip("PostgreSQL server binaries not installed")
    res = _result(_run(ROOT, workload, trace))
    bench = _bench()
    names = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 12
    assert set(names) <= set(res["metrics"])
    if not trace:
        assert set(res["metrics"]) == set(names)
        assert all(res["metrics"][n]["value"] > 0 for n in names)
    elif workload == "cdc_replay":
        # apply_changes' executed plan scans the capture twice (ROADMAP item 2)
        assert res["metrics"]["postgres_cdc.scans_per_action"]["value"] >= 1


def test_stream_apply_tiny():
    res = _result(_run(ROOT, "cdc_stream_apply", 1, scale=0.1))
    assert res["correct"] and res["metrics"]["stream.batches_per_step"]["value"] == 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "traces", "__pycache__"))
    proc = _run(str(tmp_path), "cdc_replay", 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip().startswith("{")
