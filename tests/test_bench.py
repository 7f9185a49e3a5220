"""bench.py's contract: the load-contention rule and the one-line JSON on
stdout (its key set is the interface; detail goes to bench_full.json)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import bench
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The one-line keys; names and meaning are stable across rounds.
ONE_LINE_KEYS = {
    "metric",
    "value",
    "unit",
    "queries",
    "sf",
    "duckdb_total",
    "spark_over_duckdb",
    "gate_2x_pass",
    "multifile_ratio",
    "ratio_trend_1x_10x_100x",
    "load_avg_1m_5m_15m",
    "contended",
    "detail",
}


@pytest.mark.parametrize(
    "load_1m, cpus, host_cpus, expected",
    [
        (13.31, 32, 32, False),  # full cores, load under half of them
        (6.39, 8, 32, False),  # local[8] capture, ~25 of 32 cores idle
        (17.0, 32, 32, True),  # full cores, load over half of them
        (29.0, 8, 32, True),  # local[8] capture, only 3 cores idle
    ],
)
def test_contended_counts_idle_host_cores(load_1m, cpus, host_cpus, expected):
    assert bench._contended(load_1m, cpus, host_cpus) is expected


def test_one_line_json_contract(tmp_path):
    """Run a copy of bench.py (so bench_full.json lands in tmp_path) over
    the smoke sf with tiny tier factors and check stdout's last line."""
    shutil.copy(os.path.join(REPO, "bench.py"), tmp_path / "bench.py")
    env = {
        **os.environ,
        "PYTHONPATH": REPO,
        "SPARK_GRAFT_SF_DIR": SF_SMOKE,
        "BENCH_RUNS": "1",
        "SPARK_GRAFT_CROSSOVER_FACTOR": "2",
        "SPARK_GRAFT_TREND_FACTOR": "3",
        "SPARK_GRAFT_EXT_BUDGET_SEC": "0",
        # a busy test host must not add the guard's drain wait
        "SPARK_GRAFT_LOAD_WAIT_SEC": "0",
    }
    proc = subprocess.run(
        [sys.executable, str(tmp_path / "bench.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == ONE_LINE_KEYS
    assert list(line["queries"]) == bench.HEADLINE
    assert set(line["ratio_trend_1x_10x_100x"]) == set(bench.TREND_QUERIES)
    assert len(line["ratio_trend_1x_10x_100x"]) == 6
    assert line["detail"] == "bench_full.json"
    assert (tmp_path / "bench_full.json").exists()


def test_ranking_lane_stops_inside_its_budget(monkeypatch):
    """The lane skips a query once the elapsed time plus the slowest query
    seen so far would pass the budget, instead of starting it regardless."""
    import time
    from types import SimpleNamespace

    def slow_query(spark, sf_dir):
        time.sleep(0.4)
        return 0.4

    fake = {f"qx{i}": SimpleNamespace(fn=slow_query) for i in range(5)}
    monkeypatch.setattr(bench, "QUERIES", fake)
    monkeypatch.setattr(bench, "_timed_noop", lambda wall, runs=3: wall)
    monkeypatch.setattr(bench, "default_parallelism", lambda: os.cpu_count() or 1)
    monkeypatch.setenv("SPARK_GRAFT_EXT_BUDGET_SEC", "1.0")
    lane = bench._extension_block(None, SF_SMOKE)
    assert lane["n_timed"] == 2
    assert lane["not_timed_within_budget"] == ["qx2", "qx3", "qx4"]
    assert lane["lane_wall_sec"] <= lane["wall_budget_sec"]
