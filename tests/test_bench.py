"""The benchmark harness: bench.py's noise rule and timing protocol, and the
bare-session sweep in scripts/driver_sim.py."""

from __future__ import annotations

import os
import subprocess
import sys

import bench
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _reading(steal, foreign):
    return {"wall_s": 1.0, "steal_pct": steal, "sys_pct": 1.0, "foreign_pct": foreign}


QUIET = _reading(1.0, 3.0)
STEAL = _reading(12.0, 5.0)
CO_TENANT = _reading(0.0, 30.0)  # a busy process inside the VM, no steal
NO_PROC = _reading(None, None)


def test_noise_rule_on_synthetic_readings():
    assert not bench.is_noisy(QUIET)
    assert bench.is_noisy(STEAL)
    assert bench.is_noisy(CO_TENANT)
    assert not bench.is_noisy(NO_PROC)

    samples = {
        "quiet": [QUIET, QUIET, QUIET],
        "steal": [QUIET, STEAL, QUIET],
        "off_linux": [NO_PROC, NO_PROC, NO_PROC],
        "co_tenant": [CO_TENANT, QUIET, QUIET],
    }
    assert bench.noisy_queries(samples) == ["steal", "co_tenant"]
    block = bench.noise_block(samples)
    assert block == {
        "max_pct": bench.NOISE_MAX_PCT,
        "samples": 12,
        "noisy": 2,
        "worst_pct": 30.0,
        "retaken": ["steal", "co_tenant"],
        "contended": False,
    }
    # Contended only when some query has no clean sample left to take
    # its minimum from.
    assert bench.noise_block({"a": [QUIET], "b": [STEAL, CO_TENANT]})["contended"]
    assert not bench.noise_block({"a": [QUIET], "b": [STEAL, NO_PROC]})["contended"]


def test_noise_reading_splits_foreign_from_own_cpu():
    tck = os.sysconf("SC_CLK_TCK")
    # 1000 ticks: user 300, system 50, idle 600, steal 50; this process
    # tree used 250 ticks, so 100 busy ticks belong to someone else.
    after = [300, 0, 50, 600, 0, 0, 0, 50]
    assert bench.noise_reading([0] * 8, 0.0, after, 250 / tck) == {
        "steal_pct": 5.0,
        "sys_pct": 5.0,
        "foreign_pct": 10.0,
    }
    # Own CPU above the busy ticks (tick rounding) reads 0, not negative.
    assert bench.noise_reading([0] * 8, 0.0, after, 400 / tck)["foreign_pct"] == 0.0
    assert bench.noise_reading([], 0.0, [], 0.0) == {
        "steal_pct": None,
        "sys_pct": None,
        "foreign_pct": None,
    }


def test_measure_retakes_only_the_noisy_query(spark, monkeypatch):
    from xgboost_ray_spark.registry import all_queries

    calls = []

    def reading(*_):
        calls.append(None)
        # Call 3 is pass 2 of the first query (round-robin order).
        return STEAL if len(calls) == 3 else QUIET

    monkeypatch.setattr(bench, "noise_reading", reading)
    names = ["s03_projection", "s04_filter"]
    out = bench.measure(spark, all_queries(), names, SF_SMOKE)

    assert [len(out["samples"][n]) for n in names] == [4, 3]
    assert len(calls) == 7
    assert out["noise"]["retaken"] == ["s03_projection"]
    assert out["noise"]["noisy"] == 1
    assert out["noise"]["contended"] is False
    for n in names:
        assert out["queries"][n] == min(s["wall_s"] for s in out["samples"][n])


def test_driver_sim_runs_from_foreign_cwd():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "driver_sim.py"),
         SF_SMOKE, "s03_"],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "1 pass, 0 rows-only, 0 FAIL" in proc.stdout, proc.stdout[-2000:]
