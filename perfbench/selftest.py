#!/usr/bin/env python3
"""The benchmark's own self-tests, on the sf 0.001 fixture tables.

    python3 perfbench/selftest.py [workload ...]

1. Runs every workload (default: all four) once untraced and once traced
   and asserts that each run is correct and emits every metric
   BENCHMARK.json names, with its unit: the end-to-end metrics untraced,
   the per-layer ones traced.
2. Re-parses the event log of the last traced run and asserts the fold:
   every tagged job lands on the phase window its tag names, task metrics
   are non-zero, and re-folding reproduces the record's layers.
3. Checks the phase split: per operation, build + exec walls are within
   5% of the sample.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF = "0.001"


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", SF,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, f"{workload} trace {trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(workload: str, bench: dict) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result = _run(workload, trace)
        assert result["correct"] and result["failed"] == 0, (workload, trace, result)
        assert result["attempted"] >= 1
        for m in bench[key]:
            got = result["metrics"].get(m["name"])
            assert got is not None, f"{workload} trace {trace}: {m['name']} missing"
            assert got["unit"] == m["unit"], (m["name"], got["unit"], m["unit"])
            assert isinstance(got["value"], (int, float)), (m["name"], got)
        print(f"ok  {workload} trace {trace}: {len(result['metrics'])} metrics")


def check_fold(workload: str) -> None:
    sys.path.insert(0, ROOT)
    from perfbench.tracing import event_log_file, fold, read_event_log

    with open(os.path.join(WORK, "out", f"{workload}.trace1.seed7.json")) as fh:
        record = json.load(fh)
    windows = [
        s for s in record["spans"] if s.get("phase") and s.get("tag")
    ]
    by_tag = {w["tag"]: (w["op_id"], w["phase"]) for w in windows}
    logs = sorted(os.listdir(os.path.join(WORK, "eventlog")))
    path = event_log_file(os.path.join(WORK, "eventlog"), logs[-1])
    log = read_event_log(path)
    tagged = [j for j in log["jobs"].values() if any(t in by_tag for t in j["tags"])]
    assert tagged, "no job carries a benchmark tag"
    assert sum(s["tasks"] for s in log["stages"].values()) > 0
    layers = fold(log, windows)
    for job in tagged:
        key = next(by_tag[t] for t in job["tags"] if t in by_tag)
        assert key in layers and layers[key]["jobs"] >= 1, key
    for rec in record["samples"]:
        sid = f"{rec['op']}#{rec['pass']}"
        for phase, got in rec.get("layers", {}).items():
            want = layers[(sid, phase)]
            assert abs(got["run_s"] - want["run_s"]) < 1e-9, (sid, phase)
            assert got["jobs"] == want["jobs"], (sid, phase)
        total = sum(rec["phases"].values())
        assert abs(total - rec["wall_s"]) <= 0.05 * rec["wall_s"], (sid, total, rec["wall_s"])
    print(f"ok  {workload} event-log fold: {len(tagged)} tagged jobs, "
          f"{len(record['samples'])} samples within 5%")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = argv or ["etl_star", "llm_dedup", "gbt_train", "stream_sessions"]
    for w in workloads:
        check_metrics(w, bench)
        check_fold(w)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
