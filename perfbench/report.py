"""Turn a run record into metrics: the end-to-end set, the per-layer set,
and the result line the benchmark prints last."""

from __future__ import annotations

import json
import os
import statistics

END_TO_END_UNITS = {"setup_s": "s", "pass_cpu_s.p50": "s"}

# Issue-level end-to-end metrics printed in the human summary; the ones
# that exist on every workload and hold steady while the host steals CPU
# are also in END_TO_END_UNITS.
SUMMARY_UNITS = {
    "setup_s": "s",
    "pass_s.p50": "s",
    "pass_cpu_s.p50": "s",
    "train_s.p50": "s",
    "predict_rows_per_s": "rows/s",
    "tune_s.p50": "s",
    "batch_s.p50": "s",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
}

_TASK = (
    "run_s", "cpu_s", "gc_s", "deser_s", "tasks", "stages",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
    "spill_disk_bytes",
)
_PYTHON = ("data_sent_bytes", "data_received_bytes", "boot_s", "init_s", "run_s")

# Per-layer metric -> unit. Summed over a pass's operations, then the
# median over passes, unless noted in layers.json.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.cold_setup_s": "s",
    "session.setup_wall_s": "s",
    "registry.prepare_s": "s",
    "catalog.load_table_s": "s",
    "catalog.input_bytes": "bytes",
    "catalog.input_rows": "rows",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "plan.sql_executions": "count",
    "build.wall_s": "s",
    "build.eager_jobs": "count",
    "build.eager_s": "s",
    "build.driver_s": "s",
    "spill.bytes_written": "bytes",
    "scratch.bytes_written": "bytes",
    **{f"{p}.{k}": ("count" if k in ("tasks", "stages") else
                    "bytes" if k.endswith("bytes") else "s")
       for p in ("eager", "exec") for k in ("wall_s",) + _TASK},
    "eager.cpu_busy": "ratio",
    "exec.cpu_busy": "ratio",
    **{f"python.{k}": ("bytes" if k.endswith("bytes") else "s") for k in _PYTHON},
    "ml.train_s": "s",
    "ml.fit_s": "s",
    "ml.prep_s": "s",
    "ml.fit_jobs": "count",
    "ml.predict_s": "s",
    "ml.trial_s": "s",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.state_rows": "rows",
    "stream.state_commit_ms": "ms",
    "host.steal_pct": "%",
    "host.sys_pct": "%",
    "host.user_pct": "%",
    "mem.peak_rss_mb": "MB",
    "trace.pass_s.p50": "s",
}


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def sample_layers(rec: dict) -> dict:
    """Per-layer values of one sample (sums; ratios are derived later)."""
    ph = rec["phases"]
    lay = rec.get("layers", {})
    b, e = lay.get("build", {}), lay.get("exec", {})
    plan = rec.get("plan", {})
    notes = rec["notes"]
    out = {
        "catalog.load_table_s": rec.get("catalog.load_table_s", 0.0),
        "catalog.input_bytes": b.get("input_bytes", 0) + e.get("input_bytes", 0),
        "catalog.input_rows": b.get("input_rows", 0) + e.get("input_rows", 0),
        "plan.analysis_ms": plan.get("analysis", 0.0),
        "plan.optimization_ms": plan.get("optimization", 0.0),
        "plan.planning_ms": plan.get("planning", 0.0),
        "plan.sql_executions": b.get("sql_executions", 0) + e.get("sql_executions", 0),
        "build.wall_s": ph.get("build", 0.0),
        "build.eager_jobs": b.get("jobs", 0),
        "build.eager_s": b.get("jobs_s", 0.0),
        "build.driver_s": max(0.0, ph.get("build", 0.0) - b.get("jobs_s", 0.0)),
        "spill.bytes_written": rec.get("spill", {}).get("spill", 0),
        "scratch.bytes_written": rec.get("spill", {}).get("other", 0),
    }
    for prefix, phase, d in (("eager", "build", b), ("exec", "exec", e)):
        out[f"{prefix}.wall_s"] = ph.get(phase, 0.0)
        for k in _TASK:
            out[f"{prefix}.{k}"] = d.get(k, 0)
    for k in _PYTHON:
        out[f"python.{k}"] = b.get(f"py_{k}", 0.0) + e.get(f"py_{k}", 0.0)
    if rec["op"] == "gbt_train":
        out["ml.train_s"] = rec["wall_s"]
        out["ml.fit_s"] = notes.get("ml.fit_s", 0.0)
        out["ml.prep_s"] = max(0.0, rec["wall_s"] - notes.get("ml.fit_s", 0.0))
        out["ml.fit_jobs"] = b.get("jobs", 0)
    elif rec["op"] == "gbt_predict":
        out["ml.predict_s"] = rec["wall_s"]
    elif rec["op"] == "grid_search":
        out["ml.trial_s"] = _median(notes.get("ml.trial_s", []))
    return out


def _per_pass_median(samples: list[dict], values: list[dict]) -> dict:
    """Per-pass sums over operations, then the median over passes."""
    passes: dict[int, dict] = {}
    for rec, vals in zip(samples, values):
        acc = passes.setdefault(rec["pass"], {})
        for k, v in vals.items():
            acc[k] = acc.get(k, 0.0) + v
    keys = {k for acc in passes.values() for k in acc}
    return {k: _median([acc.get(k, 0.0) for acc in passes.values()]) for k in keys}


def summarise(record: dict) -> None:
    """Add ``summary`` (issue-level end-to-end metrics), ``layers``
    (per-layer metrics) and ``per_op`` (per-layer medians per op)."""
    samples = record["samples"]
    ok = [r for r in samples if not r["error"]]
    walls: dict[str, list[float]] = {}
    for r in ok:
        walls.setdefault(r["op"], []).append(r["wall_s"])
    triggers = [ev["trigger_ms"] for ev in record["stream_events"]]
    rows = next((r["notes"]["rows"] for r in ok if "rows" in r["notes"]), None)
    summary = {
        "setup_s": _median([s["cpu_s"] for s in record["setups"]]),
        "pass_s.p50": _median([p["wall_s"] for p in record["passes"]]),
        "pass_cpu_s.p50": _median([p["cpu_s"] for p in record["passes"]]),
        "peak_rss_mb": record["peak_rss_mb"],
    }
    if "gbt_train" in walls:
        summary["train_s.p50"] = _median(walls["gbt_train"])
    if "gbt_predict" in walls and rows:
        summary["predict_rows_per_s"] = rows / _median(walls["gbt_predict"])
    if "grid_search" in walls:
        summary["tune_s.p50"] = _median(walls["grid_search"])
    if triggers:
        summary["batch_s.p50"] = _median(triggers) / 1000.0
    record["summary"] = summary

    values = [sample_layers(r) for r in samples]
    for rec, vals in zip(samples, values):
        evs = [e for e in record["stream_events"]
               if e.get("op") == rec["op"] and e.get("pass") == rec["pass"]]
        vals["stream.batches"] = len(evs)
        vals["stream.state_rows"] = sum(e["state_rows"] for e in evs)
        vals["stream.state_commit_ms"] = sum(e["state_commit_ms"] for e in evs)
    layers = _per_pass_median(samples, values)
    cores = record["cores"]
    for p in ("eager", "exec"):
        wall = layers.get(f"{p}.wall_s", 0.0)
        layers[f"{p}.cpu_busy"] = layers.get(f"{p}.cpu_s", 0.0) / (wall * cores) if wall else 0.0
    for k in ("session.get_spark_s", "registry.prepare_s", "session.warmup_s"):
        layers[k] = _median([s[k] for s in record["setups"]])
    layers["session.cold_setup_s"] = record["setups"][0]["wall_s"]
    layers["session.setup_wall_s"] = _median([s["wall_s"] for s in record["setups"]])
    layers["mem.peak_rss_mb"] = summary["peak_rss_mb"]
    layers["stream.trigger_ms"] = _median(triggers)
    layers["stream.add_batch_ms"] = _median([ev["add_batch_ms"] for ev in record["stream_events"]])
    for k in ("steal_pct", "sys_pct", "user_pct"):
        layers[f"host.{k}"] = _median([r["host"][k] for r in samples])
    layers["trace.pass_s.p50"] = summary["pass_s.p50"]
    record["layers"] = {k: layers.get(k, 0.0) for k in LAYER_UNITS}

    per_op: dict[str, dict] = {}
    for rec, vals in zip(samples, values):
        per_op.setdefault(rec["op"], []).append({"wall_s": rec["wall_s"], **vals})
    record["per_op"] = {
        op: {k: _median([v.get(k, 0.0) for v in vs]) for k in vs[0]}
        for op, vs in per_op.items()
    }
    gaps = [
        abs(sum(r["phases"].values()) - r["wall_s"]) / r["wall_s"]
        for r in ok if r["wall_s"] > 0
    ]
    record["phase_sum_max_gap"] = max(gaps) if gaps else 0.0
    record["spill_stable"] = _spill_stable(samples)
    # A spill producer whose bytes change between passes counts as failed.
    record["failed"] = sum(1 for r in samples if r["error"]) + sum(
        1 for stable in record["spill_stable"].values() if not stable
    )
    summary["error_rate"] = record["failed"] / max(1, len(samples))


def _spill_stable(samples: list[dict]) -> dict:
    """Per op: True when spill bytes written are identical across passes."""
    seen: dict[str, set] = {}
    for r in samples:
        if "spill" in r:
            seen.setdefault(r["op"], set()).add(r["spill"]["spill"])
    return {op: len(v) == 1 for op, v in seen.items()}


def result_line(record: dict) -> dict:
    if record["trace"]:
        metrics = {k: {"value": record["layers"][k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {
            k: {"value": record["summary"][k], "unit": u}
            for k, u in END_TO_END_UNITS.items()
        }
    return {
        "correct": record["failed"] == 0,
        "attempted": len(record["samples"]),
        "failed": record["failed"],
        "metrics": metrics,
    }


def untraced_twin(record: dict, out_dir: str) -> dict | None:
    """The untraced record of the same workload and seed, if one exists."""
    path = os.path.join(out_dir, f"{record['workload']}.trace0.seed{record['seed']}.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def print_human(record: dict, out_dir: str) -> None:
    s = record["summary"]
    print(f"workload {record['workload']} seed {record['seed']} trace {record['trace']}: "
          f"{len(record['passes'])} passes, {len(record['samples'])} operations")
    for k, unit in SUMMARY_UNITS.items():
        if k in s:
            print(f"  {k:<22} {s[k]:.6g} {unit}")
    if record["trace"]:
        twin = untraced_twin(record, out_dir)
        if twin and twin.get("summary", {}).get("pass_s.p50"):
            print(f"  {'trace_overhead':<22} "
                  f"{s['pass_s.p50'] / twin['summary']['pass_s.p50']:.4g} ratio")
        print(f"  phase walls vs sample: max gap {100 * record['phase_sum_max_gap']:.2f}%")
        bad = [op for op, ok in record["spill_stable"].items() if not ok]
        print(f"  spill bytes identical across passes: {'yes' if not bad else 'NO ' + ','.join(bad)}")
    errs = [r for r in record["samples"] if r["error"]]
    print(f"  correctness: {'PASS' if not record['failed'] else 'FAIL'} "
          f"({sum(1 for r in record['samples'] if r.get('checked'))} oracle checks)")
    for r in errs[:10]:
        print(f"    {r['op']} pass {r['pass']}: {r['error']}")
