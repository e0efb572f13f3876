#!/usr/bin/env python3
"""Render traced benchmark records as "where did the time go" tables.

    python3 perfbench/render.py                 # latest traced run per workload
    python3 perfbench/render.py RECORD.json ... # given records

One table per workload: a row per operation (median over passes) and
per-layer columns, then a total row and the ``trace_overhead`` line, which
divides the traced ``pass_s.p50`` by the untraced one of the same workload
and seed when that run's record exists next to it.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.path.dirname(HERE), ".perfbench", "out")

# (header, per-op keys summed, scale, format); eager.* and exec.* are the
# task metrics of the build and exec phases.
COLUMNS = (
    ("wall s", ("wall_s",), 1, "{:.2f}"),
    ("build s", ("build.wall_s",), 1, "{:.2f}"),
    ("driver s", ("build.driver_s",), 1, "{:.2f}"),
    ("eager jobs", ("build.eager_jobs",), 1, "{:.0f}"),
    ("eager s", ("build.eager_s",), 1, "{:.2f}"),
    ("exec s", ("exec.wall_s",), 1, "{:.2f}"),
    ("task run s", ("eager.run_s", "exec.run_s"), 1, "{:.2f}"),
    ("task cpu s", ("eager.cpu_s", "exec.cpu_s"), 1, "{:.2f}"),
    ("gc s", ("eager.gc_s", "exec.gc_s"), 1, "{:.2f}"),
    ("py run s", ("python.run_s",), 1, "{:.2f}"),
    ("shuffle MB", ("eager.shuffle_write_bytes", "exec.shuffle_write_bytes"), 1e-6, "{:.2f}"),
    ("spill MB", ("spill.bytes_written",), 1e-6, "{:.2f}"),
    ("load_table s", ("catalog.load_table_s",), 1, "{:.2f}"),
    ("plan ms", ("plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms"), 1, "{:.0f}"),
)


def render(record: dict, out_dir: str) -> str:
    from perfbench.report import untraced_twin

    rows = [
        [op] + [scale * sum(v.get(k, 0.0) for k in keys) for _, keys, scale, _ in COLUMNS]
        for op, v in sorted(record["per_op"].items())
    ]
    total = ["TOTAL"] + [sum(r[i + 1] for r in rows) for i in range(len(COLUMNS))]
    cells = [["operation"] + [h for h, *_ in COLUMNS]]
    for r in rows + [total]:
        cells.append([r[0]] + [fmt.format(x) for x, (*_, fmt) in zip(r[1:], COLUMNS)])
    widths = [max(len(c[i]) for c in cells) for i in range(len(cells[0]))]
    lines = [
        f"== {record['workload']} (seed {record['seed']}, {len(record['passes'])} "
        f"pass(es), cores {record['cores']}) =="
    ]
    for c in cells:
        lines.append("  ".join(x.rjust(w) if i else x.ljust(w) for i, (x, w) in enumerate(zip(c, widths))))
    traced = record["summary"]["pass_s.p50"]
    twin = untraced_twin(record, out_dir)
    if twin and twin.get("summary", {}).get("pass_s.p50"):
        ratio = traced / twin["summary"]["pass_s.p50"]
        lines.append(f"trace_overhead: {ratio:.3f} (traced pass_s.p50 {traced:.3f} s / "
                     f"untraced {twin['summary']['pass_s.p50']:.3f} s)")
    else:
        lines.append(f"trace_overhead: n/a (no untraced run of {record['workload']} "
                     f"seed {record['seed']}; traced pass_s.p50 {traced:.3f} s)")
    host = record["layers"]
    lines.append(f"host: steal {host['host.steal_pct']:.2f}%  sys {host['host.sys_pct']:.2f}%  "
                 f"user {host['host.user_pct']:.2f}% (median over samples)")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    paths = argv or sorted(
        glob.glob(os.path.join(OUT, "*.trace1.*.json")), key=os.path.getmtime
    )
    latest: dict[str, tuple[dict, str]] = {}
    for path in paths:
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("trace"):
            latest[rec["workload"]] = (rec, os.path.dirname(os.path.abspath(path)))
    if not latest:
        print("no traced records; run perfbench/run.py --trace 1 first", file=sys.stderr)
        return 1
    print("\n\n".join(render(rec, d) for rec, d in latest.values()))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
