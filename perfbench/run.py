#!/usr/bin/env python3
"""Repo benchmark: one client in a closed loop over one workload.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 10 --trace 0

Workloads (perfbench/workloads.py): etl_star, llm_dedup, gbt_train,
stream_sessions. Each run

1. reads the project's fixture tables, copied into ``perfbench/data/``
   (``--sf 0.01`` by default, ``0.001`` for the self-tests);
2. sets up a session several times (cold start, then restarts in the same
   JVM) and reports the median CPU seconds of a set-up as ``setup_s``;
3. runs passes over the workload's operations in the last session until
   ``--seconds`` have passed, at least one; each pass runs the operations
   in an order permuted by ``--seed``. The first pass is the first use of
   each operation in a fresh session, so it includes JIT and first-use
   costs. ``pass_s.p50`` and ``pass_cpu_s.p50`` are the median wall and
   CPU time of a pass;
4. checks every pass outside the timed window (DuckDB oracles, seeded ML
   confusion counts, AUC floor) and counts wrong or failed operations.

``--trace 1`` also turns on Spark's event log (uncompressed, not rolling),
tags every job ``workload/op/phase/pass`` and folds task metrics, SQL
executions, Python-worker metrics and streaming progress onto each
operation's ``build`` and ``exec`` phases. The full record goes to
``.perfbench/out/``; ``perfbench/render.py`` turns it into a table.

The last stdout line is the result JSON; with ``--trace 0`` its metrics
are the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. All reads and writes stay inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data")
SCALES = ("0.01", "0.001")
SETUPS = 6
WARMUP_QUERY = "s03_projection"
WORKLOADS = ("etl_star", "llm_dedup", "gbt_train", "stream_sessions")


def _isolate_io() -> dict:
    """Point every temp/scratch location of Python, the JVM and Spark at
    ``.perfbench/`` inside the checkout."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "local", "eventlog", "out")}
    for k in ("tmp", "local", "eventlog"):
        shutil.rmtree(dirs[k], ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # Every JVM (spark-submit's launcher and the driver): temp files in the
    # checkout, no hsperfdata file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    return dirs


class Sample:
    """Handle an operation gets for one timed sample: ``phase(name)`` times
    (and, traced, tags) a part of it; ``note`` stores a side measurement."""

    def __init__(self, run: "Run", rec: dict, sid: str) -> None:
        self.run, self.rec, self.sid = run, rec, sid

    @contextmanager
    def phase(self, name: str):
        from perfbench.tracing import job_tag

        run, rec = self.run, self.rec
        tag = f"{run.workload}/{rec['op']}/{name}/p{rec['pass']}" if run.traced else None
        with run.spans.span(f"{rec['op']}.{name}", op_id=self.sid, phase=name, tag=tag) as sp:
            with job_tag(run.spark, tag):
                yield
        rec["phases"][name] = sp["wall_s"]
        run.windows.append(sp)

    def note(self, key: str, value) -> None:
        self.rec["notes"][key] = value


class Run:
    """One benchmark run. ``state`` carries values between the operations
    of a pass (gbt train -> predict)."""

    def __init__(self, args, dirs) -> None:
        from perfbench.tracing import Spans

        self.args = args
        self.dirs = dirs
        self.traced = bool(args.trace)
        self.workload = args.workload
        self.spans = Spans()
        self.windows: list[dict] = []
        self.samples: list[dict] = []
        self.setups: list[dict] = []
        self.stream_events: list[dict] = []
        self.state: dict = {}
        self.load_table_s = [0.0]
        self.spark = None
        self.data_dir = None
        self.oracle = None

    # -- session ----------------------------------------------------------
    def spark_conf(self) -> dict:
        if not self.traced:
            return {}
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def setup(self, index: int) -> None:
        from xgboost_ray_spark.registry import (
            all_queries,
            ensure_workers_can_import,
            prepare_session,
        )
        from xgboost_ray_spark.session import get_spark

        from perfbench.tracing import tree_cpu_s
        from perfbench.workloads import noop_write

        rec = {"index": index}
        cpu0 = tree_cpu_s()
        with self.spans.span("setup", index=index) as total:
            with self.spans.span("session.get_spark") as sp:
                self.spark = get_spark(app_name="perfbench", extra_conf=self.spark_conf())
            rec["session.get_spark_s"] = sp["wall_s"]
            with self.spans.span("registry.prepare") as sp:
                prepare_session(self.spark)
                ensure_workers_can_import(self.spark)
            rec["registry.prepare_s"] = sp["wall_s"]
            with self.spans.span("session.warmup") as sp:
                noop_write(all_queries()[WARMUP_QUERY].build(self.spark, self.data_dir))
            rec["session.warmup_s"] = sp["wall_s"]
        rec["wall_s"] = total["wall_s"]
        rec["cpu_s"] = tree_cpu_s() - cpu0
        self.setups.append(rec)

    # -- one timed sample ------------------------------------------------
    def sample(self, op, pass_no: int) -> dict:
        from perfbench.tracing import cpu_ticks, host_noise, tree_cpu_s

        sid = f"{op.name}#{pass_no}"
        rec = {"op": op.name, "pass": pass_no, "phases": {}, "notes": {}}
        handle = Sample(self, rec, sid)
        # Spill producers re-run every pass; the hook may disappear with a
        # spill redesign, hence the getattr.
        reset = getattr(self.dedup, "reset_spill_reuse", None)
        if reset is not None:
            reset()
        self.load_table_s[0] = 0.0
        ticks0, cpu0 = cpu_ticks(), tree_cpu_s()
        out, err = None, None
        with self.spans.span(op.name, op_id=sid, kind="sample") as sp:
            try:
                out = op.run(self, handle)
            except Exception as exc:  # counted as a failed operation
                err = f"{type(exc).__name__}: {exc}"[:500]
                rec["traceback"] = traceback.format_exc()
        rec["cpu_s"] = tree_cpu_s() - cpu0
        rec["host"] = host_noise(ticks0, cpu_ticks())
        rec["wall_s"] = sp["wall_s"]
        rec["start"], rec["end"] = sp["start"], sp["end"]
        if self.traced and err is None:
            rec["catalog.load_table_s"] = self.load_table_s[0]
            rec["plan"] = _plan_phases(out)
            rec["spill"] = _scratch_bytes_since(self.scratch_dir, sp["start"])
        if err is None:
            try:
                if op.check is not None:
                    err = op.check(self, handle, out)
                elif op.oracle:
                    err = self.oracle.check(out, op.oracle)
                    rec["checked"] = True
            except Exception as exc:
                err = f"check {type(exc).__name__}: {exc}"[:500]
                rec["traceback"] = traceback.format_exc()
        rec["error"] = err
        self.samples.append(rec)
        return rec

    # -- the whole run ----------------------------------------------------
    def execute(self) -> dict:
        from xgboost_ray_spark import catalog
        from xgboost_ray_spark.operators import dedup
        from xgboost_ray_spark.registry import all_queries

        from perfbench import workloads
        from perfbench.oracle import Oracle
        from perfbench.tracing import peak_rss_mb, stream_listener

        self.dedup = dedup
        self.scratch_dir = catalog.SCRATCH_DIR
        all_queries()
        if self.traced:
            _wrap_load_table(self.load_table_s)
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            self.setup(i)
        from pyspark import SparkContext

        jvm_proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.streams.addListener(stream_listener(self.stream_events))
        units = workloads.units(self.workload)
        self.oracle = Oracle(self.data_dir, catalog.TABLES)
        rng = random.Random(self.args.seed)
        passes: list[dict] = []
        t0 = time.perf_counter()
        try:
            while not passes or time.perf_counter() - t0 < self.args.seconds:
                order = [op for unit in rng.sample(units, len(units)) for op in unit]
                p = len(passes)
                recs = [self.sample(op, p) for op in order]
                passes.append({
                    "pass": p,
                    "order": [op.name for op in order],
                    "wall_s": sum(r["wall_s"] for r in recs),
                    "cpu_s": sum(r["cpu_s"] for r in recs),
                })
            time.sleep(0.5)  # let trailing streaming progress events arrive
        finally:
            self.oracle.close()
        rss = peak_rss_mb(jvm_proc.pid if jvm_proc else None)
        app_id = self.spark.sparkContext.applicationId
        cores = self.spark.sparkContext.defaultParallelism
        _shutdown(self.spark, jvm_proc)
        self._attribute_stream_events()
        if self.traced:
            self._fold_event_log(app_id)
        return {
            "workload": self.workload,
            "seed": self.args.seed,
            "trace": int(self.traced),
            "data_dir": self.data_dir,
            "cores": cores,
            "setups": self.setups,
            "passes": passes,
            "samples": self.samples,
            "stream_events": self.stream_events,
            "spans": self.spans.export(),
            "peak_rss_mb": rss,
        }

    def _attribute_stream_events(self) -> None:
        """Assign each micro-batch to the sample its trigger started in."""
        for ev in self.stream_events:
            for rec in self.samples:
                if rec["start"] <= ev["at"] <= rec["end"]:
                    ev["op"], ev["pass"] = rec["op"], rec["pass"]
                    break

    def _fold_event_log(self, app_id: str) -> None:
        from perfbench.tracing import event_log_file, fold, read_event_log

        path = event_log_file(self.dirs["eventlog"], app_id)
        if path is None:
            raise RuntimeError(f"no event log for {app_id} in {self.dirs['eventlog']}")
        layers = fold(read_event_log(path), self.windows)
        for rec in self.samples:
            sid = f"{rec['op']}#{rec['pass']}"
            rec["layers"] = {
                phase: layers[(sid, phase)]
                for phase in rec["phases"]
                if (sid, phase) in layers
            }


def _wrap_load_table(acc: list) -> None:
    """Time every ``catalog.load_table`` call made by engine modules."""
    import xgboost_ray_spark.catalog as cat

    orig = cat.load_table

    def load_table(*a, **k):
        t0 = time.perf_counter()
        try:
            return orig(*a, **k)
        finally:
            acc[0] += time.perf_counter() - t0

    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if name.startswith("xgboost_ray_spark") and getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def _plan_phases(df) -> dict:
    """Catalyst phase durations (ms) from the frame's QueryExecution."""
    if df is None:
        return {}
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _scratch_bytes_since(root: str, since: float) -> dict:
    """Bytes of scratch files written at or after ``since``: ``spill`` for
    the engine's spill/scratch_once dirs, ``other`` for the rest (stream
    sinks, snapshots)."""
    out = {"spill": 0, "other": 0}
    for dirpath, _dirs, files in os.walk(root):
        kind = "spill" if os.path.relpath(dirpath, root).startswith("spill_") else "other"
        for f in files:
            if f.startswith(".") or f.endswith(".crc"):
                continue
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                continue
            if st.st_mtime >= since - 0.01:
                out[kind] += st.st_size
    return out


def _shutdown(spark, jvm_proc) -> None:
    """Stop Spark, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if jvm_proc is not None:
            try:
                if jvm_proc.stdin:
                    jvm_proc.stdin.close()
                jvm_proc.wait(timeout=30)
            except Exception:
                jvm_proc.kill()
                jvm_proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=SCALES, default=SCALES[0],
                    help="scale factor of the fixture tables to read")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import xgboost_ray_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package: {exc}", file=sys.stderr)
        return 2
    data_dir = os.path.join(DATA, f"sf{args.sf}")
    from xgboost_ray_spark.catalog import TABLES

    missing = [t for t in TABLES if not os.path.isfile(os.path.join(data_dir, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: tables missing from {data_dir}: {missing}", file=sys.stderr)
        return 2
    dirs = _isolate_io()

    from perfbench import report

    run = Run(args, dirs)
    run.data_dir = data_dir
    record = run.execute()
    report.summarise(record)
    path = os.path.join(
        dirs["out"], f"{args.workload}.trace{args.trace}.seed{args.seed}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, default=str)
    report.print_human(record, dirs["out"])
    print(json.dumps(report.result_line(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
