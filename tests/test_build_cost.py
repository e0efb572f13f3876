"""Driver-side plan-construction cost guards.

Round-7 forensics: the ANN/fingerprint builders' generated expressions
(32 sequential-double dots in an LSH bucket, 64 per-bit vote aggregates)
were composed Column-by-Column, costing thousands of py4j round-trips —
1.4 s of driver time per build on this host and proportionally worse
against a remote driver↔cluster link, drifting with socket latency and
masquerading as an execution regression in bench history. The fix emits
generated expression families as SQL text parsed by one ``F.expr``.

These tests pin the round-trip COUNT of a warm build — deterministic for
a fixed plan, unlike wall time — so a refactor that quietly reintroduces
per-element Column composition (~5-10x the count) fails here instead of
surfacing as an unexplained bench move three rounds later. Bounds carry
~2x headroom over measured counts (2026-08-14, pyspark 4.1.2) to absorb
minor PySpark-internal changes; a legitimate plan change that grows a
count past its bound should re-measure and re-pin, not delete the test.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from xgboost_ray_spark.registry import all_queries

# (entry, measured warm-build round-trips, pinned ceiling)
BOUNDS = [
    ("s27b_lsh_topk", 592, 1200),
    ("s27_cosine_topk", 427, 900),
    ("s26c_simhash", 364, 800),
    ("s26b_minhash_lsh", 415, 900),
    ("s26e_hamming_pairs", 1422, 2800),
    # s27j executes its Lloyd iterations AT build (2 update collects +
    # the one-pass seed-sample collect ride the count; the r15 one-pass
    # seeding removed the K-1 per-pass argmax jobs, so the measured
    # count can only have dropped below the r10-era 1067); the pin
    # still catches the literal regression class — per-element centroid
    # Columns measured 24,831.
    ("s27j_kmeans", 1067, 2200),
    ("s27h_embedding_quantize", 166, 500),
    ("s32_profile", 101, 400),
    # Streaming builders (round-9 sweep, VERDICT r8 #6): these construct
    # their plan per (re)start, where driver latency bites again on every
    # recovery of a long-lived job on a remote cluster. Each count below
    # covers the full availableNow build-execute-collect cycle (micro-
    # batch count is deterministic for fixed input) and was bit-stable
    # across back-to-back runs on 2026-08-15. All already low-hundreds —
    # no per-element composition found; pinned so it stays that way.
    # (re-measured 2026-10-20 with no plan rendered by the runners:
    # s25 177, s25b 177, s25c 178, s25d 104, s25e 63, s25f 291, s25g 422,
    # s25h 129, s25i 750, s25j 219, s25k 149, s25l 671 — left pinned at
    # the earlier readings, which give the same floor and ceiling)
    ("s25_stream_tumbling", 178, 400),
    ("s25b_stream_sliding", 178, 400),
    ("s25c_stream_watermark_append", 179, 400),
    ("s25d_stateful_sessions", 105, 250),
    ("s25e_stream_dedup", 64, 150),
    ("s25f_stream_static_join", 293, 600),
    ("s25g_stream_stream_join", 425, 900),
    ("s25h_file_sink_etl", 131, 300),
    ("s25i_stream_cdc_upsert", 752, 1500),
    ("s25j_stream_trending", 221, 500),
    ("s25k_stream_session_window", 151, 350),
    ("s25l_stream_outlier_guard", 674, 1400),
]


def _count_roundtrips(spark, build, sf_dir: str) -> int:
    import gc

    from py4j import clientserver
    from py4j.protocol import MEMORY_COMMAND_NAME

    build(spark, sf_dir)  # warm per-process memos (dim probes, parses)
    # Flush pending proxy finalizers BEFORE counting, and don't count
    # memory-management traffic: py4j detaches Java-side objects with an
    # ``m``-command when their Python proxies are garbage-collected, on
    # whatever build a GC cycle happens to land in. Under the full suite
    # the preceding tests accumulate thousands of proxies, a cycle fired
    # mid-build here, and this count flaked ~2.3x over its pin while the
    # same build measured exactly at-pin in isolation (round 7). Only
    # plan-construction commands are the cost this guard pins.
    gc.collect()
    orig = clientserver.ClientServerConnection.send_command
    n = 0

    def counting(self, command, *args, **kwargs):
        nonlocal n
        if not command.startswith(MEMORY_COMMAND_NAME):
            n += 1
        return orig(self, command, *args, **kwargs)

    clientserver.ClientServerConnection.send_command = counting
    try:
        build(spark, sf_dir)
    finally:
        clientserver.ClientServerConnection.send_command = orig
    return n


@pytest.mark.parametrize("name,measured,ceiling", BOUNDS)
def test_build_roundtrip_count_bounded(spark, name, measured, ceiling):
    n = _count_roundtrips(spark, all_queries()[name].build, SF_SMOKE)
    # Floor: if the patched transport class stops being the active py4j
    # path (e.g. PYSPARK_PIN_THREAD=false selects GatewayConnection, or a
    # future pyspark swaps transports), n collapses to 0 and every
    # ceiling check passes vacuously — fail loudly instead so the
    # instrumentation gets re-pointed rather than silently disabled.
    assert n >= measured // 5, (
        f"{name}: counted only {n} py4j round-trips (measured {measured} "
        "when pinned) — is ClientServerConnection still the active "
        "transport this instrumentation patches?"
    )
    assert n <= ceiling, (
        f"{name}: warm build made {n} py4j round-trips "
        f"(measured {measured} when pinned, ceiling {ceiling}) — "
        "per-element Column composition reintroduced in a generated "
        "expression family? Emit it as SQL text (see vector.dot_sql)."
    )
