"""Custom stateful streaming operator: gap sessionization with
``applyInPandasWithState`` (SURVEY.md §2.2 S25; the reference has no
streaming at all, so this is north-star surface).

Semantics: per-user 30-minute-inactivity sessions. A session CLOSES when a
newer event arrives more than the gap after it (or when the event-time
timeout fires after the watermark passes ``last_ts + gap``). Closed sessions
are emitted append-mode; the open tail session stays in the state store.

Scale notes: state is keyed by user_id — one shuffle, state size bounded by
|active users| x O(1) aggregates (we never store raw events, only the open
session's running aggregates). The watermark bounds how long an idle user's
open session is retained before the timeout closes it. This is exactly the
structure that survives a Kafka source at production rates.

Determinism: the test/oracle path replays the events table as ONE microbatch
(single input file, no maxFilesPerTrigger), so every user's full history is
in the first invocation; the emitted rows are then exactly "all closed
sessions, plus open sessions whose event-time timeout fires under the final
watermark" — SQL-expressible, hence the DuckDB oracle in queries.py.

Money-sum policy: per-event values quantize to integer micros and sum in
int64 — exact and order-independent, matching SUM(CAST(value AS
DECIMAL(28,6))) on the oracle side. The quantization is vectorized
(np.rint of value*1e6) with a Decimal fallback only for values within
float-error distance of a .5-micro rounding boundary.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from xgboost_ray_spark.streaming.windows import WATERMARK

GAP_US = 30 * 60 * 1_000_000
_Q6 = Decimal("0.000001")

# Largest microsecond value representable as datetime64[ns] (year 2262):
# the _emit_frame fast path multiplies us by 1000 into int64 nanoseconds,
# which wraps silently past this horizon — guarded loudly instead.
_NS_HORIZON_US = (2**63 - 1) // 1000

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

# Open-session running aggregates (value sum carried as exact micros).
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_micros", T.LongType()),
    ]
)


def _value_micros(values: np.ndarray) -> np.ndarray:
    """value -> round(value * 1e6) as int64, bit-matching a DECIMAL(28,6)
    cast. Vectorized float rounding, with a Decimal recomputation for the
    (measure-zero) values whose *1e6 image lands within float error of a
    .5 boundary."""
    scaled = values * 1e6
    frac = scaled - np.floor(scaled)
    risky = np.abs(frac - 0.5) < 1e-5
    out = np.rint(scaled)
    if risky.any():
        for i in np.nonzero(risky)[0]:
            # ROUND_HALF_UP (ties away from zero), NOT the Decimal default
            # half-even: DuckDB's CAST(double AS DECIMAL(28,6)) rounds
            # exact .5-micro ties away from zero (e.g. 0.0078125 ->
            # 0.007813), so half-even here would emit a sum 1 micro off
            # on exactly the boundary values this fallback exists for.
            out[i] = float(
                Decimal(float(values[i])).quantize(
                    _Q6, rounding=ROUND_HALF_UP
                ) * 1_000_000
            )
    return out.astype(np.int64)


def _emit_frame(user_id, start_us, end_us, n, mic) -> pd.DataFrame:
    """Output frame straight from int64-microsecond arrays.

    Called once per key per micro-batch on the hot applyInPandasWithState
    path (~|users| invocations per batch), so construction cost is the
    operator's per-key floor: int64→datetime64[ns] is one vectorized
    multiply (the old ``pd.to_datetime(Series, unit="us")`` spelling paid
    pandas' generic-inference entry twice per key), and the intermediate
    sessions DataFrame the old signature required is gone. Bit-identical
    output: us*1000 viewed as datetime64[ns] is exactly what
    ``pd.to_datetime(unit="us")`` produced — for values below the
    year-2262 ns horizon, which the guard below enforces LOUDLY (ADVICE
    r15: the raw multiply silently wraps on int64 overflow where the old
    ``pd.to_datetime`` raised ``OutOfBoundsDatetime``; same loud failure
    mode restored at the cost of one tiny ``max()`` per emitted batch).
    """
    start_us = np.asarray(start_us, dtype=np.int64)
    end_us = np.asarray(end_us, dtype=np.int64)
    # end >= start per session by construction, so one max bounds both.
    if len(end_us) and int(end_us.max()) > _NS_HORIZON_US:
        raise OverflowError(
            "session timestamp exceeds the datetime64[ns] horizon "
            f"(max end_us={int(end_us.max())} > {_NS_HORIZON_US}); "
            "the us->ns fast path cannot represent it"
        )
    return pd.DataFrame(
        {
            "user_id": np.full(len(start_us), user_id, dtype=np.int64),
            "session_start": (start_us * 1000).view("datetime64[ns]"),
            "session_end": (end_us * 1000).view("datetime64[ns]"),
            "n_events": np.asarray(n, dtype=np.int64),
            "sum_value": np.asarray(mic, dtype=np.int64) / 1e6,
        }
    )


def close_user_sessions(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    """The applyInPandasWithState function for one user's batch of events.

    Pure-numpy kernel (optimization guide §4.2: per-key constant costs
    multiply by |users|, so the per-key work is the operator's floor).
    The segment split/aggregate runs on int64 arrays via flatnonzero +
    add.reduceat; the previous pandas-groupby spelling paid DataFrame +
    groupby machinery per key for the same integer arithmetic. Emitted
    values are bit-identical: np.lexsort((event_id, ts)) is the same
    stable (ts, event_id) order, and add.reduceat sums the same int64
    micros the groupby summed.
    """
    (user_id,) = key

    if state.hasTimedOut:
        start_us, last_us, n, sum_mic = state.get
        state.remove()
        yield _emit_frame(user_id, [start_us], [last_us], [n], [sum_mic])
        return

    chunks = [c for c in pdfs if len(c)]
    if not chunks:
        # Zero-row invocation (iterator yielded only empty chunks — ADVICE
        # r15: the kernel previously raised IndexError at is_new[0], the
        # pre-r15 pandas spelling crashed in its groupby too). Nothing to
        # sessionize; re-arm the carried session's timeout (idempotent —
        # the same instant the last data batch armed, clamped above the
        # possibly-advanced watermark) and emit nothing.
        if state.exists:
            _, last0, _, _ = state.get
            timeout_ms = (int(last0) + GAP_US) // 1000
            state.setTimeoutTimestamp(
                max(timeout_ms, state.getCurrentWatermarkMs() + 1)
            )
        return
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    ts_us = pdf["ts"].to_numpy().astype(np.int64, copy=False) // 1000
    order = np.lexsort((pdf["event_id"].to_numpy(), ts_us))
    ts_us = ts_us[order]
    mic = _value_micros(pdf["value"].to_numpy(dtype=np.float64)[order])

    # Vectorized session split: new session where the gap exceeds GAP_US.
    is_new = np.empty(len(ts_us), dtype=bool)
    is_new[0] = True
    is_new[1:] = np.diff(ts_us) > GAP_US
    if state.exists:
        start0, last0, n0, mic0 = state.get
        # The first incoming event continues the open session unless the gap
        # from its last event exceeds GAP_US.
        is_new[0] = ts_us[0] - last0 > GAP_US

    # Segment starts; position 0 opens a segment for the grouping even when
    # it continues the carried session (that first segment merges below).
    seg = np.flatnonzero(is_new)
    if len(seg) == 0 or seg[0] != 0:
        seg = np.concatenate([[0], seg])
    ends = np.concatenate([seg[1:], [len(ts_us)]])
    s_start = ts_us[seg]
    s_end = ts_us[ends - 1]
    s_n = ends - seg
    s_mic = np.add.reduceat(mic, seg)

    if state.exists and not is_new[0]:
        # Merge carried aggregates into the first session of this batch.
        s_start[0] = min(int(start0), int(s_start[0]))
        s_end[0] = max(int(last0), int(s_end[0]))
        s_n[0] += int(n0)
        s_mic[0] += int(mic0)
    elif state.exists:
        # Gap closed the carried session: emit it ahead of this batch's.
        s_start = np.concatenate([[start0], s_start])
        s_end = np.concatenate([[last0], s_end])
        s_n = np.concatenate([[n0], s_n])
        s_mic = np.concatenate([[mic0], s_mic])

    state.update(
        (int(s_start[-1]), int(s_end[-1]), int(s_n[-1]), int(s_mic[-1]))
    )
    # Close the open session once event time passes last_ts + gap. A
    # LATE batch (all events below the watermark — applyInPandasWithState
    # does NOT drop late rows) would put that instant in the past, and
    # setTimeoutTimestamp rejects timestamps under the watermark with
    # INVALID_TIMEOUT_TIMESTAMP, killing the whole query. Clamp to just
    # above the watermark: the session closes on the next watermark
    # advance, which is the earliest legal moment anyway.
    timeout_ms = (int(s_end[-1]) + GAP_US) // 1000
    wm_ms = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))

    if len(s_start) > 1:
        yield _emit_frame(
            user_id, s_start[:-1], s_end[:-1], s_n[:-1], s_mic[:-1]
        )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Stateful sessionization over a streaming events frame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", WATERMARK)
        .select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            close_user_sessions,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
