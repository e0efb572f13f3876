"""Property-based invariants (hypothesis) for the deterministic primitives.

The reference's suite has no property tests (SURVEY §5); these go beyond
it for the two primitives whose correctness is an algebraic invariant
rather than a fixture comparison: split assignment must be a total,
partition-layout-independent function of the key, and INTERLEAVED
shard -> combine_data must be an exact inverse for EVERY (rows, shards)
shape, not just the fixture sizes. Each example is a tiny local Spark
job, so examples are capped low; the invariants themselves are
shape-generic, which is the point.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from xgboost_ray_spark.matrix import ROW_ID_COL, SHARD_COL, ShardingMode, combine_data, shard
from xgboost_ray_spark.operators.sampling import hash_split

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    train=st.integers(min_value=0, max_value=100),
    valid_frac=st.floats(min_value=0.0, max_value=1.0),
    keys=st.lists(st.integers(min_value=-(2**31), max_value=2**31), min_size=1, max_size=40),
)
@settings(**_SETTINGS)
def test_hash_split_total_and_layout_independent(spark, train, valid_frac, keys):
    """Every row lands in exactly one split, and the assignment is a pure
    function of the key — identical across duplicate keys and under any
    repartitioning (the property that makes the split reproducible when
    the cluster, file layout, or corpus grows)."""
    valid = int((100 - train) * valid_frac)
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    out = hash_split(df, "k", train=train, valid=valid)
    rows = out.collect()
    assert len(rows) == len(keys)
    assert all(r.split in ("train", "valid", "test") for r in rows)
    by_key = {}
    for r in rows:
        assert by_key.setdefault(r.k, r.split) == r.split, "same key, same split"
    reparted = {
        (r.k, r.split)
        for r in hash_split(df.repartition(7), "k", train=train, valid=valid).collect()
    }
    assert reparted == {(r.k, r.split) for r in rows}


@given(
    n_rows=st.integers(min_value=1, max_value=40),
    n_shards=st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_interleaved_shard_combine_roundtrip(spark, n_rows, n_shards):
    """shard(INTERLEAVED) -> per-rank extraction -> combine_data must
    restore the original row order bit-exactly for every shape, matching
    the reference pair (matrix.py:1088-1110 <-> 1114-1157) — including
    ragged shapes where some shards get one more row than others."""
    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") * 10 + 1).alias("v")
    )
    sharded = shard(df, n_shards, ShardingMode.INTERLEAVED, order_col="id")
    pdf = sharded.toPandas()
    shards = [
        pdf[pdf[SHARD_COL] == rank].sort_values(ROW_ID_COL)["v"].to_numpy()
        for rank in range(n_shards)
    ]
    # ragged: first (n_rows mod n_shards) shards hold the extra row
    assert {len(s) for s in shards} <= {n_rows // n_shards, n_rows // n_shards + 1}
    combined = combine_data(shards, ShardingMode.INTERLEAVED)
    np.testing.assert_array_equal(combined, np.arange(n_rows) * 10 + 1)


@given(
    tokens=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),                  # source
            st.integers(min_value=0, max_value=200),      # n_tokens
        ),
        min_size=1,
        max_size=40,
    ),
    budget=st.integers(min_value=1, max_value=64),
)
@settings(**_SETTINGS)
def test_sequence_pack_floor_invariant(spark, tokens, budget):
    """The defining property of greedy packing, for every shape: a doc's
    chunk_id is exactly floor(tokens-before-it-in-its-source / budget) —
    so chunk ids start at 0, never decrease along doc_id within a source,
    and a chunk only overflows the budget by its final straddling doc.
    Also layout-independent: repartitioning must not change assignments."""
    from xgboost_ray_spark.operators.sampling import sequence_pack

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(tokens)),
            "source": [t[0] for t in tokens],
            "n_tokens": [t[1] for t in tokens],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = sequence_pack(df, budget).collect()
    assert len(rows) == len(tokens)
    by_source: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: r.doc_id):
        by_source.setdefault(r.source, []).append(r)
    for source_rows in by_source.values():
        before = 0
        prev_chunk = 0
        for r in source_rows:
            assert r.chunk_id == before // budget
            assert r.chunk_id >= prev_chunk
            prev_chunk = r.chunk_id
            before += r.n_tokens
    reparted = {
        (r.doc_id, r.chunk_id)
        for r in sequence_pack(df.repartition(5), budget).collect()
    }
    assert reparted == {(r.doc_id, r.chunk_id) for r in rows}


@given(
    weights=st.lists(st.integers(min_value=1, max_value=10**6), min_size=1, max_size=40),
    k=st.integers(min_value=1, max_value=10),
)
@settings(**_SETTINGS)
def test_weighted_sample_deterministic_and_layout_independent(spark, weights, k):
    """The ES sample must be a pure function of (key, weight): the same
    k rows come back for any partitioning and on rerun, the sample size
    is min(k, n), and no row appears twice (without replacement)."""
    from xgboost_ray_spark.operators.sampling import weighted_sample

    pdf = pd.DataFrame({"doc_id": range(len(weights)), "w": weights})
    df = spark.createDataFrame(pdf)
    picked = weighted_sample(df, key="doc_id", weight="w", k=k).collect()
    assert len(picked) == min(k, len(weights))
    ids = [r.doc_id for r in picked]
    assert len(set(ids)) == len(ids)
    again = weighted_sample(df.repartition(7), key="doc_id", weight="w", k=k).collect()
    assert {r.doc_id for r in again} == set(ids)


def test_chunk_overlap_token_count_boundaries(spark, tmp_path):
    """s33b's last-chunk rule — emit chunks every CHUNK_STRIDE tokens and
    STOP at the first chunk reaching the document end, ceil((n - chunk)
    / stride) clamped at 0 — pinned at the exact token counts where the
    r7 retune changed behavior: n == CHUNK_TOKENS (one chunk; the naive
    floor((n-1)/stride) bound emitted a fully-contained duplicate tail
    here), n == CHUNK_TOKENS ± 1, an exact stride multiple landing flush
    on the end, and single-token docs. Verified against an independent
    pure-Python spelling of the claimed semantics, chunk hashes
    included, on a crafted documents table."""
    import hashlib

    from xgboost_ray_spark.operators.sampling import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )
    from xgboost_ray_spark.registry import all_queries

    lengths = [
        1,
        CHUNK_TOKENS - 1,
        CHUNK_TOKENS,          # the duplicate-tail regression case
        CHUNK_TOKENS + 1,
        CHUNK_TOKENS + CHUNK_STRIDE,      # second chunk lands flush on end
        CHUNK_TOKENS + CHUNK_STRIDE + 1,  # ...and one token past it
        3 * CHUNK_STRIDE + CHUNK_TOKENS,  # flush multi-chunk doc
        100,
    ]
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(n)))
        for i, n in enumerate(lengths)
    ]
    sf_dir = tmp_path / "sf_chunks"
    sf_dir.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(sf_dir / "documents.parquet")
    )

    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_len, r.chunk_hash)
        for r in all_queries()["s33b_chunk_overlap"]
        .build(spark, str(sf_dir))
        .collect()
    }

    want = {}
    for doc_id, n in enumerate(lengths):
        toks = [f"w{doc_id}_{j}" for j in range(n)]
        idx = 0
        while True:
            start = idx * CHUNK_STRIDE
            chunk = toks[start : start + CHUNK_TOKENS]
            want[(doc_id, idx)] = (
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
            if start + CHUNK_TOKENS >= n:  # first chunk reaching the end
                break
            idx += 1
    assert got == want, (
        f"missing={set(want) - set(got)} extra={set(got) - set(want)} "
        f"diff={[k for k in got if k in want and got[k] != want[k]]}"
    )


def test_sequence_pack_exact_budget_boundaries(spark):
    """chunk_id = floor(tokens-before-me / budget): a doc whose
    predecessors exactly fill the budget starts the NEXT chunk (no
    off-by-one at before_me == budget), an oversized doc is assigned by
    its before-me count alone (it may overflow its chunk — the
    documented greedy-fill semantics), and packing is per-source.
    Verified against a pure-Python fold."""
    from xgboost_ray_spark.operators.sampling import sequence_pack

    budget = 10
    rows = [
        # source "a": 4+6 fills chunk 0 exactly; next doc must open chunk 1
        (1, "a", 4), (2, "a", 6), (3, "a", 1),
        # oversized doc: before_me 1+9=10... craft: 9 then 25 then 1
        (10, "b", 9), (11, "b", 25), (12, "b", 1),
        # single doc exactly at budget
        (20, "c", 10), (21, "c", 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {
        r.doc_id: r.chunk_id for r in sequence_pack(df, budget).collect()
    }
    want = {}
    for src in ("a", "b", "c"):
        before = 0
        for doc_id, s, n in rows:
            if s != src:
                continue
            want[doc_id] = before // budget
            before += n
    assert got == want, f"{got} != {want}"
    assert got[3] == 1, "doc after an exactly-filled chunk opens the next"
    assert got[12] == 3, "oversized doc advances the running count fully"
    assert got[21] == 1, "exact-budget doc fills chunk 0 alone"


def test_temporal_split_exact_embargo_boundaries(spark, tmp_path):
    """The r9-window first-timer s31e pins BOTH of its edges at the
    microsecond: train is STRICTLY before cutoff - PURGE_DAYS (a row at
    exactly the embargo start is purged, not trained — the leak-free
    guarantee), and test is >= cutoff (a row at exactly the cutoff is
    test). Driven end-to-end through the registered builder over a
    purpose-built orders table whose rows sit 1 us either side of each
    edge; prices are decades so a misassigned row corrupts its bucket's
    sum visibly."""
    from datetime import datetime

    from xgboost_ray_spark.registry import all_queries

    rows = [
        # (o_orderdate, o_totalprice)
        (datetime(2000, 5, 1, 23, 59, 59, 999999), 1.0),  # 1us < embargo -> train
        (datetime(2000, 5, 2, 0, 0, 0), 10.0),            # == embargo start -> purged
        (datetime(2000, 5, 31, 23, 59, 59, 999999), 100.0),  # 1us < cutoff -> purged
        (datetime(2000, 6, 1, 0, 0, 0), 1000.0),          # == cutoff -> test
    ]
    spark.createDataFrame(
        rows, "o_orderdate timestamp, o_totalprice double"
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))

    got = {
        r["split"]: (r["n_orders"], r["sum_price"])
        for r in all_queries()["s31e_temporal_split"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == {
        "train": (1, 1.0),
        "purged": (2, 110.0),
        "test": (1, 1000.0),
    }, got


def test_drift_report_exact_split_and_bin_boundaries(spark, tmp_path):
    """The r9-window first-timer s32c pins its three edges: an event at
    exactly DRIFT_SPLIT_TS belongs to the CURRENT slice (ref is strict
    <), a value at exactly a bin edge (20.0) belongs to the upper bin,
    and values at/above bin 10's floor are capped into the last bin.
    The PSI itself is recomputed in pure Python with the same
    +1-per-occupied-bin Laplace smoothing, so a misassigned row moves a
    bin count and the rounded PSI detectably."""
    import math
    from datetime import datetime

    from xgboost_ray_spark.operators.profile import DRIFT_N_BINS
    from xgboost_ray_spark.registry import all_queries

    split = datetime(2024, 1, 15)
    before = datetime(2024, 1, 14, 23, 59, 59, 999999)
    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, before, 1, "e", 19.999999, None),  # ref, bin 0
        (2, split, 1, "e", 19.999999, None),   # ts == split -> CUR, bin 0
        (3, before, 1, "e", 20.0, None),       # ref, value == edge -> bin 1
        (4, before, 1, "e", 219.9, None),      # ref, floor 10 -> capped bin 10
        (5, split, 1, "e", 500.0, None),       # cur, far over -> capped bin 10
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    # expected, by the documented semantics
    per_bin = {0: (1, 1), 1: (1, 0), 10: (1, 1)}  # bin -> (c_ref, c_cur)
    tot_ref = sum(c for c, _ in per_bin.values())
    tot_cur = sum(c for _, c in per_bin.values())
    psi = 0.0
    for c_ref, c_cur in per_bin.values():
        p_ref = (c_ref + 1) / (tot_ref + DRIFT_N_BINS)
        p_cur = (c_cur + 1) / (tot_cur + DRIFT_N_BINS)
        psi += (p_cur - p_ref) * math.log(p_cur / p_ref)

    [row] = (
        all_queries()["s32c_drift_report"]
        .build(spark, str(tmp_path))
        .collect()
    )
    assert row["event_type"] == "e"
    assert row["n_bins"] == len(per_bin)
    assert row["psi"] == round(psi, 8), (row["psi"], psi)


def test_domain_mixture_exact_budget_boundaries(spark, tmp_path):
    """s31d satisfies each lang's budget EXACTLY via deterministic
    oversampling, pinned at the four arithmetic edges: budget == count
    (one epoch each, no phantom epoch 1), budget == count + 1 (exactly
    the rank-1 doc repeats), budget < count (truncate, never oversample),
    budget == 2*count (every doc exactly twice), and a lang with no
    budget contributes nothing."""
    from xgboost_ray_spark.registry import all_queries

    rows = []
    rows += [("de", i) for i in range(50)]          # B=50 == cnt
    rows += [("es", 100 + i) for i in range(49)]    # B=50 == cnt+1
    rows += [("fr", 200 + i) for i in range(51)]    # B=50 <  cnt
    rows += [("en", 300 + i) for i in range(75)]    # B=150 == 2*cnt
    rows += [("xx", 400 + i) for i in range(5)]     # no budget
    spark.createDataFrame(rows, "lang string, doc_id long").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = (
        all_queries()["s31d_domain_mixture"]
        .build(spark, str(tmp_path))
        .collect()
    )
    per_lang: dict[str, list] = {}
    for r in out:
        per_lang.setdefault(r["lang"], []).append(r)
    assert set(per_lang) == {"de", "es", "fr", "en"}
    # every budget satisfied exactly
    assert {k: len(v) for k, v in per_lang.items()} == {
        "de": 50, "es": 50, "fr": 50, "en": 150,
    }
    # de: budget == count -> no oversampling at the exact boundary
    assert {r["epoch"] for r in per_lang["de"]} == {0}
    # es: exactly ONE doc carries epoch 1 (the md5-rank-1 doc)
    es_epoch1 = [r for r in per_lang["es"] if r["epoch"] == 1]
    assert len(es_epoch1) == 1
    assert len({r["doc_id"] for r in per_lang["es"]}) == 49
    # fr: truncation keeps 50 DISTINCT docs of 51, single epoch
    assert len({r["doc_id"] for r in per_lang["fr"]}) == 50
    assert {r["epoch"] for r in per_lang["fr"]} == {0}
    # en: budget == 2*count -> every doc exactly twice (epochs 0 and 1)
    from collections import Counter

    en_mult = Counter(r["doc_id"] for r in per_lang["en"])
    assert set(en_mult.values()) == {2}
    assert {r["epoch"] for r in per_lang["en"]} == {0, 1}


def test_negative_pairs_exclude_self_and_match_affine_hash(spark, tmp_path):
    """s31g pinned against a pure-Python recomputation of its affine
    hash on a 21-doc corpus chosen so THREE (anchor, j) draws land on
    the anchor itself — the self-negative exclusion edge actually
    fires — and every surviving pair's partner metadata joins back
    exactly."""
    from xgboost_ray_spark.operators.sampling import (
        NEG_PER_ANCHOR,
        _NEG_MULT,
        _NEG_STEP,
    )
    from xgboost_ray_spark.registry import all_queries

    c = 21
    rows = [(i, f"src{i % 4}", ["en", "de"][i % 2]) for i in range(c)]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    want = set()
    self_hits = 0
    for i in range(c):
        for j in range(1, NEG_PER_ANCHOR + 1):
            neg = (i * _NEG_MULT + j * _NEG_STEP) % c
            if neg == i:
                self_hits += 1
                continue
            want.add((i, j, neg, f"src{neg % 4}", ["en", "de"][neg % 2]))
    assert self_hits == 3, "fixture must exercise the self-exclusion edge"

    got = {
        (r["doc_id"], r["neg_rank"], r["neg_id"], r["neg_source"],
         r["neg_lang"])
        for r in all_queries()["s31g_negative_pairs"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == want, (
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )


def test_class_entropy_matches_pure_python(spark, tmp_path):
    """s28k recomputed in pure Python over crafted docs covering every
    character-class composition edge: all four classes balanced (maximum
    entropy, 2000 mbits, flag ok), a single-class doc (entropy 0,
    degenerate), a two-class doc (1000 mbits), multi-byte 'other'
    characters, and the empty-doc filter."""
    import math

    from xgboost_ray_spark.registry import all_queries

    docs = {
        1: "ab12  #!",   # 2 alpha, 2 digit, 2 space, 2 other -> 2000.0
        2: "aaaa",       # one class -> 0.0, degenerate
        3: "ab12",       # two classes? no: alpha+digit balanced -> 1000.0
        4: "日本語",      # all 'other' (multi-byte) -> 0.0, degenerate
        5: "",           # filtered out by length > 0
    }
    spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    def expected(text: str) -> float:
        n = len(text)
        counts = [
            sum(c.isascii() and c.isalpha() for c in text),
            sum(c.isdigit() for c in text),
            text.count(" "),
        ]
        counts.append(n - sum(counts))
        h = -sum(
            (k / n) * math.log2(k / n) for k in counts if k > 0
        )
        return round(1000.0 * h, 6)

    got = {
        r["doc_id"]: (r["entropy_mbits"], r["entropy_flag"])
        for r in all_queries()["s28k_class_entropy"]
        .build(spark, str(tmp_path))
        .collect()
    }
    want = {
        d: (expected(t), "degenerate" if expected(t) < 500 else "ok")
        for d, t in docs.items()
        if len(t) > 0
    }
    assert got == want, (got, want)
    assert got[1] == (2000.0, "ok")
    assert got[2] == (0.0, "degenerate")


def test_funnel_strict_order_at_exact_timestamps(spark, tmp_path):
    """s24c's funnel steps are STRICTLY ordered (ts > prior step): a
    click at exactly the view's timestamp does not advance the funnel, a
    click 1 us later does; a purchase before the qualifying click never
    counts; steps out of order never count. Driven end-to-end through
    the registered builder over a purpose-built events table."""
    from datetime import datetime, timedelta

    from xgboost_ray_spark.registry import all_queries

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    us = timedelta(microseconds=1)
    rows = []
    # user 1: click AT the view instant (excluded), later click counts,
    # purchase AT that click instant (excluded) -> view+click only
    rows += [(1, "view", t0), (1, "click", t0),
             (1, "click", t0 + us), (1, "purchase", t0 + us)]
    # user 2: clean strict chain 1 us apart -> full funnel
    rows += [(2, "view", t0), (2, "click", t0 + us),
             (2, "purchase", t0 + 2 * us)]
    # user 3: click BEFORE the view, none after -> view only
    rows += [(3, "click", t0), (3, "view", t0 + us)]
    # user 4: purchase between view and click -> view+click, no funnel
    rows += [(4, "view", t0), (4, "purchase", t0 + us),
             (4, "click", t0 + 2 * us)]
    spark.createDataFrame(
        [(i, u, e, t) for i, (u, e, t) in enumerate(rows)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    [row] = (
        all_queries()["s24c_funnel"].build(spark, str(tmp_path)).collect()
    )
    assert (row["n_view"], row["n_view_click"], row["n_full_funnel"]) == (
        4, 3, 1,
    ), row


def test_retention_cohort_week_and_day_boundaries(spark, tmp_path):
    """s24e's week bucketing pinned at its two edges: an event 6 days
    after the cohort day (even at 23:59:59.999999) is still week 0, the
    7th day at midnight is week 1, the 14th day is week 2 — and an
    event 1 us before midnight belongs to the earlier calendar day for
    BOTH the cohort assignment and the activity day. Multiple events in
    one (user, week) collapse to one active row."""
    from datetime import datetime

    from xgboost_ray_spark.registry import all_queries

    rows = [
        # user 1, cohort 2024-03-01
        (1, datetime(2024, 3, 1, 12, 0, 0)),
        (1, datetime(2024, 3, 7, 23, 59, 59, 999999)),  # day 6 -> week 0
        (1, datetime(2024, 3, 8, 0, 0, 0)),             # day 7 -> week 1
        (1, datetime(2024, 3, 8, 18, 0, 0)),            # same week, distinct
        (1, datetime(2024, 3, 14, 12, 0, 0)),           # day 13 -> week 1
        (1, datetime(2024, 3, 15, 0, 0, 0)),            # day 14 -> week 2
        # user 2: 1 us before midnight -> cohort day is still 03-01
        (2, datetime(2024, 3, 1, 23, 59, 59, 999999)),
    ]
    spark.createDataFrame(
        [(i, u, "e", t) for i, (u, t) in enumerate(rows)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        (str(r["cohort_day"]), r["week_k"]): r["n_active"]
        for r in all_queries()["s24e_retention_cohorts"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == {
        ("2024-03-01", 0): 2,
        ("2024-03-01", 1): 1,
        ("2024-03-01", 2): 1,
    }, got


@given(
    pts=st.lists(
        st.lists(
            st.integers(min_value=-128, max_value=127), min_size=2, max_size=2
        ),
        min_size=2,
        max_size=6,
        unique_by=tuple,
    )
)
@settings(**_SETTINGS)
def test_farthest_point_seed_order_matches_pure_python(spark, pts):
    """The k-means farthest-point seeding must equal a from-first-
    principles pure-Python mirror — an oracle INDEPENDENT of both the
    Spark SQL expressions and the DuckDB CTE unrolling (which share
    their arithmetic spelling, so a shared misreading of the greedy
    max-min rule would slip past the hash check). Exposed through the
    public API by k = n, iters = 0: every point becomes a seed and its
    cluster id IS its selection rank. Coordinates are k/256 (exact in
    float32), so the quantization mirrors exactly; points are unique,
    so selection ranks are unambiguous."""
    from xgboost_ray_spark.operators.similarity import KM_SCALE, kmeans_assign

    import math

    from tests.kmeans_mirror import farthest_point_order

    coords = [[v / 256 for v in p] for p in pts]
    # FLOOR like both engines; v is a /256 rational in [-0.5, 0.5), so
    # (v + 0.5) * SCALE is exact in float64 and the floor is unambiguous
    qs = [[math.floor((v + 0.5) * KM_SCALE) for v in p] for p in coords]
    order = farthest_point_order(qs, len(qs))

    vecs = spark.createDataFrame(
        [(i, p) for i, p in enumerate(coords)], ["vec_id", "embedding"]
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(vecs, k=len(qs), iters=0).collect()
    }
    expected = {vid: rank for rank, vid in enumerate(order)}
    assert got == expected


@given(
    left_rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
        ),
        min_size=1,
        max_size=6,
    ),
    right_rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
            st.integers(min_value=0, max_value=99),
        ),
        max_size=6,
    ),
)
@settings(**_SETTINGS)
def test_asof_join_matches_pure_python_mirror(spark, left_rows, right_rows):
    """asof_join's union + last_value(ignorenulls) window spelling vs a
    from-first-principles pure-Python scan — an oracle independent of
    the SQL spelling, covering exactly the semantics the docstring
    claims were each a real bug once: inclusive <=, max-(time, tiebreak)
    winner among candidates, NULL right times/keys never match, NULL
    left keys and NULL left times come back unmatched."""
    from xgboost_ray_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)],
        "k long, lt long, lid long",
    )
    right = spark.createDataFrame(
        [(k, t, i, v) for i, (k, t, v) in enumerate(right_rows)],
        "k long, rt long, rid long, val long",
    )
    out = asof_join(
        left, right, on="k", left_time="lt", right_time="rt",
        right_cols=["val", "rid"], tiebreak=["rid"],
    )
    got = {r["lid"]: (r["val"], r["rid"]) for r in out.collect()}

    expected = {}
    for lid, (lk, lt_) in enumerate(left_rows):
        cands = [
            (rt, rid, v)
            for rid, (rk, rt, v) in enumerate(right_rows)
            if lk is not None and rk == lk
            and rt is not None and lt_ is not None and rt <= lt_
        ]
        if cands:
            rt, rid, v = max(cands)
            expected[lid] = (v, rid)
        else:
            expected[lid] = (None, None)
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_dup_clusters_matches_union_find(spark, edges):
    """The iterative min-label propagation must equal a pure-Python
    union-find on every generated graph — an oracle independent of both
    the Spark loop and the recursive-CTE DuckDB oracle (which could
    share a misreading of the closure semantics). Generated graphs
    include self-loops, parallel/reversed duplicate edges, and chains
    (multi-round convergence)."""
    from xgboost_ray_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_root"] for r in dup_clusters(pairs).collect()
    }

    comp: dict[int, set] = {}
    for node in {n for e in edges for n in e}:
        comp[node] = {node}
    for a, b in edges:
        ca, cb = comp[a], comp[b]
        if ca is not cb:
            ca |= cb
            for n in cb:
                comp[n] = ca
    expected = {n: min(c) for n, c in comp.items()}
    assert got == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=6),
        min_size=2,
        max_size=5,
    )
)
@settings(**_SETTINGS)
def test_ngram_jaccard_matches_pure_python(spark, docs):
    """Exact n-gram Jaccard vs a from-first-principles mirror: distinct
    word-bigram sets (with the short-doc whole-text fallback shingle),
    Fraction-exact threshold comparison, i<j pair ordering. Independent
    of both the Spark join spelling and the DuckDB oracle, which share
    the shingle/threshold expressions."""
    from fractions import Fraction

    from xgboost_ray_spark.operators.dedup import ngram_jaccard_pairs

    n, threshold = 2, 0.5
    texts = [" ".join(words) for words in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=n, threshold=threshold).collect()
    }

    def shingles(words):
        m = max(len(words) - (n - 1), 1)
        return {" ".join(words[i : i + n]) for i in range(m)}

    sets = [shingles(w) for w in docs]
    expected = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            thr = Fraction(threshold).limit_denominator(10**6)
            if inter and Fraction(inter, union) >= thr:
                expected[(i, j)] = inter / union
    assert set(got) == set(expected)
    for pair, j_exact in expected.items():
        assert abs(got[pair] - j_exact) <= 1e-6


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(**_SETTINGS)
def test_pagerank_matches_pure_python_mirror(spark, edges):
    """The fixed-point PageRank loop vs a from-first-principles integer
    mirror — independent of both the Spark plan and the CTE-unrolled
    DuckDB oracle. Pins the exact declared semantics: out-degree counts
    DUPLICATE edges (each sends its own share), shares are
    floor(rank / od), damping is (85 * inc) // 100 over BASE, and dst
    nodes that never appear as src drop out (the documented no-dangling
    contract)."""
    from xgboost_ray_spark.operators.graph import (
        PR_BASE,
        PR_DAMP_PCT,
        PR_ITERS,
        PR_SCALE,
        pagerank,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df).collect()}

    nodes = {s for s, _ in edges}
    od = {}
    for s, _ in edges:
        od[s] = od.get(s, 0) + 1
    rank = {n: PR_SCALE for n in nodes}
    for _ in range(PR_ITERS):
        inc = {}
        for s, d in edges:
            inc[d] = inc.get(d, 0) + rank[s] // od[s]
        rank = {
            n: PR_BASE + (PR_DAMP_PCT * inc.get(n, 0)) // 100 for n in nodes
        }
    assert got == rank


def test_sessionization_gap_boundary_is_strict(spark, tmp_path):
    """s24b's session cut is STRICTLY > 30 minutes between consecutive
    events (microsecond-exact, matching the oracle's epoch_us
    arithmetic): a gap of exactly 30:00.000000 continues the session,
    one microsecond more starts a new one; simultaneous events
    (tie-broken by event_id) share a session; a lone event is one
    session. Driven through the registered builder over a purpose-built
    events table."""
    from datetime import datetime, timedelta

    from xgboost_ray_spark.registry import all_queries

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    gap = timedelta(minutes=30)
    us = timedelta(microseconds=1)
    rows = [
        # user 1: exact-30:00 gap continues; +1 us past it cuts
        (1, t0), (1, t0 + gap), (1, t0 + gap + gap + us),
        # user 2: lone event
        (2, t0),
        # user 3: two simultaneous events
        (3, t0), (3, t0),
    ]
    spark.createDataFrame(
        [(i, u, "view", t) for i, (u, t) in enumerate(rows)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in all_queries()["s24b_sessionization"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == {1: (2, 3), 2: (1, 1), 3: (1, 2)}, got


def test_gaps_islands_day_and_month_boundaries(spark, tmp_path):
    """s14e's islands are runs of CONSECUTIVE CALENDAR DAYS of activity:
    same-day repeat events collapse (distinct before the window), a
    one-day gap splits islands, a month boundary does not (date
    arithmetic, not day-of-month), and 23:59:59.999999 -> 00:00:00.000000
    counts as two consecutive days. Timestamps are tz-aware UTC so the
    fixture means the same instants on any test host (PySpark converts
    NAIVE datetimes through the OS timezone, which the session tz conf
    does not govern — a naive 23:59:59.999999 would cross the UTC date
    line on an east-of-UTC host and merge user 3's island)."""
    from datetime import date, datetime, timedelta, timezone

    from xgboost_ray_spark.registry import all_queries

    utc = timezone.utc
    rows = [
        # user 1: two events on 03-01 (collapse), 03-02, gap, 03-04
        (1, datetime(2024, 3, 1, 9, 0, tzinfo=utc)),
        (1, datetime(2024, 3, 1, 21, 0, tzinfo=utc)),
        (1, datetime(2024, 3, 2, 0, 0, tzinfo=utc)),
        (1, datetime(2024, 3, 4, 5, 0, tzinfo=utc)),
        # user 2: month boundary is still consecutive
        (2, datetime(2024, 3, 31, 12, 0, tzinfo=utc)),
        (2, datetime(2024, 4, 1, 12, 0, tzinfo=utc)),
        # user 3: 1 us before midnight belongs to the earlier day
        (3, datetime(2024, 3, 1, 23, 59, 59, tzinfo=utc)
            + timedelta(microseconds=999999)),
        (3, datetime(2024, 3, 2, 0, 0, tzinfo=utc)),
    ]
    spark.createDataFrame(
        [(i, u, "view", t) for i, (u, t) in enumerate(rows)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        (r["user_id"], r["island_start"], r["island_end"], r["n_days"])
        for r in all_queries()["s14e_gaps_islands"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == {
        (1, date(2024, 3, 1), date(2024, 3, 2), 2),
        (1, date(2024, 3, 4), date(2024, 3, 4), 1),
        (2, date(2024, 3, 31), date(2024, 4, 1), 2),
        (3, date(2024, 3, 1), date(2024, 3, 2), 2),
    }, got


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),        # user
            st.integers(min_value=0, max_value=5),        # seconds offset
            st.sampled_from(["view", "click"]),           # type
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(**_SETTINGS)
def test_scd2_history_matches_pure_python_mirror(spark, events):
    """scd2_history vs a from-first-principles mirror: per user, order
    by (ts, event_id); rows whose type differs from the previous row
    open an interval; the NEXT CHANGE row's ts closes it (not the next
    event's); the last change stays open (valid_to NULL). Generated
    streams include duplicate timestamps (event_id tie-break) and
    zero-length intervals (two changes at one ts). Independent of both
    the lag/lead window spelling and the shared SCD2_HIST_CTE oracle."""
    from datetime import datetime, timedelta, timezone

    from xgboost_ray_spark.operators.cdc import scd2_history

    # tz-aware so the fixture is host-timezone-independent (PySpark
    # converts NAIVE datetimes through the OS tz, not the session conf)
    t0 = datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc)
    t0_us = int(t0.timestamp() * 1_000_000)
    df = spark.createDataFrame(
        [
            (u, ty, t0 + timedelta(seconds=s), eid)
            for eid, (u, s, ty) in enumerate(events)
        ],
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    key = lambda t: (t[0], t[2], -1 if t[3] is None else t[3], t[1])
    got = sorted(
        (
            (
                r["user_id"],
                r["event_type"],
                r["valid_from_us"],
                r["valid_to_us"],
            )
            for r in scd2_history(df)
        .select(
            "user_id",
            "event_type",
            F.unix_micros("valid_from").alias("valid_from_us"),
            F.unix_micros("valid_to").alias("valid_to_us"),
        )
        .collect()
        ),
        key=key,
    )

    expected = []
    for u in {e[0] for e in events}:
        stream = sorted(
            (s, eid, ty)
            for eid, (uu, s, ty) in enumerate(events)
            if uu == u
        )
        changes = [
            (s, ty)
            for i, (s, eid, ty) in enumerate(stream)
            if i == 0 or stream[i - 1][2] != ty
        ]
        for i, (s, ty) in enumerate(changes):
            nxt = changes[i + 1][0] if i + 1 < len(changes) else None
            expected.append(
                (
                    u,
                    ty,
                    t0_us + s * 1_000_000,
                    None if nxt is None else t0_us + nxt * 1_000_000,
                )
            )
    assert got == sorted(expected, key=key)


def test_point_in_time_boundary_is_new_state_at_t(spark, tmp_path):
    """s14d's interval predicate pinned at its exact edges: a state
    change AT the as-of instant T wins (valid_from <= T inclusive, the
    closed interval's valid_to > T exclusive), a change 1 us after T
    does not; a user whose whole history starts after T has no state;
    an untouched open interval from long before T survives. Timestamps
    tz-aware UTC (host-timezone-independent fixture)."""
    from datetime import datetime, timedelta, timezone

    from xgboost_ray_spark.operators.cdc import AS_OF
    from xgboost_ray_spark.registry import all_queries

    t = datetime.strptime(AS_OF, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=timezone.utc
    )
    us = timedelta(microseconds=1)
    day = timedelta(days=1)
    rows = [
        # user 1: view long before T, click exactly AT T -> click at T
        (1, "view", t - day), (1, "click", t),
        # user 2: view before T, click 1 us AFTER T -> still view at T
        (2, "view", t - day), (2, "click", t + us),
        # user 3: first event after T -> no state at T
        (3, "view", t + day),
        # user 4: single open interval opened before T -> view
        (4, "view", t - day),
    ]
    spark.createDataFrame(
        [(i, u, e, ts) for i, (u, e, ts) in enumerate(rows)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        r["user_id"]: r["state_at_t"]
        for r in all_queries()["s14d_point_in_time"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == {1: "click", 2: "view", 4: "view"}, got


# ---------------------------------------------------------------------------
# Round-11 mirrors: the shared-hash-arithmetic class. The md5-bucket idiom,
# the MinHash signature/band pipeline, and the fingerprint digest are each
# spelled twice (Spark expression + DuckDB oracle SQL) from the SAME
# formula, so the oracle cannot catch a misreading of that formula. These
# mirrors recompute each from first principles with hashlib + Python ints.
# ---------------------------------------------------------------------------
@given(
    keys=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=25,
    ),
    mod=st.sampled_from([100, 7, 1000]),
)
@settings(**_SETTINGS)
def test_md5_bucket_matches_hashlib_mirror(spark, keys, mod):
    """The md5-bucket idiom (splits, stratified/weighted sampling, CV
    folds) vs hashlib: bucket(k) must be exactly
    int(md5(str(k))[:15 hex], 16) % mod. Both the Spark spelling
    (conv/substring/md5 with a bigint cast) and the DuckDB oracle
    ('0x'||substring cast) derive from this formula, so only an
    engine-independent mirror pins what it MEANS — including negative
    keys, whose decimal string render must match Python's str()."""
    import hashlib

    from xgboost_ray_spark.operators.sampling import spark_bucket

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["b"]
        for r in df.select("k", spark_bucket(F.col("k"), mod).alias("b"))
        .collect()
    }
    for k in keys:
        expect = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % mod
        assert got[k] == expect, (k, got[k], expect)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "cat", "dog", "x y"]),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(**_SETTINGS)
def test_minhash_signature_and_bands_match_hashlib_mirror(spark, docs):
    """MinHash signatures + LSH band digests vs a from-first-principles
    hashlib mirror: distinct word-3-gram shingles (with the short-doc
    fallback gram), x = md5(shingle) folded to 60 bits mod P, h_i =
    min((a_i*x + b_i) mod P), band digest = md5 of the '_'-joined
    4-hash slice. The Spark expression and the DuckDB oracle embed the
    same (a_i, b_i) literals and the same fold, so they could share a
    misreading of any of those steps; the mirror cannot. Includes the
    'x y' token so split-on-space shingles cross word boundaries the
    generator didn't intend — exactly what real text does."""
    import hashlib

    from xgboost_ray_spark.operators.dedup import (
        BAND_SIZE,
        MERSENNE_P,
        MINHASH_WORDS,
        N_BANDS,
        N_HASHES,
        _hash_family_constants,
        lsh_bands,
        minhash_signatures,
    )

    texts = [" ".join(words) for words in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sigs = minhash_signatures(df)
    got_sigs = {r["doc_id"]: [r[f"h{i}"] for i in range(N_HASHES)]
                for r in sigs.collect()}
    got_bands = {
        (r["doc_id"], r["band_id"]): r["bv"]
        for r in lsh_bands(sigs).collect()
    }

    fams = _hash_family_constants()
    for doc_id, text in enumerate(texts):
        words = text.split(" ")
        m = max(len(words) - (MINHASH_WORDS - 1), 1)
        shingles = {
            " ".join(words[i : i + MINHASH_WORDS]) for i in range(m)
        }
        xs = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MERSENNE_P
            for s in shingles
        ]
        sig = [min((x * a + b) % MERSENNE_P for x in xs) for a, b in fams]
        assert got_sigs[doc_id] == sig, (doc_id, text)
        for band in range(N_BANDS):
            joined = "_".join(
                str(sig[band * BAND_SIZE + j]) for j in range(BAND_SIZE)
            )
            bv = hashlib.md5(joined.encode()).hexdigest()
            assert got_bands[(doc_id, band)] == bv, (doc_id, band)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=24,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_fingerprint_matches_hashlib_mirror(spark, texts):
    """The order-insensitive document fingerprint vs hashlib: md5 of the
    space-joined SORTED DISTINCT lowercased tokens. Pins that Spark's
    split-on-space keeps empty tokens, array_sort is codepoint order
    (Python sorted), and lower() agrees with str.lower() on ASCII —
    the exact steps the DuckDB oracle re-spells rather than checks."""
    import hashlib
    import shutil

    from xgboost_ray_spark.registry import all_queries

    # Drive the REGISTERED builder (its expression is what ships), not a
    # re-spelled copy of it — same fresh-dir helper as the text mirrors.
    tmp = _mirror_docs_dir(spark, texts)
    try:
        got = {
            r["doc_id"]: r["fingerprint"]
            for r in all_queries()["s28d_fingerprint"].build(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for doc_id, text in enumerate(texts):
        norm = " ".join(sorted(set(text.lower().split(" "))))
        expect = hashlib.md5(norm.encode()).hexdigest()
        assert got[doc_id] == expect, (doc_id, text)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "cat", "dog", ""]),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(**_SETTINGS)
def test_simhash_matches_hashlib_mirror(spark, docs):
    """The 16-bit SimHash vs a from-first-principles mirror: per token
    (WITH multiplicity — votes are not set-based), bit_j = bit (3-j%4)
    of hex digit j//4 of md5(token)[:4]; vote_j = sum(2*bit_j - 1);
    fingerprint sets 2^j where vote_j > 0 (a zero vote is a 0 bit).
    The Spark spelling (instr-on-hex shiftright sums) and the DuckDB
    oracle (strpos >> sums) share this arithmetic; the mirror does not."""
    import hashlib

    from xgboost_ray_spark.operators.dedup import SIMHASH_BITS, simhash

    texts = [" ".join(words) for words in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}

    for doc_id, text in enumerate(texts):
        tokens = text.split(" ")
        votes = [0] * SIMHASH_BITS
        for w in tokens:
            h4 = hashlib.md5(w.encode()).hexdigest()[: SIMHASH_BITS // 4]
            for j in range(SIMHASH_BITS):
                bit = (int(h4[j // 4], 16) >> (3 - j % 4)) & 1
                votes[j] += 2 * bit - 1
        expect = sum(2**j for j in range(SIMHASH_BITS) if votes[j] > 0)
        assert got[doc_id] == expect, (doc_id, text, votes)


def _mirror_docs_dir(spark, texts):
    """Write a minimal documents table (doc_id, lang, text) to a fresh
    parquet dir so a mirror can drive the REGISTERED builder — the
    expression that ships — instead of a re-spelled copy of it."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="text_mirror_")
    spark.createDataFrame(
        [(i, "en", t) for i, t in enumerate(texts)],
        "doc_id long, lang string, text string",
    ).coalesce(1).write.parquet(f"{tmp}/documents.parquet")
    return tmp


_MIRROR_WORDS = st.lists(
    st.sampled_from(
        ["the", "a", "select", "join", "table", "row", "cat", "dog", "in", ""]
    ),
    min_size=0,
    max_size=10,
)


@given(docs=st.lists(_MIRROR_WORDS, min_size=1, max_size=5))
@settings(**_SETTINGS)
def test_lang_id_matches_pure_python_mirror(spark, docs):
    """The marker-hit argmax vs first principles: hits count words WITH
    multiplicity, and the preference order on ties is en > sql > data
    (>= comparisons in that fixed order). The Spark when-chain and the
    DuckDB CASE share that reading; the mirror derives it independently.
    The generator's alphabet overlaps all three marker lists so ties
    and zero-hit docs (which fall through to en via 0 >= 0) occur."""
    import shutil

    from xgboost_ray_spark.operators.text import LANG_MARKERS
    from xgboost_ray_spark.registry import all_queries

    texts = [" ".join(words) for words in docs]
    tmp = _mirror_docs_dir(spark, texts)
    try:
        got = {
            r["doc_id"]: (
                r["predicted_lang"], r["hits_en"], r["hits_sql"], r["hits_data"]
            )
            for r in all_queries()["s28b_lang_id"].build(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for doc_id, text in enumerate(texts):
        words = text.split(" ")
        hits = {
            lang: sum(w in markers for w in words)
            for lang, markers in LANG_MARKERS.items()
        }
        if hits["en"] >= hits["sql"] and hits["en"] >= hits["data"]:
            pred = "en"
        elif hits["sql"] >= hits["data"]:
            pred = "sql"
        else:
            pred = "data"
        assert got[doc_id] == (pred, hits["en"], hits["sql"], hits["data"]), (
            doc_id, text, got[doc_id]
        )


@given(docs=st.lists(_MIRROR_WORDS, min_size=1, max_size=5))
@settings(**_SETTINGS)
def test_quality_score_matches_pure_python_mirror(spark, docs):
    """The C4/Gopher-style quality blend vs first principles: stopword
    hits WITH multiplicity over token count (split keeps empty tokens,
    so n_tokens >= 1 always), distinct over tokens, length capped at
    n_chars/400, blend 0.4*length + 0.3*distinct + 0.3*(1-stop). The
    engines only round the final 6dp — the mirror checks the UNROUNDED
    formula within 6e-7 (the 6dp rounding half-width 5e-7 plus float
    slack), so a misread weight or denominator (>= 1e-2 scale) cannot
    hide in rounding."""
    import shutil

    from xgboost_ray_spark.operators.text import STOPWORDS
    from xgboost_ray_spark.registry import all_queries

    texts = [" ".join(words) for words in docs]
    tmp = _mirror_docs_dir(spark, texts)
    try:
        got = {
            r["doc_id"]: r
            for r in all_queries()["s28c_quality_score"].build(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for doc_id, text in enumerate(texts):
        words = text.split(" ")
        n_tokens = len(words)
        stop_ratio = sum(w in STOPWORDS for w in words) / n_tokens
        distinct_ratio = len(set(words)) / n_tokens
        length_score = min(len(text) / 400, 1.0)
        quality = 0.4 * length_score + 0.3 * distinct_ratio + 0.3 * (1 - stop_ratio)
        r = got[doc_id]
        for col, expect in (
            ("stopword_ratio", stop_ratio),
            ("distinct_ratio", distinct_ratio),
            ("length_score", length_score),
            ("quality", quality),
        ):
            assert abs(r[col] - expect) <= 6e-7, (doc_id, col, r[col], expect)


@given(docs=st.lists(_MIRROR_WORDS, min_size=1, max_size=5))
@settings(**_SETTINGS)
def test_repetition_score_matches_pure_python_mirror(spark, docs):
    """The Gopher repetition signals vs first principles: top token
    counted WITH multiplicity, duplicate 2-grams = len(grams) -
    len(set(grams)) where a doc shorter than 2 words contributes its
    single fallback gram (greatest(n-1, 1) sequence bound), and both
    ppm values are exact integer floor-division. The Spark div spelling
    and the DuckDB // spelling share all three readings."""
    import shutil

    from xgboost_ray_spark.registry import all_queries

    texts = [" ".join(words) for words in docs]
    tmp = _mirror_docs_dir(spark, texts)
    try:
        got = {
            r["doc_id"]: (r["n_tokens"], r["top_token_ppm"], r["dup_2gram_ppm"])
            for r in all_queries()["s28g_repetition_score"]
            .build(spark, tmp)
            .collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for doc_id, text in enumerate(texts):
        words = text.split(" ")
        n = len(words)
        top_cnt = max(words.count(w) for w in set(words))
        m = max(n - 1, 1)
        grams = [" ".join(words[i : i + 2]) for i in range(m)]
        dup = len(grams) - len(set(grams))
        expect = (n, (top_cnt * 1_000_000) // n, (dup * 1_000_000) // m)
        assert got[doc_id] == expect, (doc_id, text, got[doc_id], expect)


@given(docs=st.lists(_MIRROR_WORDS, min_size=1, max_size=5))
@settings(**_SETTINGS)
def test_unigram_logprob_matches_pure_python_mirror(spark, docs):
    """The CCNet-style unigram perplexity proxy vs first principles:
    empty-text docs are excluded from BOTH the output and the corpus
    statistics; token frequencies and the total count come from the
    remaining docs (empty-string tokens from runs of spaces included,
    with multiplicity); the score is -sum(ln(c_tok / T)) over the doc's
    tokens divided by its token count. The Spark window-SUM spelling and
    the DuckDB freq-join oracle share every one of those readings. The
    engines round to 8dp to absorb accumulation order; the mirror
    checks the unrounded formula within 1e-7, far below any misread
    term (wrong denominator, set-vs-multiset, missing exclusion)."""
    import math
    import shutil

    from xgboost_ray_spark.registry import all_queries

    texts = [" ".join(words) for words in docs]
    tmp = _mirror_docs_dir(spark, texts)
    try:
        got = {
            r["doc_id"]: (r["n_tokens"], r["avg_neg_logprob"])
            for r in all_queries()["s28l_unigram_logprob"]
            .build(spark, tmp)
            .collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    corpus = {i: t.split(" ") for i, t in enumerate(texts) if len(t) > 0}
    assert set(got) == set(corpus)
    freq: dict[str, int] = {}
    for toks in corpus.values():
        for w in toks:
            freq[w] = freq.get(w, 0) + 1
    total = sum(freq.values())
    for doc_id, toks in corpus.items():
        neg = -sum(math.log(freq[w] / total) for w in toks) / len(toks)
        n, score = got[doc_id]
        assert n == len(toks), (doc_id, n, toks)
        assert abs(score - neg) <= 1e-7, (doc_id, score, neg)


@given(docs=st.lists(_MIRROR_WORDS, min_size=1, max_size=5))
@settings(**_SETTINGS)
def test_feature_hash_matches_hashlib_mirror(spark, docs):
    """The s28j hashing-trick bucketing vs hashlib (VERDICT r11 #4
    audit: the md5 bucket idiom here is externally meaningful — it IS
    the vocabulary-free featurization a downstream model trains on, so
    a shared misreading between the Spark conv() spelling and the
    DuckDB '0x'-cast oracle would silently redefine the feature space).
    Mirror: bucket(tok) = int(md5(tok) first 15 hex digits, 16) % 1024;
    per bucket, token count WITH multiplicity across the corpus and the
    distinct-term (collision) count. split-on-space keeps empty tokens,
    so the md5('') bucket is exercised via the '' sample word."""
    import hashlib
    import shutil
    from collections import Counter

    from xgboost_ray_spark.operators.text import HASH_DIM
    from xgboost_ray_spark.registry import all_queries

    texts = [" ".join(words) for words in docs]
    tmp = _mirror_docs_dir(spark, texts)
    try:
        got = {
            r["bucket"]: (r["n_tokens"], r["n_distinct_terms"])
            for r in all_queries()["s28j_feature_hash"]
            .build(spark, tmp)
            .collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    n_tokens: Counter[int] = Counter()
    terms: dict[int, set[str]] = {}
    for text in texts:
        for tok in text.split(" "):
            b = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % HASH_DIM
            n_tokens[b] += 1
            terms.setdefault(b, set()).add(tok)
    want = {b: (n, len(terms[b])) for b, n in n_tokens.items()}
    assert got == want, (got, want)


@given(
    vecs=st.integers(min_value=1, max_value=4).flatmap(
        lambda d: st.lists(
            st.lists(
                st.one_of(
                    st.floats(
                        min_value=-100.0,
                        max_value=100.0,
                        allow_nan=False,
                        allow_infinity=False,
                    ),
                    # A small pool makes per-dimension mx == mn (the
                    # constant-dimension q=0 branch) actually reachable.
                    st.sampled_from([0.0, 1.0, -1.5]),
                ),
                min_size=d,
                max_size=d,
            ),
            min_size=1,
            max_size=5,
        )
    )
)
@settings(**_SETTINGS)
def test_embedding_quantize_matches_pure_python_mirror(spark, vecs):
    """The s27h affine int8 quantizer vs first principles (VERDICT r11
    #4 audit: the formula is externally meaningful — uint8 min/max
    quantization with midpoint dequantization is the standard vector-
    index storage layout, and the Spark transform() and DuckDB CASE/
    FLOOR/LEAST oracle spell the SAME arithmetic, so the oracle
    re-spells rather than checks). Mirror, per dimension d over the
    corpus: mn/mx = min/max; q = 0 when mx == mn else
    min(floor((x - mn) / (mx - mn) * 255), 255); err = |x - mn| when
    degenerate else |mn + (q + 0.5) * (mx - mn) / 255 - x|. Integer
    digests (q_sum/q_min/q_max) must match EXACTLY; mae is checked
    unrounded within 6e-7 (6dp rounding half-width plus float slack).
    Feeding array<double> directly keeps the operand bit patterns
    identical in both engines, and the Python expression trees below
    reproduce the Spark SQL association order, so the doubles agree."""
    import math

    from xgboost_ray_spark.operators.similarity import (
        Q_LEVELS,
        quantize_embeddings,
    )

    dim = len(vecs[0])
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["q_sum"], r["q_min"], r["q_max"], r["mae"])
        for r in quantize_embeddings(emb, dim=dim).collect()
    }

    mn = [min(v[d] for v in vecs) for d in range(dim)]
    mx = [max(v[d] for v in vecs) for d in range(dim)]
    for i, v in enumerate(vecs):
        qs: list[int] = []
        errs: list[float] = []
        for d in range(dim):
            if mx[d] == mn[d]:
                q = 0
                err = abs(v[d] - mn[d])
            else:
                q = min(
                    math.floor((v[d] - mn[d]) / (mx[d] - mn[d]) * Q_LEVELS),
                    Q_LEVELS,
                )
                err = abs(mn[d] + (q + 0.5) * (mx[d] - mn[d]) / Q_LEVELS - v[d])
            qs.append(q)
            errs.append(err)
        # builtin sum is the same left-to-right fold from an exact 0
        # start that the Spark aggregate() spells, so the doubles agree
        mae = sum(errs) / dim
        q_sum, q_min, q_max, got_mae = got[i]
        assert (q_sum, q_min, q_max) == (sum(qs), min(qs), max(qs)), (i, qs)
        assert abs(got_mae - mae) <= 6e-7, (i, got_mae, mae)
