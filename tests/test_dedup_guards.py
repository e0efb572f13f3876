"""Mega-bucket guards for the bucketed pair generators (MinHash LSH bands,
SimHash Hamming blocks).

These pin the skew guard as executable behavior, not a docstring claim:
the cap actually drops oversized buckets, the ``observe()`` metrics report
the drop in-job (zero extra scans), and default observation names are
unique so the operator composes with itself in one plan.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from xgboost_ray_spark.catalog import load_table
from xgboost_ray_spark.operators.dedup import (
    minhash_candidate_pairs,
    simhash_hamming_pairs,
)


def _docs(spark, n=None):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    return docs.limit(n) if n else docs


def test_minhash_observe_metrics_report(spark):
    obs = Observation("mh_guard")
    pairs = minhash_candidate_pairs(_docs(spark), observation=obs)
    pairs.count()
    got = obs.get
    assert got["mega_buckets_dropped"] >= 0
    assert got["max_bucket_size"] >= 2  # fixture has real duplicate docs


def test_minhash_cap_drops_mega_buckets(spark):
    # Cap of 2: any band bucket with >2 docs must be dropped AND counted.
    obs = Observation("mh_guard_tight")
    docs = _docs(spark, n=200)
    capped = minhash_candidate_pairs(docs, max_bucket=2, observation=obs)
    n_capped = capped.count()
    dropped = obs.get["mega_buckets_dropped"]
    n_full = minhash_candidate_pairs(docs).count()
    assert dropped > 0, "fixture duplicates must exceed a cap of 2"
    assert n_capped < n_full, "capped run must emit fewer candidate pairs"


def test_hamming_observe_metrics_report(spark):
    obs = Observation("hm_guard")
    pairs = simhash_hamming_pairs(_docs(spark), observation=obs)
    pairs.count()
    got = obs.get
    assert got["hamming_mega_buckets_dropped"] >= 0
    assert got["hamming_max_bucket_size"] >= 2


def test_hamming_cap_drops_mega_buckets(spark):
    # A 16-bit fingerprint's 6-bit top block has only 64 values — a tight
    # cap must trigger on the fixture and shrink the pair set.
    obs = Observation("hm_guard_tight")
    docs = _docs(spark, n=300)
    capped = simhash_hamming_pairs(docs, max_bucket=3, observation=obs)
    n_capped = capped.count()
    dropped = obs.get["hamming_mega_buckets_dropped"]
    n_full = simhash_hamming_pairs(docs).count()
    assert dropped > 0
    assert n_capped < n_full


def test_hamming_other_width_without_fingerprints_fails_at_build(spark):
    """simhash builds SIMHASH_BITS-bit fingerprints only, so asking for
    another width without the caller's own fingerprints is a bad config:
    it must fail when the frame is built, before any job runs (building
    64-bit sums instead died mid-job with CAST_OVERFLOW)."""
    with pytest.raises(ValueError, match="fingerprints"):
        simhash_hamming_pairs(_docs(spark), bits=64)


def test_default_observation_names_compose(spark):
    # Two instances of the same operator in one plan: default observe()
    # names must not collide (fixed names raise AnalysisException).
    docs = _docs(spark, n=100)
    a = minhash_candidate_pairs(docs)
    b = minhash_candidate_pairs(docs)
    assert a.union(b).count() >= a.count()
    ha = simhash_hamming_pairs(docs)
    hb = simhash_hamming_pairs(docs)
    assert ha.union(hb).count() >= ha.count()


def _scratch_dirs(df):
    """The scratch dirs a built frame reads, taken from the frame itself."""
    return {
        os.path.dirname(f.removeprefix("file:")) for f in df.inputFiles()
    }


def test_spill_rebuilds_write_distinct_dirs(spark):
    """Scratch paths are write-once: two builds of s26d in one process
    each spill to a fresh dir under this process's scratch root, and the
    first frame still collects after the second build wrote its own."""
    from xgboost_ray_spark.catalog import SCRATCH_DIR
    from xgboost_ray_spark.registry import all_queries

    build = all_queries()["s26d_ngram_jaccard"].build
    first = build(spark, SF_SMOKE)
    second = build(spark, SF_SMOKE)
    dirs_1, dirs_2 = _scratch_dirs(first), _scratch_dirs(second)
    assert dirs_1 and dirs_2
    assert not dirs_1 & dirs_2, "a rebuild wrote into an earlier build's dir"
    roots = {os.path.relpath(d, SCRATCH_DIR).split(os.sep)[0]
             for d in dirs_1 | dirs_2}
    assert len(roots) == 1
    assert next(iter(roots)).startswith(f"spill_{os.getpid()}_")
    assert sorted(first.collect()) == sorted(second.collect())
    assert first.count() > 0


def test_spill_shared_key_does_not_break_live_reader(spark):
    """Two operators sharing one (tag, key) spill — s26d and s26g both
    resolve to the 'jaccard_shingles' dir for the same input — must not
    overwrite the dir under a frame whose reader already captured the old
    part-file listing. Repro from round-5 ADVICE: build s26d, build s26g,
    THEN collect s26d — the overwrite made that collect fail with
    FAILED_READ_FILE.FILE_NOT_EXIST. spill() now writes every build to a
    fresh path."""
    from xgboost_ray_spark.registry import all_queries

    q = all_queries()
    first = q["s26d_ngram_jaccard"].build(spark, SF_SMOKE)
    n_before = first.count()
    q["s26g_dup_clusters"].build(spark, SF_SMOKE).count()
    # The earlier frame must still be collectible after the sibling built.
    assert first.count() == n_before


def test_sweep_scratch_keeps_only_live_roots():
    """The sweep keeps a live pid's scratch root and removes everything
    else: a dead pid's root, an old-layout ``spill_<tag>_<digest>`` dir
    and the fixed-name dirs older builders wrote (``events_etl``, and
    ``maint``, a name without ``_``)."""
    import shutil

    from xgboost_ray_spark import catalog
    from xgboost_ray_spark.catalog import SCRATCH_DIR, sweep_scratch

    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()  # reaped: the pid no longer names a running process
    live = os.path.join(SCRATCH_DIR, f"spill_{os.getpid()}_testguard")
    garbage = [
        os.path.join(SCRATCH_DIR, name)
        for name in (
            f"spill_{proc.pid}_testguard",
            "spill_testguard_deadbeef0000",
            "events_etl",
            "maint",
        )
    ]
    for d in (live, *garbage):
        os.makedirs(os.path.join(d, "part"), exist_ok=True)
    try:
        catalog._SCRATCH_SWEPT = False  # re-arm the once-per-process guard
        assert sweep_scratch() >= len(garbage)
        assert os.path.exists(live)
        assert not [d for d in garbage if os.path.exists(d)]
        # Second call in the same process is a no-op by design.
        assert sweep_scratch() == 0
    finally:
        for d in (live, *garbage):
            shutil.rmtree(d, ignore_errors=True)


def test_scratch_path_unique_across_threads():
    """Concurrent callers (the s26l producer pool) never get the same
    scratch path, and all land under one per-process root."""
    from concurrent.futures import ThreadPoolExecutor

    from xgboost_ray_spark.catalog import scratch_path

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futs = [
                pool.submit(lambda: [scratch_path("t") for _ in range(200)])
                for _ in range(16)
            ]
            paths = [p for f in futs for p in f.result(timeout=60)]
    finally:
        sys.setswitchinterval(interval)
    assert len(set(paths)) == len(paths) == 16 * 200
    assert len({os.path.dirname(p) for p in paths}) == 1


def test_worker_zip_is_written_once_under_scratch_root(spark):
    """The package zip shipped to Python workers is written once per
    process under this process's scratch root (removed at exit), not
    under the system temp dir."""
    import tempfile

    from xgboost_ray_spark.catalog import scratch_path
    from xgboost_ray_spark.registry import (
        _package_zip,
        ensure_workers_can_import,
    )

    ensure_workers_can_import(spark)
    zpath = _package_zip()
    assert zpath == _package_zip()
    assert os.path.dirname(zpath) == os.path.dirname(scratch_path("probe"))
    assert os.path.getsize(zpath) > 0
    legacy = os.path.join(
        tempfile.gettempdir(), f"xgboost_ray_spark_pyfiles_{os.getpid()}.zip"
    )
    assert not os.path.exists(legacy)


_BUILD_AND_EXIT = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from xgboost_ray_spark import catalog
from xgboost_ray_spark.registry import all_queries
from xgboost_ray_spark.session import get_spark

spark = get_spark(app_name="scratch_exit", master="local[2]", shuffle_partitions=2)
df = all_queries()["s26d_ngram_jaccard"].build(spark, sys.argv[2])
assert df.count() > 0
roots = [n for n in os.listdir(catalog.SCRATCH_DIR)
         if n.startswith(f"spill_{os.getpid()}_")]
print("ROOTS", len(roots))
spark.stop()
"""


def test_subprocess_leaves_no_scratch_root():
    """A process that builds s26d removes its ``spill_<pid>_*`` root when
    it exits."""
    from xgboost_ray_spark.catalog import SCRATCH_DIR

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [sys.executable, "-c", _BUILD_AND_EXIT, repo, SF_SMOKE],
        cwd="/tmp",
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-2000:]
    assert "ROOTS 1" in out, "the build must have spilled under its own root"
    left = [n for n in os.listdir(SCRATCH_DIR)
            if n.startswith(f"spill_{proc.pid}_")]
    assert not left, f"scratch root survived its process: {left}"


def test_layout_scratch_keyed_per_sf_interleaved_builds(spark):
    """Layout round-trip entries (scratch CSV/JSONL/partitioned-parquet
    rewrites) must not share scratch dirs across builds: with a constant
    path, a build at another sf OVERWRITES the files a previously built,
    still-lazy result will read at action time — returning the wrong
    sf's rows or failing on the vanished part files."""
    from tests.conftest import SF_ORACLE
    from xgboost_ray_spark.catalog import load_table
    from xgboost_ray_spark.registry import all_queries

    q = all_queries()
    for entry in ("s01c_partition_pruning", "s01g_jsonl_scan"):
        first = q[entry].build(spark, SF_SMOKE)
        expected = first.count()
        q[entry].build(spark, SF_ORACLE).count()
        got = first.count()
        assert got == expected, (
            f"{entry}: sf0.001 result changed after an sf0.01 build "
            f"({expected} -> {got} rows) — scratch path shared across sfs"
        )
    # Sanity: the two sfs genuinely differ for the checked table, so a
    # shared path could not have passed by content coincidence.
    assert (
        load_table(spark, SF_SMOKE, "orders").count()
        != load_table(spark, SF_ORACLE, "orders").count()
    )


def test_layout_rebuild_reuses_scratch_under_live_reader(spark):
    """A same-sf REBUILD of a layout entry must not rewrite the scratch dir
    an earlier build wrote: mode('overwrite') minted new part filenames,
    invalidating the listing a previously built frame's reader captured
    (the spill() FILE_NOT_EXIST hazard). Each build now writes its own
    fresh scratch path."""
    from xgboost_ray_spark.registry import all_queries

    q = all_queries()
    first = q["s01c_partition_pruning"].build(spark, SF_SMOKE)
    n = first.count()
    q["s01c_partition_pruning"].build(spark, SF_SMOKE).count()
    assert first.count() == n


def test_dup_clusters_leaves_no_cachemanager_entry(spark):
    """dup_clusters hands back a localCheckpoint, not the persisted final
    labels: a CacheManager entry keyed by the final round's canonical
    plan would survive the call and silently serve cached blocks to the
    SAME plan in a later rebuild (bench min-of-3, the determinism
    sweep's perturbed rebuilds) — skipping re-execution of the final
    round. After a full build+collect, the table cache must be empty."""
    from xgboost_ray_spark.operators.dedup import dup_clusters

    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
        "doc_a bigint, doc_b bigint",
    )
    roots = {
        r.doc_id: r.cluster_root for r in dup_clusters(pairs).collect()
    }
    assert roots == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "dup_clusters left a persisted frame registered with the "
        "CacheManager after returning"
    )


def test_prefix_filter_lossless_on_adversarial_corpora(spark):
    """PPJoin prefix filtering claims PROVABLE losslessness vs the naive
    all-pairs join (s26l shares s26d's oracle on that basis). The sf-dir
    oracle exercises one data distribution; this drives the two kernels
    over corpora crafted at the theorem's edges — an exact Jaccard tie
    at the threshold (>= must keep it), just-below-threshold pairs
    (must drop), identical docs, docs shorter than the shingle width
    (one whole-text shingle by _gram_expr's greatest(...,1) clamp), a
    stop-word shingle shared by every doc (prefix pruning's target),
    in-doc duplicate words (distinct collapse), and a seeded random
    near-dup corpus — across thresholds including a repeating-decimal
    rational (1/3) and t=1.0 (prefix length collapses to 1)."""
    import random

    from xgboost_ray_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )

    # J(tie4) vs J(tie5): |{w1 w2,w2 w3,w3 w4}| bigrams etc. — with n=1
    # word-set semantics are easy to construct exactly; n=2 covers the
    # sliding-window shingle path. Both widths run below.
    crafted = [
        (1, "w1 w2 w3 w4"),        # vs doc 2: unigram J = 3/5 (tie at 0.6)
        (2, "w1 w2 w3 w5"),
        (3, "w1 w2 w9 w10"),       # vs doc 1: J = 2/6 = 1/3 (tie at 1/3)
        (4, "w1 w2 w3 w4"),        # identical to doc 1: J = 1
        (5, "zz"),                 # shorter than any n: one whole-text shingle
        (6, "zz"),                 # identical short doc: J = 1
        (7, "w1 w1 w1 w2 w2 w3 w4"),  # duplicate words collapse to doc 1's set
        (8, "qq rr ss tt uu"),     # disjoint from everything but the hot word
        (9, "hot " * 3 + "only hot words here"),  # hot shingle stress
        (10, "hot qq rr ss tt"),
        (11, "hot w9 w10 only"),   # hot word plus doc 3's rare tail
    ]
    rng = random.Random(26)
    vocab = ["a", "b", "c", "d", "e", "f"]
    randoms = [
        (100 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9))))
        for i in range(30)
    ]

    def pairs(fn, docs_df, n, t):
        rows = fn(docs_df, n=n, threshold=t).collect()
        return sorted((r.doc_a, r.doc_b, r.jaccard) for r in rows)

    for corpus in (crafted, crafted + randoms):
        docs = spark.createDataFrame(corpus, "doc_id long, text string")
        for n, t in ((1, 0.6), (1, 1 / 3), (2, 0.5), (1, 1.0)):
            naive = pairs(ngram_jaccard_pairs, docs, n, t)
            pruned = pairs(prefix_filtered_jaccard_pairs, docs, n, t)
            assert pruned == naive, (
                f"prefix filter diverged from all-pairs at n={n} t={t}: "
                f"only_naive={set(naive) - set(pruned)} "
                f"only_pruned={set(pruned) - set(naive)}"
            )
        # sanity: the crafted ties actually exercise the >= boundary
        if corpus is crafted:
            tie_pairs = {(a, b) for a, b, _ in pairs(
                ngram_jaccard_pairs, docs, 1, 0.6)}
            assert (1, 2) in tie_pairs, "exact-tie pair must survive"


def test_suffix_family_filter_boundary_pair_survives(spark):
    """The r15 suffix-family bound (SCALE.md contract) at exact equality:
    docs a = {a1 a2 p1 p2 t1 t2}, b = {b1 b2 p1 p2 t1 t2} at n=1,
    t=0.5. In the 2-doc corpus the unique tokens (df=1) rank first, so
    each prefix (p = 6-3+1 = 4) is {unique1, unique2, p1, p2}: the
    shared-prefix count is c=2 and the LAST shared prefix token p2 sits
    at rank rax=rbx=4 in both docs. The bound reads
    (den+num)*(c + min(sza-rax, szb-rbx)) = 3*(2+2) = 12 against
    num*(sza+szb) = 12 — EXACT equality — and the pair's true Jaccard
    is 4/8 = 0.5, an exact tie at the threshold. The pair must survive
    the filter AND the verify: an off-by-one in the shared-prefix count,
    a swapped max-code unpacking (rax/rbx), or a strict > in place of >=
    each over-prunes exactly this pair while leaving typical corpora
    untouched — the adversarial corpus test alone would not isolate it."""
    from xgboost_ray_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a1 a2 p1 p2 t1 t2"), (2, "b1 b2 p1 p2 t1 t2")],
        "doc_id long, text string",
    )
    pruned = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in prefix_filtered_jaccard_pairs(docs, n=1, threshold=0.5).collect()
    )
    naive = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, n=1, threshold=0.5).collect()
    )
    assert pruned == naive == [(1, 2, 0.5)], (
        f"boundary pair lost or distorted: pruned={pruned} naive={naive}"
    )


def test_gid_injectivity_audit_raises_on_collision(spark):
    """The collision audit is the exactness guarantee behind the encoded
    verify: a non-injective id expression must HARD-FAIL the build (a
    silent collision would under-count intersections or merge shingles),
    and the real xxhash64 must pass on a real shingle frame. The forced
    collision uses the injectable id_expr seam — Spark's xxhash64 seed is
    fixed, so a true 64-bit collision can't be staged with test-sized
    data."""
    import pytest
    from pyspark.sql import functions as F

    from xgboost_ray_spark.operators.dedup import _audit_gid_injective

    dfreq = spark.createDataFrame(
        [("aa bb",), ("bb cc",), ("cc dd",)], "g string"
    )
    _audit_gid_injective(dfreq)  # real hash: injective on 3 shingles
    with pytest.raises(RuntimeError, match="not injective"):
        _audit_gid_injective(dfreq, id_expr=F.lit(1))
    # boundary: an empty shingle frame (empty corpus) audits clean
    _audit_gid_injective(dfreq.filter(F.lit(False)))


def test_hamming_multi_index_lossless_vs_brute_force(spark):
    """The multi-index pigeonhole claim, pinned against brute force: with
    the bucket cap out of the way, every pair within max_dist bits must
    surface from the block equi-buckets. The sf oracle replicates the
    SAME blocking in SQL, so a block-split bug (overlap, missed bits,
    boundary off-by-one) could hide on both sides — brute force cannot.
    Crafted cases flip bits AT block boundaries and spread flips across
    all-but-one block; randoms cover 16-bit (dense collisions) and
    64-bit (sign bit exercised) fingerprints."""
    import random
    from itertools import combinations

    from xgboost_ray_spark.operators.dedup import simhash_hamming_pairs

    def signed64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    def brute(fps, d):
        return sorted(
            (a_id, b_id, bin((a ^ b) & ((1 << 64) - 1)).count("1"))
            for (a_id, a), (b_id, b) in combinations(sorted(fps), 2)
            if bin((a ^ b) & ((1 << 64) - 1)).count("1") <= d
        )

    rng = random.Random(8)
    base16 = 0b1010_0110_0101_1001
    crafted16 = [
        (1, base16),
        (2, base16 ^ 0b0000_0000_0001_1000),    # 2 flips straddling a
        (3, base16 ^ 0b0001_1000_0000_0000),    # 4-bit block boundary
        (4, base16 ^ 0b1000_0000_1000_0001),    # 3 flips, 3 blocks: d=3
        (5, base16 ^ 0b1000_0100_0010_0001),    # 1 flip per block: d=4
        (6, (1 << 16) - 1),
        (7, 0),
    ]
    rand16 = [(100 + i, rng.getrandbits(16)) for i in range(60)]
    bases64 = [rng.getrandbits(64) for _ in range(8)]
    near64 = [
        (200 + i, b ^ sum(1 << p for p in rng.sample(range(64), rng.randint(0, 4))))
        for i, b in enumerate(bases64 * 4)
    ]

    cases = [
        (crafted16, 16, 3),
        (crafted16, 16, 2),
        (rand16, 16, 2),
        (near64, 64, 3),
    ]
    for fps, bits, max_dist in cases:
        fp_df = spark.createDataFrame(
            [(i, signed64(v)) for i, v in fps], "doc_id long, simhash long"
        )
        got = sorted(
            (r.doc_a, r.doc_b, r.dist)
            for r in simhash_hamming_pairs(
                fp_df.limit(0),  # docs unused when fingerprints given
                max_dist=max_dist,
                bits=bits,
                max_bucket=10**6,
                fingerprints=fp_df,
            ).collect()
        )
        want = brute(fps, max_dist)
        assert got == want, (
            f"bits={bits} max_dist={max_dist}: "
            f"missed={set(want) - set(got)} extra={set(got) - set(want)}"
        )


def test_lsh_never_misses_exact_duplicates(spark):
    """MinHash-LSH is approximate on NEAR dups, but exact on exact dups:
    identical shingle sets give identical minhash rows, hence identical
    band values, hence at least one shared bucket — a pair of exact
    duplicates can never be missed, whatever the banding parameters.
    (Identical SETS, not identical strings: word-permuted docs with the
    same shingle multiset also qualify only when the n-gram sets match.)"""
    from xgboost_ray_spark.operators.dedup import minhash_candidate_pairs

    body = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, body),
            (2, body),                        # exact duplicate of 1
            (3, "completely different text about spark partitions"),
            (4, body),                        # second exact duplicate
            (5, "another unrelated document entirely here"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(docs).select("doc_a", "doc_b").collect()
    }
    assert {(1, 2), (1, 4), (2, 4)} <= got, (
        f"exact-duplicate pair missing from LSH candidates: {got}"
    )


def test_dup_clusters_high_diameter_chain(spark):
    """Min-label propagation needs O(diameter) rounds. A path graph is
    the worst case per node count: the min label crawls one hop per
    round. Pin both contracts — a chain within max_iter converges to
    the single root, and one beyond max_iter raises the loud
    non-convergence error instead of returning partial labels."""
    import pytest

    from xgboost_ray_spark.operators.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a bigint, doc_b bigint"
    )
    roots = {r.doc_id: r.cluster_root for r in dup_clusters(chain).collect()}
    assert roots == {i: 0 for i in range(9)}

    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(chain, max_iter=3)


def test_ppjoin_producer_leg_failure_propagates(spark, monkeypatch):
    """The s26l builder runs its three independent producer legs (pref
    spill, toks spill, injectivity audit) as concurrent jobs from a
    ThreadPoolExecutor (guide §2.6). VERDICT r15 #6: a leg failure must
    PROPAGATE to the caller as an exception — never hang the build or
    silently return a plan over missing scratch. The with-block joins
    all threads and .result() re-raises, so the failure mode is loud and
    bounded by construction; this pins that contract against a future
    respelling (e.g. fire-and-forget submits or a swallowed future)."""
    import pytest

    from xgboost_ray_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4"), (2, "w1 w2 w3 w5")],
        "doc_id long, text string",
    )

    real_spill = dedup.spill

    for failing_tag in ("ppjoin_pref", "ppjoin_toks"):
        def exploding_spill(df, tag, _fail=failing_tag):
            if tag == _fail:
                raise RuntimeError(f"injected {_fail} producer failure")
            return real_spill(df, tag)

        monkeypatch.setattr(dedup, "spill", exploding_spill)
        with pytest.raises(RuntimeError, match="injected"):
            dedup.prefix_filtered_jaccard_pairs(docs, n=1, threshold=0.5)
        monkeypatch.setattr(dedup, "spill", real_spill)
