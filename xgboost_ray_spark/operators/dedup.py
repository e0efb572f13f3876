"""Deduplication operators over ``documents`` (and ``embeddings``).

First-class 100TB-pipeline ops (SURVEY.md §2.2 S26 family):

  - exact dedup            : hash-groupBy on content digest
  - MinHash + LSH banding  : shingle -> k minhashes -> banded signatures ->
                             bucket self-join for candidate near-dup pairs
  - SimHash                : per-token hash bit votes -> 16-bit fingerprint
  - n-gram Jaccard         : shared-shingle candidate join + exact Jaccard

Cross-engine determinism: every hash is ``md5`` (bit-identical in Spark and
DuckDB), minhashes compare lexicographically on the hex digest, so each
operator here carries a full value-hash oracle — unusual for LSH ops, and
it pins the semantics exactly.

Scale design: all ops are explode -> groupBy -> join pipelines. The LSH
band join shuffles on the band digest (uniform by construction); candidate
pair sets stay near-linear in corpus size instead of O(n^2). The Jaccard op
is quadratic per shared shingle — its docstring marks the LSH variant as
the 100TB path.
"""

from __future__ import annotations

import itertools
from fractions import Fraction as _Fraction

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table, scratch_path
from xgboost_ray_spark.registry import register


def spill(df: DataFrame, tag: str) -> DataFrame:
    """Materialize a multiply-consumed frame to scratch parquet and read it
    back. Contrast ``persist()``: Spark's CacheManager shares cache entries
    by canonical plan across repeated builds of the same query, so a
    persisted intermediate stays in executor memory for the session with
    no way for a harness to evict it per run. The spill is a plain parquet
    dir, so each consumer reads a plain scan and the planner sees the
    file's real size.

    Every call writes to a fresh :func:`catalog.scratch_path`, so every
    build re-runs its producer and no dir is ever overwritten under a
    frame that already listed its files. The write uses the default
    error-if-exists mode: a path collision fails loudly.
    """
    path = scratch_path(tag)
    df.write.parquet(path)
    return df.sparkSession.read.parquet(path)


# observe() names must be unique within a query plan; composing the same
# operator twice with the default name would raise AnalysisException, so
# auto-generated names carry a process-wide counter.
_obs_counter = itertools.count()


def _obs_name(prefix: str) -> str:
    return f"{prefix}_{next(_obs_counter)}"


def fan_out(df: DataFrame) -> DataFrame:
    """Spread CPU-heavy per-row work across all cores.

    A small parquet file arrives as ONE input split, so an explode + k-way
    md5 pipeline would run single-task regardless of cluster size; on
    small inputs the repartition buys full parallelism for ~5k-row shuffle
    cost. Since r15 the repartition is CONDITIONAL on the scan actually
    being under-split: a user ``repartition(n)`` is NOT removed by AQE
    (the earlier docstring claimed it coalesces away — it does not; AQE
    only coalesces the shuffle's output partitions, the shuffle itself
    still moves every row), so at corpus scale the unconditional spelling
    round-robin-shuffled the full document payload — including the
    sort-before-repartition pass Spark adds for retry determinism — for
    zero parallelism gain. Inputs already split at least as wide as the
    cluster's parallelism now pass through untouched (guide §2.4: remove
    shuffles outright). The partition probe is plan-time only: these
    callers sit directly on parquet scans, where ``rdd.getNumPartitions``
    is the split count and runs no job.

    Under-split inputs spread by HASH of ``doc_id`` (every caller's
    frame carries it; unique per row, so thousands of distinct values
    per partition — no collision lumpiness), NOT round-robin: a keyless
    ``repartition(n)`` first pays a local binary sort of its input so
    retried tasks reproduce the same row placement
    (``spark.sql.execution.sortBeforeRepartition``, guide §2.5), and on
    a single-split corpus that sort runs the ENTIRE text payload through
    ONE task before any parallelism exists. Hashing a real unique key is
    deterministic under retries by construction, needs no sort, and the
    same-session A/B won 4/5 interleaved pairs (min 2.99 s vs 25.77 s
    for the shingle-spill producer under identical host contention —
    OPTIMIZATION_r15.md).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if "doc_id" in df.columns:
        return df.repartition(target, "doc_id")
    return df.repartition(target)

# 16 hashes in 4 bands of 4: per-band collision probability is J^4, which
# keeps the candidate self-join near-linear even on low-entropy corpora
# (bands of 2 made candidates quadratic on the small-vocab fixture).
N_HASHES = 16
BAND_SIZE = 4
N_BANDS = N_HASHES // BAND_SIZE
MINHASH_WORDS = 3  # word-3-gram shingles (6x fewer rows than char-8-grams)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
@register(
    "s26_dedup_exact",
    oracle="""
    SELECT
      md5(text) AS text_hash,
      MIN(doc_id) AS keep_id,
      COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup: digest-groupBy keeps min doc_id per distinct text. At "
        "scale, hashing first means the shuffle key is 32 bytes, not the "
        "document body.",
    tags=("dedup",),
)
def s26_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------
# Universal-hash family constants (Broder-style min-wise hashing): one md5
# per shingle, then k cheap integer families h_i(x) = (a_i*x + b_i) mod P.
# Derived deterministically at plan-build time; the oracle embeds the same
# literals, so both engines agree exactly.
MERSENNE_P = 2147483647  # 2^31 - 1


def _hash_family_constants() -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(N_HASHES):
        d = hashlib.md5(f"family_{i}".encode()).hexdigest()
        a = (int(d[:8], 16) % (MERSENNE_P - 1)) + 1  # a in [1, P-1]
        b = int(d[8:16], 16) % MERSENNE_P
        out.append((a, b))
    return out


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-doc ``N_HASHES``-wide MinHash signature.

    ONE md5 per shingle (the expensive part), folded to a 60-bit integer,
    then ``N_HASHES`` universal-hash families ``(a_i*x + b_i) mod P`` —
    16x less hashing than per-family md5 at identical LSH quality. All
    arithmetic stays below 2^62, so int64 semantics match every engine.
    Reference analogue: none — xgboost_ray has no dedup; this is the
    north-star pipeline addition.
    """
    # array_distinct before explode: min-hash is set-based, so repeated
    # shingles within a doc only waste md5 work — drop them in the array
    # domain (no shuffle) before the explode.
    sh = fan_out(docs).select(
        "doc_id",
        F.explode(F.array_distinct(_gram_expr(MINHASH_WORDS))).alias("sh"),
    )
    x = (
        F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("bigint")
        % MERSENNE_P
    )
    sh = sh.select("doc_id", x.alias("x"))
    # SQL text, ONE parse for all families (x < P and a < P, so
    # x*a < 2^62 — bigint-exact in both the Column form and this one):
    # separate F.expr().alias() calls still cost ~3 py4j round-trips
    # each; a single struct of aggregates is one. Catalyst extracts the
    # MINs into the same partial-agg shape either way.
    fields = ", ".join(
        f"MIN((x * {a} + {b}) % {MERSENNE_P}) AS h{i}"
        for i, (a, b) in enumerate(_hash_family_constants())
    )
    return (
        sh.groupBy("doc_id")
        .agg(F.expr(f"struct({fields})").alias("_sig"))
        .select("doc_id", "_sig.*")
    )


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Fold the signature into banded digests: (doc_id, band_id, bv).

    Single posexplode over an array of band digests — one pass over the
    signature subtree (a UNION of per-band selects would re-execute the
    whole minhash pipeline once per band).
    """
    # One SQL parse for the whole band array (the vector.dot_sql
    # rationale): per-band md5/concat_ws/cast Columns cost several py4j
    # round-trips per hash column.
    bands = ", ".join(
        "md5(concat_ws('_', {cols}))".format(
            cols=", ".join(
                f"CAST(h{b * BAND_SIZE + j} AS STRING)"
                for j in range(BAND_SIZE)
            )
        )
        for b in range(N_BANDS)
    )
    return sigs.select(
        "doc_id", F.posexplode(F.expr(f"array({bands})")).alias("band_id", "bv")
    )


MAX_BUCKET_DOCS = 100  # mega-bucket guard: a bucket above this pairs O(n^2)


def minhash_candidate_pairs(
    docs: DataFrame, max_bucket: int = MAX_BUCKET_DOCS, observation=None
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band.

    Bucket-grouped pair generation instead of a band self-join: a self-join
    would execute the whole minhash pipeline once per side; grouping runs it
    once and emits in-bucket pairs from the collected id list. Bucket sizes
    are small by LSH construction (band collision prob = J^BAND_SIZE), but a
    boilerplate-dominated corpus can still skew one bucket — buckets above
    ``max_bucket`` docs are dropped before pairing, because pairing one
    mega-bucket is a single straggler task doing an O(n^2) explode. The drop
    is not silent: every execution emits ``mega_buckets_dropped`` and
    ``max_bucket_size`` through ``observe()`` (computed inside the main job,
    zero extra scans; pass an ``Observation`` to read them, or watch the
    named metric from a QueryExecutionListener). The DuckDB oracle applies
    the identical HAVING cap, so results match at every scale — but note the
    oracle hardcodes ``MAX_BUCKET_DOCS``: parity holds only for the default
    ``max_bucket``; non-default callers get the cap without the oracle.
    """
    bands = lsh_bands(minhash_signatures(docs))
    return bucket_pairs(bands, max_bucket=max_bucket, observation=observation)


def bucket_pairs(
    bands: DataFrame,
    max_bucket: int = MAX_BUCKET_DOCS,
    observation=None,
    obs_prefix: str = "minhash_lsh_buckets",
    pair_predicate: str = "",
) -> DataFrame:
    """Capped in-bucket pair expansion over (doc_id, band_id, bv) bands —
    the shared kernel of the batch (s26b) and incremental (s26k) paths,
    so the cap/observe guard can never silently diverge between them.
    ``pair_predicate`` optionally restricts emitted pairs (a SQL boolean
    over ``p.a``/``p.b``, ANDed with the ``p.a < p.b`` dedup rule)."""
    extra = f" AND ({pair_predicate})" if pair_predicate else ""
    buckets = (
        bands.groupBy("band_id", "bv")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
        .observe(
            observation if observation is not None else _obs_name(obs_prefix),
            F.sum(
                F.when(F.size("ds") > max_bucket, 1).otherwise(0)
            ).alias("mega_buckets_dropped"),
            F.max(F.size("ds")).alias("max_bucket_size"),
        )
        .filter(F.size("ds") <= max_bucket)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(ds, a -> transform(ds, b -> struct(a, b)))),"
                f" p -> p.a < p.b{extra})"
            )
        ).alias("p")
    )
    return pairs.select(
        F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
    ).distinct()


def _minhash_oracle(pair_where: str = "") -> str:
    mins = ",\n      ".join(
        f"MIN((x * {a} + {b}) % {MERSENNE_P}) AS h{i}"
        for i, (a, b) in enumerate(_hash_family_constants())
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({cat}) AS bv FROM sig".format(
            b=b,
            cat=" || '_' || ".join(
                f"CAST(h{b * BAND_SIZE + j} AS VARCHAR)" for j in range(BAND_SIZE)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""
    WITH ex AS (
      SELECT doc_id, words,
             unnest(generate_series(1, greatest(LEN(words) - {MINHASH_WORDS - 1}, 1))) AS i
      FROM (SELECT doc_id, regexp_split_to_array(text, ' ') AS words FROM documents)
    ), sh AS (
      SELECT doc_id,
             ('0x' || substring(md5(
               array_to_string(words[CAST(i AS INT):CAST(i AS INT) + {MINHASH_WORDS - 1}], ' ')
             ), 1, 15))::BIGINT % {MERSENNE_P} AS x
      FROM ex
    ), sig AS (
      SELECT doc_id,
      {mins}
      FROM sh GROUP BY doc_id
    ), bands AS (
      {band_selects}
    ), buckets AS (
      SELECT band_id, bv FROM bands
      GROUP BY band_id, bv
      HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b
      ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    JOIN buckets k
      ON a.band_id = k.band_id AND a.bv = k.bv
    {pair_where}
    """


@register(
    "s26b_minhash_lsh",
    oracle=_minhash_oracle(),
    doc=f"MinHash({N_HASHES})+LSH({N_BANDS} bands of {BAND_SIZE}) near-dup "
        "candidate pairs over word-3-gram shingles. Shuffles: one groupBy "
        "doc_id (signatures), one self-join keyed on 32-byte band digests — "
        "near-linear at corpus scale, vs O(n^2) all-pairs.",
    tags=("dedup", "lsh"),
)
def s26b_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_candidate_pairs(docs)


# ---------------------------------------------------------------------------
# Incremental near-dup maintenance: today's delta vs a stored LSH index
# ---------------------------------------------------------------------------
INCR_DELTA_MOD = 5  # doc_id % 5 == 0 -> today's arrivals (20% of the corpus)


@register(
    "s26k_incremental_neardup",
    oracle=_minhash_oracle(
        pair_where=f"WHERE a.doc_id % {INCR_DELTA_MOD} = 0"
        f" OR b.doc_id % {INCR_DELTA_MOD} = 0"
    ),
    doc="Incremental near-dup maintenance — the continuous-ingest pattern: "
        "the corpus's LSH band index is PERSISTED (signatures never "
        "recomputed for old docs); a day's delta computes its own bands, "
        "its distinct band digests BROADCAST against the stored index "
        "(narrow hash join, no index shuffle), and only the touched "
        "buckets — delta-proportional, not corpus-proportional — are "
        "grouped, capped like s26b, and pair-expanded. Emits exactly the "
        "pairs involving at least one delta doc; the oracle recomputes "
        "the full-corpus pair set with that restriction. At 100 TB the "
        "day job's cost is O(delta + touched buckets) plus one index "
        "scan; nothing re-reads old text.",
    tags=("dedup", "lsh", "incremental"),
)
def s26k_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_delta = F.col("doc_id") % INCR_DELTA_MOD == 0
    base, delta = docs.filter(~is_delta), docs.filter(is_delta)

    # The stored index: band digests of every already-ingested doc. In
    # production this is appended once per ingest; here it is spilled
    # fresh per build.
    index = spill(lsh_bands(minhash_signatures(base)), "lsh_index")

    # Compute the delta's bands ONCE and materialize them — production
    # appends them to the stored index anyway, and reusing the parquet
    # copy three times below (union, key list, broadcast) avoids
    # re-executing the minhash subtree per use.
    delta_bands = spill(lsh_bands(minhash_signatures(delta)), "lsh_index_delta")
    all_bands = index.unionByName(delta_bands)

    # Buckets containing at least one delta doc: broadcast the delta's
    # distinct digests; the index side stays where it is.
    delta_keys = delta_bands.select("band_id", "bv").distinct()
    touched = all_bands.join(F.broadcast(delta_keys), ["band_id", "bv"])

    return bucket_pairs(
        touched,
        obs_prefix="incr_neardup_buckets",
        pair_predicate=(
            f"p.a % {INCR_DELTA_MOD} = 0 OR p.b % {INCR_DELTA_MOD} = 0"
        ),
    )


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-nibble bit votes — fully oracle-checkable)
# ---------------------------------------------------------------------------
SIMHASH_BITS = 16
_HEX = "0123456789abcdef"


def simhash(docs: DataFrame) -> DataFrame:
    """16-bit SimHash over word tokens.

    bit_j(token) = bit j of the first 4 hex chars of md5(token); the doc
    fingerprint sets bit j when the sum of (2*bit_j - 1) votes is positive.
    Pure built-ins (explode + conditional sums); one shuffle on doc_id.
    """
    tok = fan_out(docs).select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tok = tok.withColumn("h4", F.substring(F.md5("w"), 1, SIMHASH_BITS // 4))
    # SQL text, one F.expr parse per aggregate: the Column-composed form
    # of these generated per-bit expressions cost ~2.2k py4j round-trips
    # (~0.4 s driver-side) per build. Integer-only arithmetic — parses to
    # the identical plan, pinned by the s26c oracle + determinism sweep.
    aggs = [
        F.expr(
            f"SUM((shiftright(instr('{_HEX}', "
            f"substring(h4, {1 + j // 4}, 1)) - 1, {3 - j % 4})"
            f" % 2) * 2 - 1)"
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    votes = tok.groupBy("doc_id").agg(*aggs)
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return votes.select(
        "doc_id", F.expr(f"CAST(({fp}) AS BIGINT)").alias("simhash")
    )


def _simhash_oracle() -> str:
    votes = ",\n        ".join(
        f"SUM(((strpos('{_HEX}', substring(h4, {1 + j // 4}, 1)) - 1)"
        f" >> {3 - j % 4}) % 2 * 2 - 1) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, substring(md5(unnest(regexp_split_to_array(text, ' '))), 1, {SIMHASH_BITS // 4}) AS h4
      FROM documents
    ), votes AS (
      SELECT doc_id,
        {votes}
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
    """


@register(
    "s26c_simhash",
    oracle=_simhash_oracle(),
    doc="16-bit SimHash fingerprint per document (token bit votes). "
        "Hamming-neighbor search at scale: index by rotated fingerprint "
        "prefixes; here we emit the fingerprint itself, value-hash checked.",
    tags=("dedup",),
)
def s26c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash(docs)


# ---------------------------------------------------------------------------
# Hamming-neighbor search over SimHash fingerprints (multi-index blocks)
# ---------------------------------------------------------------------------
HAMMING_MAX = 2  # pairs within this many differing bits
HAMMING_MAX_BUCKET = 100  # per-block bucket cap, same guard as MinHash LSH


def _block_splits(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(shift, width) per block, widths as balanced as possible."""
    base, extra = divmod(bits, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    splits, shift = [], bits
    for w in widths:
        shift -= w
        splits.append((shift, w))
    return splits


def simhash_hamming_pairs(
    docs: DataFrame,
    max_dist: int = HAMMING_MAX,
    bits: int = SIMHASH_BITS,
    max_bucket: int = HAMMING_MAX_BUCKET,
    observation=None,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """All document pairs whose SimHash fingerprints differ by <= max_dist
    bits — the multi-index technique: split the fingerprint into
    ``max_dist + 1`` blocks; by pigeonhole, any pair within distance
    ``max_dist`` agrees exactly on >= 1 block, so candidates come from
    equi-buckets instead of an all-pairs scan. Bucket-grouped pair
    generation (one pass over the fingerprints, like the MinHash path) + an
    exact bit_count residual.

    Mega-bucket guard (implemented, not aspirational): a popular block value
    — boilerplate docs, or the few-valued blocks of a narrow fingerprint —
    makes one bucket's pair explode O(n^2) in a single straggler task.
    Buckets above ``max_bucket`` docs are dropped before pairing, and the
    drop is observable in-job via ``observe()`` metrics
    (``hamming_mega_buckets_dropped``, ``hamming_max_bucket_size``) — pass
    an ``Observation`` to read them. The DuckDB oracle applies the identical
    per-block HAVING cap, so parity holds at every scale. Pairs agreeing
    only on a dropped block are lost on both sides identically — the cap
    trades bounded recall loss in degenerate buckets for a bounded task.

    ``simhash`` builds ``SIMHASH_BITS``-bit fingerprints; any other width
    needs the caller's own ``fingerprints`` frame, and asking for one
    without it raises ``ValueError`` before any job runs. At 100 TB: pass
    64-bit ``fingerprints`` with ``bits=64`` — 3 blocks of ~21 bits key
    the shuffle on 2M+ values, and the same cap bounds the residual skew.
    """
    if fingerprints is None and bits != SIMHASH_BITS:
        raise ValueError(
            f"simhash builds {SIMHASH_BITS}-bit fingerprints; pass "
            f"fingerprints to pair {bits}-bit ones"
        )
    fp = fingerprints if fingerprints is not None else simhash(docs)
    mask = lambda shift, width: F.shiftrightunsigned("simhash", shift).bitwiseAND(
        F.lit((1 << width) - 1)
    )
    blocks = F.array(*[mask(s, w) for s, w in _block_splits(bits, max_dist + 1)])
    keyed = fp.select(
        "doc_id", "simhash", F.posexplode(blocks).alias("block_id", "bv")
    )
    buckets = (
        keyed.groupBy("block_id", "bv")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ds"))
        .filter(F.size("ds") > 1)
        .observe(
            observation if observation is not None else _obs_name("hamming_blocks"),
            F.sum(
                F.when(F.size("ds") > max_bucket, 1).otherwise(0)
            ).alias("hamming_mega_buckets_dropped"),
            F.max(F.size("ds")).alias("hamming_max_bucket_size"),
        )
        .filter(F.size("ds") <= max_bucket)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(ds, a -> transform(ds, b -> struct(a, b)))),"
                " p -> p.a.doc_id < p.b.doc_id)"
            )
        ).alias("p")
    ).select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.simhash").alias("fa"),
        F.col("p.b.simhash").alias("fb"),
    ).distinct()
    dist = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("int")
    return (
        pairs.withColumn("dist", dist)
        .filter(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )


def _hamming_oracle() -> str:
    # Reuse the simhash derivation; the oracle replicates the blocked
    # candidate generation INCLUDING the per-block bucket cap, so a dropped
    # mega-bucket loses the same pairs on both sides. Oracle parity holds
    # only for the default max_bucket/max_dist/bits.
    simhash_sql = _simhash_oracle()
    block_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS block_id,"
        f" (simhash >> {shift}) & {(1 << width) - 1} AS bv FROM s"
        for i, (shift, width) in enumerate(
            _block_splits(SIMHASH_BITS, HAMMING_MAX + 1)
        )
    )
    return f"""
    WITH s AS ({simhash_sql}), blocks AS (
      {block_rows}
    ), ok AS (
      SELECT block_id, bv FROM blocks
      GROUP BY block_id, bv
      HAVING COUNT(*) BETWEEN 2 AND {HAMMING_MAX_BUCKET}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
    FROM blocks a
    JOIN blocks b
      ON a.block_id = b.block_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    JOIN ok k
      ON a.block_id = k.block_id AND a.bv = k.bv
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """


@register(
    "s26e_hamming_pairs",
    oracle=_hamming_oracle(),
    doc=f"SimHash Hamming-neighbor pairs (distance <= {HAMMING_MAX}): "
        "multi-index blocks — pigeonhole guarantees recall, bucket-grouped "
        f"pair generation capped at {HAMMING_MAX_BUCKET} docs/bucket with "
        "observe() drop metrics; identical cap in the oracle. The "
        "corpus-scale path pairs 64-bit fingerprints, which the caller "
        "must pass as fingerprints (bits=64).",
    tags=("dedup", "similarity"),
)
def s26e_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_hamming_pairs(docs)


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup (exact, candidate join on shared shingles)
# ---------------------------------------------------------------------------
JACCARD_NGRAM = 3
JACCARD_THRESHOLD = 0.5
# The threshold as an exact rational: J >= num/den is decided by the
# all-integer predicate (den+num)*inter >= num*(sz_a+sz_b), never by
# comparing a rounded float.  A ROUND(j,6) >= t filter would admit pairs
# with true J marginally below t on huge shingle sets — and the prefix
# filter (s26l) only guarantees candidate recall for exact J >= t, so a
# rounded boundary would be a soundness hole, not just cosmetics.
def _jaccard_rational(threshold: float) -> tuple[int, int]:
    frac = _Fraction(threshold).limit_denominator(10**6)
    return frac.numerator, frac.denominator


def _gram_expr(n: int) -> Column:
    """Word n-gram shingles of ``text`` as a Spark SQL expression (no UDF)
    — THE shingle definition: MinHash (s26b, s26k), the Jaccard entries
    (s26d, s26g, s26l), boilerplate phrases (s26h), decontamination
    (s26i) and the repetition score (s28g) all use it, so their gram sets
    can never silently diverge."""
    return F.expr(
        f"transform(sequence(1, greatest(size(split(text, ' ')) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice(split(text, ' '), i, {n})))"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = JACCARD_NGRAM,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for docs sharing >= 1 shingle.

    inter(a,b) counted via equi-join on the shingle; |A|,|B| from per-doc
    distinct counts; J = inter / (|A| + |B| - inter).  Quadratic in docs
    per hot shingle — at 100 TB run s26b (MinHash-LSH) first and this op
    only on its candidate pairs.
    """
    grams = _gram_expr(n)
    num, den = _jaccard_rational(threshold)
    # The shingle frame feeds three plan branches (sizes + both join
    # sides); without materialization Catalyst executes the
    # explode+distinct subtree once per branch. Spilled, not persisted —
    # see :func:`spill` for why (bench honesty + no session-lifetime
    # cache retention).
    sh = spill(
        fan_out(docs).select("doc_id", F.explode(grams).alias("g")).distinct(),
        "jaccard_shingles",
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(
            (den + num) * F.col("inter")
            >= num * (F.col("sz_a") + F.col("sz_b"))
        )
        .select("doc_a", "doc_b", "jaccard")
    )


_J_NUM, _J_DEN = _jaccard_rational(JACCARD_THRESHOLD)
_JACCARD_PAIRS_SQL = f"""
    WITH ex AS (
      SELECT doc_id, words,
             unnest(generate_series(1, greatest(LEN(words) - {JACCARD_NGRAM - 1}, 1))) AS i
      FROM (
        SELECT doc_id, regexp_split_to_array(text, ' ') AS words FROM documents
      )
    ), sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(words[CAST(i AS INT):CAST(i AS INT) + {JACCARD_NGRAM - 1}], ' ') AS g
      FROM ex
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {_J_DEN + _J_NUM} * inter >= {_J_NUM} * (sa.sz + sb.sz)
"""


@register(
    "s26d_ngram_jaccard",
    # Same pair definition as s26g's closure input — ONE constant, so the
    # two entries can never silently check different pair sets.
    oracle=_JACCARD_PAIRS_SQL,
    doc=f"Exact word-{JACCARD_NGRAM}-gram Jaccard >= {JACCARD_THRESHOLD} over "
        "shared-shingle candidates. 100TB path: MinHash-LSH prefilter "
        "(s26b), then this as the verify stage.",
    tags=("dedup",),
)
def s26d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_jaccard_pairs(docs)


# ---------------------------------------------------------------------------
# Canonical-document selection over duplicate clusters
# ---------------------------------------------------------------------------
@register(
    "s26f_canonical_dedup",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars,
        md5(array_to_string(list_sort(list_distinct(
          regexp_split_to_array(lower(text), ' '))), ' ')) AS fingerprint
      FROM documents
    ), r AS (
      SELECT fingerprint, doc_id, n_chars,
        ROW_NUMBER() OVER (
          PARTITION BY fingerprint ORDER BY n_chars DESC, doc_id
        ) AS rn,
        COUNT(*) OVER (PARTITION BY fingerprint) AS n_cluster
      FROM fp
    )
    SELECT fingerprint, doc_id AS canonical_doc,
           CAST(n_cluster AS BIGINT) AS n_cluster
    FROM r WHERE rn = 1
    """,
    doc="Canonical selection: cluster documents by the order-insensitive "
        "token-set fingerprint (s28d), keep the longest (then lowest-id) "
        "member of each cluster — the 'which duplicate do we keep' policy "
        "step of a dedup pipeline, expressed as one fingerprint projection "
        "+ one window shuffle. At scale the same rank-over-cluster works "
        "for MinHash cluster ids.",
    tags=("dedup", "pipeline"),
)
def s26f_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    fp = docs.select(
        "doc_id",
        "n_chars",
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split(F.lower("text"), " ")))
            )
        ).alias("fingerprint"),
    )
    w = W.partitionBy("fingerprint")
    ranked = fp.select(
        "fingerprint",
        "doc_id",
        F.row_number()
        .over(w.orderBy(F.desc("n_chars"), "doc_id"))
        .alias("rn"),
        F.count("*").over(w).alias("n_cluster"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "fingerprint", F.col("doc_id").alias("canonical_doc"), "n_cluster"
    )


# ---------------------------------------------------------------------------
# Connected-components duplicate clustering (iterative min-label propagation)
# ---------------------------------------------------------------------------
CC_MAX_ITER = 20


def dup_clusters(pairs: DataFrame, max_iter: int = CC_MAX_ITER) -> DataFrame:
    """Connected components over an undirected pair graph: every doc gets
    the smallest doc_id reachable from it (cluster_root).

    Iterative min-label propagation — the standard distributed CC
    algorithm: each round every node takes min(own label, neighbors'
    labels); converges in O(graph diameter) rounds (dup clusters are
    near-cliques, so 2-3 in practice). Driver coordination is one
    constant-size ``changed`` count per round; all data stays distributed.
    In production: persist edges, checkpoint labels every few rounds to
    truncate lineage, and pre-shrink with per-partition union-find.
    """
    # ONE explode pass turns each pair into both directed edges. The old
    # union spelling read `pairs` twice, which cost a persist of the pair
    # frame (cache write + its unpersist bookkeeping) purely to keep the
    # expensive upstream generator (e.g. the Jaccard shingle join) from
    # executing twice; the explode reads it once and needs no pair cache
    # (guide §1.2: remove whole passes before tuning inside them). The
    # eager count() stays: the loop must read cached edge blocks, and the
    # generator must run exactly once, before `labels`' two consumers below
    # could race to fill the same blocks.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()
    )
    edges.count()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    # Convergence via the label-sum invariant: labels only ever DECREASE
    # (least of own and neighbor min), so sum(label) is strictly monotone
    # until fixpoint — one cheap aggregate on the freshly persisted frame
    # per round, instead of a full old-vs-new join + count job.  Sum in
    # DECIMAL(38,0): exact at any corpus size (an int64 sum of billions of
    # 64-bit ids could wrap).
    prev_labels = None
    prev_sum = None
    converged = False
    for it in range(max_iter):
        # Each node's new label = min over {own label} ∪ {in-neighbors'
        # labels}. Folding the own-label leg into the aggregate as a
        # union (one |labels|-sized leg riding the same partial/final
        # min) replaces the old second per-round join —
        # least(own, coalesce(nbr_min, own)) over a labels⟕nbr_min join
        # — with nothing: ONE join + ONE aggregate per round instead of
        # join + aggregate + join (guide §2.4: two operations keyed the
        # same way share one exchange; the second join's only purpose
        # was re-attaching a value the aggregate can carry itself).
        new_labels = (
            edges.join(
                labels.select(F.col("doc_id").alias("src"), "label"), "src"
            )
            .select(F.col("dst").alias("doc_id"), "label")
            .union(labels)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        # One action: materializes the persist AND returns the metric.
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        if prev_labels is not None:
            prev_labels.unpersist()  # new_labels is materialized; safe now
        prev_labels = labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
        # Truncate lineage periodically: each round's plan stacks two joins
        # on the previous round's; by ~5 rounds recompute-on-eviction and
        # planning time both blow up. localCheckpoint severs the chain.
        if (it + 1) % 5 == 0:
            checkpointed = labels.localCheckpoint(eager=True)
            # The checkpoint owns its own blocks — release the persisted
            # pre-checkpoint frame NOW, or its only reference is lost and
            # the next round's unpersist() hits the checkpoint wrapper (a
            # no-op), leaking one cached labels table per 5 rounds.
            labels.unpersist()
            labels = prev_labels = checkpointed
    edges.unpersist()
    if not converged:
        # Exiting with partially-propagated labels would silently return
        # wrong cluster roots (the oracle computes a full transitive
        # closure). A duplicate chain longer than max_iter is the only
        # way here — fail loudly so the caller raises the bound.
        labels.unpersist()
        raise RuntimeError(
            f"connected components did not converge within {max_iter} "
            "rounds; raise max_iter (graph diameter exceeds it)"
        )
    # Hand back a localCheckpoint, NOT the persisted frame (the pagerank
    # epilogue rationale, graph.py): consumers read materialized blocks
    # without re-running the loop, nothing stays registered with the
    # CacheManager for the rest of the session, and — because the final
    # round's labels plan is canonically identical across rebuilds of the
    # same query — a later rebuild (bench min-of-3, the determinism
    # sweep's perturbed rebuilds) cannot silently match this build's
    # cache entry and skip re-executing its final round. Checkpoint
    # blocks release with the frame via the ContextCleaner instead of
    # living for the session.
    result = labels.localCheckpoint(eager=True)
    labels.unpersist()
    return result.select("doc_id", F.col("label").alias("cluster_root"))


@register(
    "s26g_dup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    e AS (
      SELECT doc_a AS s, doc_b AS t FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(s, t) AS (
      SELECT s, t FROM e
      UNION
      SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s
    )
    SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_root
    FROM reach GROUP BY s
    """,
    doc="Duplicate-cluster assignment: connected components over the "
        "n-gram-Jaccard pair graph (s26d) via iterative distributed "
        "min-label propagation; each doc maps to the smallest doc_id in "
        "its transitive duplicate cluster. Oracle = recursive-CTE "
        "transitive closure. The grouping step that turns pairwise "
        "near-dup hits into keep-one-per-cluster decisions (see s26f).",
    tags=("dedup", "iterative"),
)
def s26g_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(docs).select("doc_a", "doc_b")
    return dup_clusters(pairs)


# ---------------------------------------------------------------------------
# Cross-document boilerplate phrase detection (C4-style)
# ---------------------------------------------------------------------------
BOILER_NGRAM = 5
BOILER_MIN_DOCS = 3  # fixture-calibrated; production uses a corpus-share threshold


def boilerplate_phrases(docs: DataFrame) -> DataFrame:
    """Word-``BOILER_NGRAM``-gram phrases appearing in at least
    ``BOILER_MIN_DOCS`` distinct documents — the C4 pipeline's
    repeated-boilerplate removal signal (navigation chrome, license
    headers, templated spans), detected across the corpus rather than per
    document (contrast s28g, which scores repetition WITHIN a doc).

    Per-doc distinct grams (array_distinct before explode — set semantics,
    no shuffle) -> one groupBy on the phrase. The phrase count per doc is
    already deduped, so the doc count is a plain COUNT(*); shuffle key is
    the phrase string. At corpus scale, hash the phrase (xxhash64) for a
    fixed-width shuffle key and keep one example phrase per hash via
    max(); here the phrase itself stays the key for oracle parity.
    """
    grams = F.array_distinct(_gram_expr(BOILER_NGRAM))
    per_doc = fan_out(docs).select("doc_id", F.explode(grams).alias("phrase"))
    return (
        per_doc.groupBy("phrase")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
    )


@register(
    "s26h_boilerplate_phrases",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, words,
             unnest(generate_series(1, greatest(LEN(words) - {BOILER_NGRAM - 1}, 1))) AS i
      FROM (SELECT doc_id, regexp_split_to_array(text, ' ') AS words FROM documents)
    ), sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(words[CAST(i AS INT):CAST(i AS INT) + {BOILER_NGRAM - 1}], ' ') AS phrase
      FROM ex
    )
    SELECT phrase, COUNT(*) AS n_docs
    FROM sh GROUP BY phrase
    HAVING COUNT(*) >= {BOILER_MIN_DOCS}
    """,
    doc=f"C4-style boilerplate detection: word-{BOILER_NGRAM}-gram phrases "
        f"present in >= {BOILER_MIN_DOCS} distinct documents. The removal "
        "step is then a broadcast anti-join of this (small) phrase set "
        "against the corpus. One explode + one phrase-keyed groupBy.",
    tags=("dedup", "text", "pipeline"),
)
def s26h_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return boilerplate_phrases(docs)


# ---------------------------------------------------------------------------
# Train/eval decontamination (n-gram collision report)
# ---------------------------------------------------------------------------
DECON_NGRAM = 8


@register(
    "s26i_decontaminate",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, text,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
      FROM documents
    ), ex AS (
      SELECT doc_id, bucket, words,
             unnest(generate_series(1, greatest(LEN(words) - {DECON_NGRAM - 1}, 1))) AS i
      FROM (SELECT doc_id, bucket, regexp_split_to_array(text, ' ') AS words FROM split)
    ), sh AS (
      SELECT DISTINCT doc_id, bucket,
             array_to_string(words[CAST(i AS INT):CAST(i AS INT) + {DECON_NGRAM - 1}], ' ') AS g
      FROM ex
    )
    SELECT tr.doc_id AS train_doc,
           COUNT(DISTINCT te.doc_id) AS n_test_docs_hit,
           COUNT(DISTINCT tr.g) AS n_shared_grams
    FROM sh tr JOIN sh te ON tr.g = te.g
    WHERE tr.bucket < 80 AND te.bucket >= 90
    GROUP BY tr.doc_id
    """,
    doc=f"Benchmark decontamination: train-split documents sharing any "
        f"word-{DECON_NGRAM}-gram with a test-split document (split = the "
        "s31 md5 hash-split, so membership is reproducible), with collision "
        "counts. The pre-training hygiene step that keeps eval data out of "
        "the training corpus. Gram equi-join keyed on the shingle — the "
        "test side of a real corpus is tiny, so it broadcasts.",
    tags=("dedup", "pipeline"),
)
def s26i_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xgboost_ray_spark.operators.sampling import hash_split

    docs = hash_split(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    sh = fan_out(docs).select(
        "doc_id",
        "split",
        F.explode(F.array_distinct(_gram_expr(DECON_NGRAM))).alias("g"),
    )
    train = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    test = sh.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "g"
    )
    return (
        train.join(F.broadcast(test), "g")
        .groupBy("train_doc")
        .agg(
            F.countDistinct("test_doc").alias("n_test_docs_hit"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
    )


# ---------------------------------------------------------------------------
# Fuzzy entity matching via Sorted Neighborhood (edit-distance candidates)
# ---------------------------------------------------------------------------
SNM_WINDOW = 8      # each row pairs with its next 8 sort-neighbors
SNM_MAX_DIST = 3    # Levenshtein threshold for a candidate match


def _snm_oracle() -> str:
    leads = ",\n             ".join(
        f"LEAD(p_partkey, {i}) OVER w AS k{i}, LEAD(p_name, {i}) OVER w AS n{i}"
        for i in range(1, SNM_WINDOW + 1)
    )
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT ka, k{i} AS kb, levenshtein(na, n{i}) AS dist
    FROM r WHERE k{i} IS NOT NULL AND levenshtein(na, n{i}) <= {SNM_MAX_DIST}"""
        for i in range(1, SNM_WINDOW + 1)
    )
    return f"""
    WITH r AS (
      SELECT p_partkey AS ka, p_name AS na,
             {leads}
      FROM part
      WINDOW w AS (PARTITION BY p_brand ORDER BY p_name, p_partkey)
    )
{arms}
    """


@register(
    "s26j_fuzzy_snm",
    oracle=_snm_oracle(),
    doc=f"Fuzzy entity matching by the Sorted Neighborhood Method "
        f"(Hernandez & Stolfo): within each p_brand block, rows are sorted "
        f"by name and each row is paired only with its next {SNM_WINDOW} "
        f"neighbors (lead()), then candidates are kept when "
        f"levenshtein <= {SNM_MAX_DIST}. Candidate count is n*{SNM_WINDOW} "
        "BY CONSTRUCTION — linear in corpus size no matter how large a "
        "block gets, unlike naive within-block pairwise (quadratic). One "
        "shuffle on the block key; the window sort and all edit distances "
        "are JVM-side. The entity-resolution/fuzzy-key-join step of a "
        "catalog or identity pipeline.",
    tags=("dedup", "pipeline"),
)
def s26j_fuzzy_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    part = load_table(spark, sf_dir, "part").select(
        "p_brand", F.col("p_partkey").alias("ka"), F.col("p_name").alias("na")
    )
    w = W.partitionBy("p_brand").orderBy("na", "ka")
    # Window expressions are not allowed inside a generator: materialize the
    # lead columns first (one shared sort), then explode the plain array.
    leads = part.withColumns(
        {
            f"_n{i}": F.struct(
                F.lead("ka", i).over(w).alias("kb"),
                F.lead("na", i).over(w).alias("nb"),
            )
            for i in range(1, SNM_WINDOW + 1)
        }
    )
    neighbors = F.array(*[F.col(f"_n{i}") for i in range(1, SNM_WINDOW + 1)])
    return (
        leads.withColumn("nb", F.explode(neighbors))
        .filter(F.col("nb.kb").isNotNull())
        .select(
            "ka",
            F.col("nb.kb").alias("kb"),
            F.levenshtein("na", F.col("nb.nb")).alias("dist"),
        )
        .filter(F.col("dist") <= SNM_MAX_DIST)
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (AllPairs/PPJoin candidate pruning)
# ---------------------------------------------------------------------------
def _audit_gid_injective(dfreq: DataFrame, id_expr: Column | None = None) -> None:
    """Collision audit fronting the dictionary-encoded verify stage.

    The PPJoin verify arrays carry ``xxhash64(g)`` ids instead of shingle
    strings (~8 B/token instead of ~25 B — measured 3.9× faster end-to-end
    at the sf10 probe scale, SCALE.md round-13 adjudication), but the
    operator's contract is EXACT Jaccard against the naive all-pairs
    oracle, and a 64-bit hash has a ~1.8e-5 birthday chance of one
    collision over the ~26M distinct shingles of that probe. The encoding
    is therefore proven injective ONCE PER BUILDER CALL, EAGERLY at
    plan-construction time (ADVICE r14: this is an eager Spark job —
    since r15 one scan of the already-spilled document-frequency table
    plus an exact ``count_distinct``, O(distinct shingles) work with no
    re-aggregation of the shingle frame — that runs when
    :func:`prefix_filtered_jaccard_pairs` is CALLED, before and whether
    or not the returned DataFrame is ever evaluated): ``count(*)`` rows
    of the distinct-shingle frame vs ``count(distinct xxhash64(g))``,
    and a hard failure on mismatch (never a silent wrong answer; a
    collision is a corpus-level incident, not something the engine
    papers over). Eager-at-build is SOUND here, not just convenient: the
    audited frame is the ``spill()``-materialized document-frequency
    scratch, itself derived from the frozen shingle spill every later
    evaluation of the returned plan re-reads, so the audited distinct-
    shingle universe is exactly the one the verify arrays draw from — a
    re-evaluation cannot see shingles the audit did not. The trade-off is
    the converse: a builder call whose plan is never executed still pays
    the audit job, so callers that construct the plan speculatively
    should delay the builder call until evaluation is certain. The
    collected result is one 2-int row — audited in
    tests/test_driver_surface.py.
    """
    row = dfreq.agg(
        F.count("*").alias("n_g"),
        F.count_distinct(
            id_expr if id_expr is not None else F.xxhash64("g")
        ).alias("n_gid"),
    ).collect()[0]
    if row["n_g"] != row["n_gid"]:
        raise RuntimeError(
            "PPJoin verify encoding is not injective on this corpus: "
            f"{row['n_g']} distinct shingles -> {row['n_gid']} distinct "
            "ids. Exact-Jaccard output cannot be guaranteed."
        )


def prefix_filtered_jaccard_pairs(
    docs: DataFrame,
    n: int = JACCARD_NGRAM,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact Jaccard-threshold pairs via PPJoin-style prefix filtering.

    Same result as :func:`ngram_jaccard_pairs` (the pruning is lossless),
    different candidate generator: order every doc's shingles rare-first by
    global document frequency and join only on each doc's length-p PREFIX,
    p = sz - ceil(t*sz) + 1.  Two sets with J >= t must share a prefix
    token under a common global order (AllPairs/PPJoin theorem), so no
    qualifying pair is lost — but a hot shingle shared by k docs now fans
    out k^2 candidate rows only if it lands in both docs' rare prefixes,
    which by construction it almost never does.  That turns the scale
    killer of the naive join (stop-word shingles) into a no-op: candidates
    are driven by RARE features, the frequency skew works for us instead
    of against us.

    Three further PPJoin prunes run between the prefix join and the
    verify (length + positional since round 14, suffix-family since
    round 15; lossless proofs + sizing in SCALE.md): the LENGTH filter
    (``den*|a| >= num*|b|`` both ways — a qualifying pair's sizes must be
    within the threshold ratio), the POSITIONAL filter (the rarest
    shared-prefix token's ranks bound the achievable intersection at
    ``1 + min(|a|-ra, |b|-rb)``), and the SUFFIX-FAMILY filter (the LAST
    shared-prefix token's ranks plus the exact shared-prefix count bound
    it at ``c + min(|a|-rax, |b|-rbx)`` — the array-free counterpart of
    the classic PPJoin+ suffix filter, which would need suffix tokens at
    candidate time and hence the very array shipment these prunes
    avoid).  Length+positional cut the candidate set 3.27x at the sf1.0
    probe scale; the suffix-family bound removes a further 4.06%
    (measured at sf1.0 and sf10) — each surviving reduction is one fewer
    verify-array transfer, bought with a few extra ints per candidate
    row on the pair shuffle the old ``.distinct()`` already paid.

    Verification is per-candidate and bounded: each doc's distinct-shingle
    set rides along as an array (memory proportional to the text itself),
    and the exact intersection is one JVM ``array_intersect`` — no second
    shuffle over the shingle frame.  At 100 TB this is the verify stage of
    choice when exact-threshold output is required; s26b (MinHash-LSH)
    remains the approximate prefilter when a small false-negative rate is
    acceptable.

    The verify arrays are DICTIONARY-ENCODED: each shingle string is
    replaced by its ``xxhash64`` id before ``collect_set``, so the verify
    shuffle — which ships each doc's array once per candidate it appears
    in — moves ~8 B ints instead of ~25 B strings.  The sf10 decade probe
    (SCALE.md) found string arrays crossing the single-host shuffle-memory
    ceiling (200.2 s wall for 10.000×-linear measured work); the encoded
    arrays measured 51.4 s on identical output.  Exactness is preserved by
    construction plus audit: the intersection/size arithmetic is invariant
    under any INJECTIVE relabeling of shingles, and injectivity on the
    actual corpus is proven once per builder call — eagerly, at
    plan-construction time, against the frozen shingle spill every later
    evaluation re-reads — by :func:`_audit_gid_injective` (count-distinct
    audit; hard failure, never a silent collision; see its docstring for
    the cost/timing contract).
    """
    from pyspark.sql import Window as W

    from concurrent.futures import ThreadPoolExecutor

    grams = _gram_expr(n)
    num, den = _jaccard_rational(threshold)
    sh = spill(
        fan_out(docs).select("doc_id", F.explode(grams).alias("g")).distinct(),
        "ppjoin_shingles",
    )
    # Like pref, the token-array table feeds BOTH verify joins (doc_a and
    # doc_b side); spilled once, the collect_set aggregation over the full
    # shingle frame runs once instead of twice, and each join side is a
    # plain scan of (doc_id, ts) rows. It depends ONLY on the frozen
    # shingle spill — not on dfreq — so since r16 its producer job is
    # submitted BEFORE the dfreq spill and overlaps it (guide §2.6): the
    # producer wall drops from sh + dfreq + max(pref, toks, audit) to
    # sh + max(dfreq + max(pref, audit), toks).
    toks_plan = (
        sh.select("doc_id", F.xxhash64("g").alias("g"))
        .groupBy("doc_id")
        .agg(F.collect_set("g").alias("ts"))
    )
    pool = ThreadPoolExecutor(max_workers=3)
    try:
        fut_toks = pool.submit(spill, toks_plan, "ppjoin_toks")
        # The document-frequency table is consumed THREE times per build (the
        # injectivity audit plus both self-join sides' rankings); before r15
        # each consumer re-ran the groupBy over the shingle spill. Spilling it
        # makes the aggregation run ONCE, gives the audit a plain scan instead
        # of a full re-aggregation, and hands the planner the spilled
        # parquet's REAL size for the ranked join's broadcast decision (an
        # aggregate's size ESTIMATE is what usually breaks that choice —
        # optimization guide §3.1).
        dfreq = spill(sh.groupBy("g").agg(F.count("*").alias("df")), "ppjoin_dfreq")
        # df stays a separate partial-aggregate + join (NOT a count() window
        # over g): a window cannot split a partition key, so a mega-hot
        # shingle would serialize into one task, while the join keeps AQE's
        # skew-split available on the fact side. The doc-size count, by
        # contrast, rides the SAME doc_id window partitioning the ranking
        # already pays for — a doc's shingle count is bounded by its text
        # length, and folding it into the window removes a whole aggregation
        # scan of the shingle frame plus a join per self-join side.
        wdoc = W.partitionBy("doc_id")
        ranked = sh.join(dfreq, "g").select(
            "doc_id",
            "g",
            F.row_number().over(wdoc.orderBy("df", "g")).alias("r"),
            F.count("*").over(wdoc).alias("sz"),
        )
        # p = sz - ceil(t*sz) + 1 in exact integer arithmetic:
        # ceil((num/den)*sz) = (sz*num + den - 1) div den.
        # The prefix frame is BOTH sides of the candidate self-join; left as
        # a lazy plan, each side re-ran the whole scan -> dfreq-join -> sort
        # -> double-window ranking subtree (the r14 plan shows the duplicated
        # subtrees verbatim — plans/r15/s26l_prefix_filter_join_before.txt
        # ops 1-17 vs 18-34). Spilling it computes the ranking ONCE and turns
        # both join inputs into plain prefix-row scans (~half the shingle
        # rows, four narrow columns) — guide §1.2: remove whole duplicate
        # passes before tuning anything inside them.
        pref_plan = ranked.filter(
            F.col("r") <= F.expr(f"sz - ((sz * {num} + {den - 1}) div {den}) + 1")
        )
        # The remaining producer legs — prefix ranking and the injectivity
        # audit (the token arrays are already in flight, overlapping dfreq) —
        # are mutually independent once dfreq is frozen, so they run as
        # CONCURRENT jobs (guide §2.6: actions are only sequential because
        # driver code calls them sequentially). Sequential spills cost one
        # fixed job latency each; overlapped, the wall is max(legs), which is
        # what makes the materialized-once layout cheaper than the r14
        # duplicated-subtree plan at bench scale too, not just at corpus
        # scale. Failures propagate through result(); the finally joins every
        # thread, so a leg failure is loud and bounded, never a hang.
        fut_pref = pool.submit(spill, pref_plan, "ppjoin_pref")
        fut_audit = pool.submit(_audit_gid_injective, dfreq)
        pref = fut_pref.result()
        toks = fut_toks.result()
        # dfreq is spilled parquet by now, so the audit's count/
        # count_distinct pair reads the materialized distinct-shingle rows
        # directly — no re-aggregation of the shingle frame (the ADVICE r14
        # cost note: the audit is still eager-at-build, but its price
        # dropped from a full groupBy pass to one scan of the df table,
        # overlapped with the other producer legs).
        fut_audit.result()
    finally:
        pool.shutdown(wait=True)
    # Candidate pruning beyond the prefix theorem (both classic PPJoin
    # filters, both lossless, both exact-integer — proofs + sf1.0 sizing
    # in SCALE.md's r14 contract; at sf1.0 they cut the candidate set
    # 3.27x, which is 3.27x fewer arrays into the verify shuffle):
    #   * length: J >= num/den forces den*|a| >= num*|b| and vice versa
    #     (inter <= |a|, union >= |b|), applied per matching token row;
    #   * positional: the pair's rarest shared-prefix token w* (== the
    #     min-ra candidate row, because rank is monotone in the global
    #     order) bounds inter <= 1 + min(|a|-ra, |b|-rb) — any shared
    #     token rarer than w* would sit in both prefixes and contradict
    #     w*'s minimality — so pairs failing the verify inequality with
    #     that bound substituted for inter cannot qualify. The min-row
    #     aggregate rides the exact shuffle the old .distinct() paid.
    cand = (
        pref.select(
            F.col("doc_id").alias("doc_a"), "g",
            F.col("r").alias("ra"), F.col("sz").alias("sza"),
        )
        .join(
            pref.select(
                F.col("doc_id").alias("doc_b"), "g",
                F.col("r").alias("rb"), F.col("sz").alias("szb"),
            ),
            "g",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (den * F.col("sza") >= num * F.col("szb"))
            & (den * F.col("szb") >= num * F.col("sza"))
        )
        # min-(ra) row via ONE packed-bigint min — NOT min(struct(...)),
        # whose non-hashable buffer degrades the whole pair aggregate to
        # SortAggregate (the plan-hygiene gate catches exactly that). ra
        # is a per-doc row_number (< 2^31 by construction), so
        # (ra << 31) | rb orders by ra with rb riding along; sza/szb are
        # pair constants, any hash-friendly aggregate recovers them.
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min(
                F.shiftleft(F.col("ra").cast("long"), 31)
                + F.col("rb").cast("long")
            ).alias("code"),
            F.max(
                F.shiftleft(F.col("ra").cast("long"), 31)
                + F.col("rb").cast("long")
            ).alias("mcode"),
            F.count("*").alias("c"),
            F.min("sza").alias("sza"),
            F.min("szb").alias("szb"),
        )
        .withColumn("ra", F.shiftright(F.col("code"), 31))
        .withColumn("rb", F.col("code") - F.shiftleft(F.col("ra"), 31))
        .filter(
            (den + num)
            * (1 + F.least(F.col("sza") - F.col("ra"), F.col("szb") - F.col("rb")))
            >= num * (F.col("sza") + F.col("szb"))
        )
        # Suffix-family filter (since r15; contract + sf1.0/sf10 sizing in
        # SCALE.md): the classic PPJoin+ suffix filter needs suffix TOKENS
        # at candidate time — in a shuffle plan that means shipping arrays
        # one stage early, the very transfer these filters avoid. The
        # array-free member of the same bound family uses the pair's LAST
        # shared-prefix token w° at ranks (rax, rbx) plus the EXACT count
        # c of shared-prefix rows: prefixes are rank-intervals of the
        # global order, so every common token before w° lies in both
        # prefixes (common tokens <= w° == the c counted rows, exactly),
        # and common tokens after w° number at most
        # min(sza-rax, szb-rbx); hence inter <= c + min(sza-rax, szb-rbx).
        # Lossless, exact-integer, and free of new stages: max-code and
        # count ride the same pair aggregate (two extra longs per
        # candidate row on the small int shuffle buys 4.06% fewer array
        # transfers on the big verify shuffle — measured at sf1.0 AND
        # sf10, identical by replica-tiling construction).
        .withColumn("rax", F.shiftright(F.col("mcode"), 31))
        .withColumn("rbx", F.col("mcode") - F.shiftleft(F.col("rax"), 31))
        .filter(
            (den + num)
            * (
                F.col("c")
                + F.least(F.col("sza") - F.col("rax"), F.col("szb") - F.col("rbx"))
            )
            >= num * (F.col("sza") + F.col("szb"))
        )
        .select("doc_a", "doc_b")
    )
    return (
        cand.join(
            toks.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ta")),
            "doc_a",
        )
        .join(
            toks.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("tb")),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn("sz_a", F.size("ta"))
        .withColumn("sz_b", F.size("tb"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(
            (den + num) * F.col("inter")
            >= num * (F.col("sz_a") + F.col("sz_b"))
        )
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "s26l_prefix_filter_join",
    # Same oracle as s26d: prefix filtering is provably lossless, so the
    # optimized candidate generator must reproduce the naive all-pairs
    # definition EXACTLY — the strongest possible check of the pruning.
    oracle=_JACCARD_PAIRS_SQL,
    doc="PPJoin-style prefix-filtered exact Jaccard join: docs join only "
        "on their rarest-(sz - ceil(t*sz) + 1) shingles under a global "
        "document-frequency order, candidates pass exact-integer LENGTH "
        "and POSITIONAL filters (rarest-shared-token rank bounds the "
        "achievable intersection), then verify via one array_intersect "
        "per pair over DICTIONARY-ENCODED (audited collision-free "
        "xxhash64) shingle ids. Hash-checked against the NAIVE all-pairs "
        "oracle — pruning, filters and encoding are each provably "
        "lossless, and the driver hash proves it row-for-row.",
    tags=("dedup", "scale"),
)
def s26l_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return prefix_filtered_jaccard_pairs(docs)
