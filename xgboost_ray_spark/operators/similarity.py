"""Similarity search over the ``embeddings`` table (SURVEY.md §2.2 S27).

  - Brute-force cosine top-k: broadcast the query set against the corpus;
    the dot product is a JVM-side ``zip_with``/``aggregate`` expression —
    no Python in the hot path.
  - LSH (random-hyperplane) bucketed top-k: the 100TB path. Hyperplane
    signs derive from md5 (deterministic, engine-independent), bucket sums
    accumulate in DECIMAL so bucketing is bit-stable — which makes even the
    LSH variant fully value-hash checkable against DuckDB.

At cluster scale the brute-force variant is O(|Q| * |corpus|) with the
corpus scanned once per batch of queries (fine for |Q| in the thousands);
the LSH variant prunes the corpus per query to one bucket — the shuffle is
keyed on the 8-bit bucket id, and a production deployment raises the plane
count / adds multi-probe as corpus density grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table, table_path
from xgboost_ray_spark.operators.dedup import _obs_name
from xgboost_ray_spark.registry import register

N_PLANES = 8
TOP_K = 5
NEARDUP_SIM = 0.2  # cosine threshold of the near-dup pair entries (s27c, s27g)
_HEX = "0123456789abcdef"

# Sequential-double dot product (exact left-to-right fold, matching
# DuckDB's list_dot_product loop). ONE implementation repo-wide —
# functions/vector.py owns it.
from xgboost_ray_spark.functions.vector import dot_sql as _dot_sql


def _dot(a: str, b: str) -> F.Column:
    """Dot product of two columns given by name or SQL expression.

    Goes through the SQL-text twin of ``vector.dot`` (one F.expr parse),
    not Column composition: every ANN builder here calls this many times
    per plan, and the Column path's ~80 py4j round-trips per dot made
    plan CONSTRUCTION (not execution) the dominant cost of the LSH/cosine
    queries. The parsed expression is identical (parity-pinned in
    tests/test_ann.py)."""
    return F.expr(_dot_sql(a, b))


def _normed(vectors: DataFrame, id_as: str, vec_as: str, norm_as: str) -> DataFrame:
    """(vec_id, embedding) renamed to (id_as, vec_as) plus the L2 norm as
    ``norm_as``. Norms are computed ONCE per vector before any join (a
    narrow projection), not per pair — at |Q|*|corpus| pairs that is a 3x
    cut in per-pair expression work. Zero norms are NOT clamped (only
    :func:`search_codes` clamps): under ANSI mode, Spark 4's default, a
    zero vector's cosine raises DIVIDE_BY_ZERO, where the DuckDB oracles
    return NULL."""
    return vectors.select(
        F.col("vec_id").alias(id_as),
        F.col("embedding").alias(vec_as),
        F.sqrt(_dot("embedding", "embedding")).alias(norm_as),
    )


def _cosine(a: str, b: str, na: str, nb: str) -> F.Column:
    """Cosine of vector columns ``a``, ``b`` from their precomputed norms."""
    return _dot(a, b) / (F.col(na) * F.col(nb))


def _top_k(cand: DataFrame, sim: F.Column, k: int) -> DataFrame:
    """Rank (query_id, neighbor_id) candidates by full-precision ``sim``
    with neighbor_id tie-break, keep the top ``k`` per query, and emit the
    sim rounded to 4 dp for cross-engine hash stability."""
    w = W.partitionBy("query_id").orderBy(
        F.col("sim_full").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("sim_full", sim)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("sim_full", 4).alias("sim"), "rk")
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries``/``corpus``: (vec_id, embedding array<float>). The query set
    is broadcast; ranking uses full-precision sim with vec_id tiebreak, the
    emitted sim is rounded for cross-engine hash stability.
    """
    q = _normed(queries, "query_id", "qe", "qn")
    c = _normed(corpus, "neighbor_id", "ce", "cn")
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    return _top_k(pairs, _cosine("qe", "ce", "qn", "cn"), k)


@register(
    "s27_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings
    ), sims AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qe, ce)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)))
               AS sim_full
      FROM q, c WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(sim_full, 4) AS sim, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim_full DESC, neighbor_id
      ) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
    """,
    doc="Brute-force cosine top-5 for query vectors vec_id<10 (broadcast "
        "nested-loop, JVM-side aggregate dot product).",
    tags=("similarity",),
)
def s27_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb.filter(F.col("vec_id") < 10), emb)


# ---------------------------------------------------------------------------
# LSH random-hyperplane bucketing
# ---------------------------------------------------------------------------
def plane_sign_values(dim: int) -> list[list[int]]:
    """±1 hyperplane signs derived from md5 — computed at plan-build time.

    sign(p, i) = +1 iff the first hex nibble of md5(f"{p}_{i}") >= 8;
    identical to the SQL-side derivation in the oracle (md5 is md5), so the
    Spark plan can embed the signs as literals with zero runtime cost.
    """
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}_{i}".encode()).hexdigest()[0], 16) >= 8 else -1
            for i in range(dim)
        ]
        for p in range(N_PLANES)
    ]


def lsh_bucket_expr(dim: int) -> F.Column:
    """Per-row bucket id as a single JVM expression — no explode, no shuffle.

    Each plane's projection is a sequential-double dot product of the vector
    with a ±1.0 literal array. Spark's ``aggregate(zip_with(...))`` and
    DuckDB's ``list_dot_product`` both fold left-to-right over identical
    IEEE-754 doubles, so the sign of the projection (hence the bucket) is
    bit-stable across engines with no DECIMAL arithmetic in the hot path.
    At 100 TB this is the difference between a narrow map stage and a
    2.5M-row-per-5k-vectors explode + two shuffles.
    """
    cached = _BUCKET_EXPR_CACHE.get(dim)
    if cached is not None:
        return cached
    signs = plane_sign_values(dim)
    # One SQL string, one F.expr parse: the CASE WHEN chain parses to the
    # same plan as the previous F.when composition, but the whole
    # N_PLANES x dim expression crosses py4j once instead of ~2.5k times
    # (profiled: 1.0 s of driver-side build per call at dim=64).
    terms = []
    for p in range(N_PLANES):
        arr = "array(" + ",".join(f"{s:.1f}D" for s in signs[p]) + ")"
        dot = _dot_sql("embedding", arr)
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {2 ** p} ELSE 0 END)")
    expr = F.expr("CAST((" + " + ".join(terms) + ") AS INT)")
    _BUCKET_EXPR_CACHE[dim] = expr
    return expr


# The bucket expression is a pure function of dim — the planes are
# md5-derived constants — and every LSH query builds it twice (query side
# + corpus side), so the parse of the ~25 KB literal string is memoized.
# A Column is an immutable unresolved AST; reusing one across plans is
# safe (resolution builds new trees).
_BUCKET_EXPR_CACHE: dict[int, F.Column] = {}


def embedding_dim(vectors: DataFrame) -> int:
    """Probe the corpus width from the first row (one tiny driver job).
    Hardcoding a width is a silent-corruption hazard: zip_with null-pads
    a mismatched literal array, the aggregate folds to null, and every
    plane term falls to 0 — ALL vectors land in bucket 0."""
    first = vectors.select(F.size("embedding").alias("d")).first()
    if first is None:
        raise ValueError("embedding_dim: empty corpus")
    return first.d


# The embedding width is a constant of a stored table, so the one-row
# probe job runs at most once per parquet (path, mtime) per session —
# repeated query builds (a bench loop, a dashboard) pay zero driver jobs
# for it, while an in-place rewrite of the table (new mtime) re-probes
# instead of serving a stale width.
_DIM_CACHE: dict[tuple[str, float], int] = {}


def table_embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    """Memoized :func:`embedding_dim` for the catalog's embeddings table."""
    import os

    path = table_path(sf_dir, "embeddings")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = -1.0  # non-local path (e.g. dfs URI): probe once per session
    key = (path, mtime)
    dim = _DIM_CACHE.get(key)
    if dim is None:
        dim = embedding_dim(load_table(spark, sf_dir, "embeddings"))
        _DIM_CACHE[key] = dim
    return dim


def lsh_buckets(vectors: DataFrame, dim: int | None = None) -> DataFrame:
    """(vec_id, bucket) under N_PLANES md5-derived hyperplanes. Pass
    ``dim`` when the caller already probed it (one driver job saved)."""
    return vectors.select(
        "vec_id",
        lsh_bucket_expr(dim or embedding_dim(vectors)).alias("bucket"),
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = TOP_K,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.

    One pass over the corpus computing buckets inline, broadcast-joined to
    the (small) bucketed query set — a single scan, no corpus shuffle.
    Pass ``dim`` (e.g. via :func:`table_embedding_dim`) to skip the probe.
    """
    dim = dim or embedding_dim(corpus)  # one probe serves both sides
    qb = lsh_buckets(queries, dim=dim).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    qside = qb.join(_normed(queries, "query_id", "qe", "qn"), "query_id")
    cside = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.sqrt(_dot("embedding", "embedding")).alias("cn"),
        lsh_bucket_expr(dim).alias("bucket"),
    )
    cand = cside.join(F.broadcast(qside), "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _top_k(cand, _cosine("qe", "ce", "qn", "cn"), k)


def _bucket_terms_sql() -> str:
    """SQL spelling of lsh_bucket_expr — ONE generator shared by every
    LSH oracle (s27b, s27g), so the sign derivation and float formatting
    can never drift between them. Each projection is a sequential-double
    list_dot_product, bit-identical to Spark's aggregate(zip_with) fold;
    the fixture dim is 64 (oracles run on the fixture only)."""
    signs = plane_sign_values(64)
    return " + ".join(
        "(CASE WHEN list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(f"{s:.1f}" for s in signs[p])
        + f"]) >= 0 THEN {2 ** p} ELSE 0 END)"
        for p in range(N_PLANES)
    )


def _lsh_oracle() -> str:
    bucket_terms = _bucket_terms_sql()
    return f"""
    WITH bucket AS (
      SELECT vec_id, CAST({bucket_terms} AS INT) AS bucket
      FROM embeddings
    ), qb AS (
      SELECT vec_id AS query_id, bucket FROM bucket WHERE vec_id < 10
    ), cand AS (
      SELECT qb.query_id, cb.vec_id AS neighbor_id
      FROM qb JOIN bucket cb USING (bucket)
      WHERE qb.query_id != cb.vec_id
    ), emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), sims AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qe.e, ce.e)
               / (sqrt(list_dot_product(qe.e, qe.e)) * sqrt(list_dot_product(ce.e, ce.e)))
               AS sim_full
      FROM cand
      JOIN emb qe ON qe.vec_id = query_id
      JOIN emb ce ON ce.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(sim_full, 4) AS sim, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim_full DESC, neighbor_id
      ) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
    """


@register(
    "s27b_lsh_topk",
    oracle=_lsh_oracle(),
    doc=f"LSH (random-hyperplane, {N_PLANES} planes) bucketed approximate "
        "top-5 — deterministic md5-derived planes + sequential-double "
        "projections make even the approximate path exactly oracle-checkable. "
        "100TB path: bucket join prunes the corpus ~2^planes-fold per query.",
    tags=("similarity", "lsh"),
)
def s27b_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_cosine_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        dim=table_embedding_dim(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse cells + probed search
# ---------------------------------------------------------------------------
N_CENTROIDS = 8
N_PROBE = 2


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cell): each vector's nearest centroid by cosine.

    One broadcast nested-loop against K centroids + a window argmax — a
    narrow map-side pass at any corpus size. Production swaps the
    deterministic centroid choice for k-means; the inverted-file structure
    and probing are identical.
    """
    c = _normed(corpus, "vec_id", "e", "n")
    w = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid"))
    return (
        c.join(F.broadcast(centroids))
        .withColumn("csim", _cosine("e", "ce", "n", "cn"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = TOP_K,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """IVF approximate top-k: search only the ``nprobe`` cells whose
    centroids are nearest each query. The corpus is scanned once for
    assignment (amortizable: persist as the index) and candidates shuffle
    only within probed cells."""
    centroids = _normed(
        corpus.filter(F.col("vec_id") < N_CENTROIDS), "cid", "ce", "cn"
    )
    assign = ivf_assign(corpus, centroids)

    q = _normed(queries, "query_id", "qe", "qn")
    wq = W.partitionBy("query_id").orderBy(F.col("qcsim").desc(), F.col("cid"))
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn("qcsim", _cosine("qe", "ce", "qn", "cn"))
        .withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= nprobe)
        .select("query_id", "qe", "qn", F.col("cid").alias("cell"))
    )

    cside = _normed(corpus, "neighbor_id", "ne", "nn").join(
        assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    cand = cside.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _top_k(cand, _cosine("qe", "ne", "qn", "nn"), k)


def _ivf_oracle() -> str:
    return f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
      FROM embeddings
    ), cent AS (
      SELECT vec_id AS cid, e AS ce, n AS cn FROM emb WHERE vec_id < {N_CENTROIDS}
    ), assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.e, c.ce) / (v.n * c.cn) DESC, c.cid
               ) AS rk
        FROM emb v, cent c
      ) WHERE rk = 1
    ), probes AS (
      SELECT query_id, cid AS cell FROM (
        SELECT q.vec_id AS query_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.e, c.ce) / (q.n * c.cn) DESC, c.cid
               ) AS prk
        FROM emb q, cent c
        WHERE q.vec_id < 10
      ) WHERE prk <= {N_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cell = p.cell
      WHERE p.query_id != a.vec_id
    ), sims AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qe.e, ne.e) / (qe.n * ne.n) AS sim_full
      FROM cand
      JOIN emb qe ON qe.vec_id = query_id
      JOIN emb ne ON ne.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(sim_full, 4) AS sim, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim_full DESC, neighbor_id
      ) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
    """


@register(
    "s27d_ivf_topk",
    oracle=_ivf_oracle(),
    doc=f"IVF approximate top-5: {N_CENTROIDS} deterministic coarse cells "
        f"(lowest-id vectors as centroids; k-means in production), "
        f"nprobe={N_PROBE} — queries search only their 2 nearest cells. "
        "Assignment is one broadcast pass (persistable as the index); "
        "candidates shuffle per-cell only. Exactly oracle-checked.",
    tags=("similarity", "ivf"),
)
def s27d_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb.filter(F.col("vec_id") < 10), emb)


@register(
    "s27c_embedding_neardup",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 150
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
             4) AS sim
    FROM emb a JOIN emb b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
          >= {NEARDUP_SIM}
    """,
    doc=f"Embedding-cosine near-duplicate pairs (sim >= {NEARDUP_SIM}) over "
        "a bounded slice; the unbounded version runs behind the LSH "
        "bucketer (s27g).",
    tags=("similarity", "dedup"),
)
def s27c_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 150)
        .select("vec_id", "embedding")
    )
    a = _normed(emb, "vec_a", "qe", "qn")
    b = _normed(emb, "vec_b", "ce", "cn")
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim_full", _cosine("qe", "ce", "qn", "cn"))
        .filter(F.col("sim_full") >= NEARDUP_SIM)
        .select("vec_a", "vec_b", F.round("sim_full", 4).alias("sim"))
    )


# ---------------------------------------------------------------------------
# kNN majority-vote classification over the embedding corpus
# ---------------------------------------------------------------------------
@register(
    "s27e_knn_classify",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS ce
      FROM embeddings
    ), sims AS (
      SELECT query_id, neighbor_id, label,
             list_dot_product(qe, ce)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)))
               AS sim_full
      FROM q, c WHERE query_id != neighbor_id
    ), top AS (
      SELECT query_id, label FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim_full DESC, neighbor_id
        ) AS rk
        FROM sims
      ) WHERE rk <= {TOP_K}
    ), votes AS (
      SELECT query_id, label, COUNT(*) AS n_votes
      FROM top GROUP BY 1, 2
    )
    SELECT query_id, label AS pred_label, n_votes
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY n_votes DESC, label
      ) AS vr
      FROM votes
    ) WHERE vr = 1
    """,
    doc=f"kNN classification: majority label of the top-{TOP_K} cosine "
        "neighbors (smallest label wins vote ties), composed from the "
        "broadcast top-k kernel + a window-free struct-max argmax — the "
        "label-propagation / weak-labeling step of a curation pipeline. "
        "Reference analogue: distributed predict (main.py:1750-1806) with "
        "the model replaced by the corpus itself.",
    tags=("similarity", "ml"),
)
def s27e_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    top = cosine_topk(emb.filter(F.col("vec_id") < 10), emb)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        top.join(labels, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    # Window-free argmax (s09d pattern): max votes, then smallest label.
    best = F.max(F.struct(F.col("n_votes"), (-F.col("label")).alias("neg")))
    return (
        votes.groupBy("query_id")
        .agg(best.alias("t"))
        .select(
            "query_id",
            (-F.col("t.neg")).cast("int").alias("pred_label"),
            F.col("t.n_votes").alias("n_votes"),
        )
    )


# ---------------------------------------------------------------------------
# S27 variant — per-label embedding centroids (class prototypes)
# ---------------------------------------------------------------------------
@register(
    "s27f_label_centroids",
    oracle="""
    WITH pos AS (
      SELECT label, embedding AS e,
             unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings
    )
    SELECT label, i - 1 AS dim,
           ROUND(AVG(CAST(e[i] AS DOUBLE)), 6) AS mean_val,
           COUNT(*) AS n_vecs
    FROM pos
    GROUP BY label, i
    """,
    doc="Class prototypes: the per-label elementwise mean embedding, as "
        "(label, dim, mean) rows — the training step of a "
        "nearest-centroid classifier and the seed step of IVF coarse "
        "quantization (s27d consumes exactly this shape). posexplode "
        "fans each vector out inside the scan stage; the single shuffle "
        "carries (label, dim) partial sums after map-side combine — "
        "bytes ~ labels x dims, never rows x dims. Continuous means "
        "round to 6 dp for cross-engine hash stability.",
    tags=("similarity", "embedding"),
)
def s27f_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    return emb.groupBy("label", "dim").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"),
        F.count("*").alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# S27 variant — unbounded LSH near-duplicate pairs (whole corpus)
# ---------------------------------------------------------------------------
NEARDUP_MAX_BUCKET = 100


@register(
    "s27g_lsh_neardup_pairs",
    oracle=f"""
    WITH bucket AS (
      SELECT vec_id, CAST({{terms}} AS INT) AS bucket,
             embedding::DOUBLE[] AS e
      FROM embeddings
    ), ok AS (
      SELECT bucket FROM bucket
      GROUP BY bucket HAVING COUNT(*) <= {NEARDUP_MAX_BUCKET}
    ), bb AS (
      SELECT b.* FROM bucket b JOIN ok USING (bucket)
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e))
                * sqrt(list_dot_product(b.e, b.e))), 4) AS sim
    FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e))
                * sqrt(list_dot_product(b.e, b.e))) >= {NEARDUP_SIM}
    """.replace("{terms}", _bucket_terms_sql()),
    doc="Embedding near-duplicate pairs over the WHOLE corpus — the "
        "unbounded companion to s27c's exact slice: candidates are pairs "
        "sharing an LSH bucket (one bucket per vector, a narrow map), "
        "so pair generation is in-bucket only and the corpus never "
        "self-joins. s26b's mega-bucket guard applies — buckets above "
        f"{NEARDUP_MAX_BUCKET} vectors are dropped (non-silently, via "
        "observe metrics) before pairing, bounding the worst task at "
        "O(cap^2) at any corpus size. The identical HAVING cap in the "
        "oracle keeps results exact.",
    tags=("similarity", "dedup", "lsh"),
)
def s27g_lsh_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    b = lsh_buckets(emb, dim=table_embedding_dim(spark, sf_dir))
    sizes = (
        b.groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .observe(
            _obs_name("lsh_neardup_buckets"),
            F.sum(
                F.when(F.col("n") > NEARDUP_MAX_BUCKET, 1).otherwise(0)
            ).alias("mega_buckets_dropped"),
            F.max("n").alias("max_bucket_size"),
        )
        .filter(F.col("n") <= NEARDUP_MAX_BUCKET)
        .select("bucket")
    )
    side = (
        _normed(emb, "vec_id", "e", "nrm")
        .join(b, "vec_id")
        .join(F.broadcast(sizes), "bucket")
    )
    a = side.select(
        "bucket",
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    bside = side.select(
        "bucket",
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(bside, ["bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim_full", _cosine("ea", "eb", "na", "nb"))
        .filter(F.col("sim_full") >= NEARDUP_SIM)
        .select("vec_a", "vec_b", F.round("sim_full", 4).alias("sim"))
    )


# ---------------------------------------------------------------------------
# Scalar (int8) embedding quantization — the ANN storage-side primitive
# ---------------------------------------------------------------------------
Q_LEVELS = 255  # int8 levels (0..255 stored in a byte per dimension)


def quantize_embeddings(emb: DataFrame, dim: int) -> DataFrame:
    """Per-dimension affine int8 quantization of the embedding column.

    Stats pass: one aggregate computes per-dimension min/max as two
    dim-length arrays on a single row (posexplode -> groupBy pos is
    avoided: dim-indexed aggregation uses ``F.min``/``F.max`` over
    ``element_at``, so the whole stats job is one partial-aggregated
    scan emitting 2*dim doubles). That row broadcasts; quantization is
    then a narrow per-row ``transform`` — no shuffle of the corpus.

    q_d = clamp(floor((x_d - min_d) / (max_d - min_d) * 255)), constant
    dimensions map to 0. The checked projection emits integer-exact
    per-vector digests (sum/min/max of q) plus the mean absolute
    reconstruction error of the midpoint dequantizer, rounded to 6dp
    (continuous value — midpoints have measure zero; see registry
    notes). At 100 TB the q arrays are the artifact a vector index
    stores: 4x smaller than float32, scanned with integer SIMD.
    """
    stats = embedding_stats(emb, dim=dim)
    deq_err = (
        f"transform(arrays_zip(q, embedding, mn, mx), s -> CASE WHEN s.mx = s.mn"
        f" THEN abs(cast(s.embedding as double) - cast(s.mn as double)) ELSE"
        f" abs(cast(s.mn as double) + (s.q + 0.5d) * (cast(s.mx as double)"
        f" - cast(s.mn as double)) / {Q_LEVELS} - cast(s.embedding as double)) END)"
    )
    mae = (
        f"aggregate({deq_err}, cast(0.0 as double), (acc, v) -> acc + v)"
        f" / size(q)"
    )
    return quantized_vectors(emb, stats).select(
        "vec_id",
        F.expr("aggregate(q, 0L, (acc, v) -> acc + v)").alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.round(F.expr(mae), 6).alias("mae"),
    )


def embedding_stats(emb: DataFrame, dim: int) -> DataFrame:
    """Single-row (mn, mx) per-dimension stats arrays — one
    partial-aggregated scan emitting 2*dim doubles. A fixed-width corpus
    of width ``dim`` is assumed; callers pass the probed width
    (:func:`table_embedding_dim`) rather than hard-coding one that would
    silently null-pad any other corpus."""
    # SQL text parsed once per array, not 2*dim aggregate Columns — the
    # per-element composition measured ~1.4k py4j round-trips per build
    # at dim=64 (the vector.dot_sql rationale; s27h's total is pinned in
    # tests/test_build_cost.py).
    mins = ", ".join(f"min(element_at(embedding, {i + 1}))" for i in range(dim))
    maxs = ", ".join(f"max(element_at(embedding, {i + 1}))" for i in range(dim))
    return emb.agg(
        F.expr(f"array({mins})").alias("mn"),
        F.expr(f"array({maxs})").alias("mx"),
    )


def quantized_vectors(emb: DataFrame, stats: DataFrame) -> DataFrame:
    """(vec_id, q bigint-array, embedding, mn, mx) — the stats row
    broadcasts, quantization is a narrow per-row transform, the corpus
    never shuffles."""
    z = "arrays_zip(embedding, mn, mx)"
    q_expr = (
        f"transform({z}, s -> CASE WHEN s.mx = s.mn THEN 0 ELSE "
        f"least(cast(floor((cast(s.embedding as double) - cast(s.mn as double))"
        f" / (cast(s.mx as double) - cast(s.mn as double)) * {Q_LEVELS}) as bigint),"
        f" {Q_LEVELS}) END)"
    )
    return (
        emb.join(F.broadcast(stats))
        .withColumn("q", F.expr(q_expr))
        .select("vec_id", "q", "embedding", "mn", "mx")
    )


@register(
    "s27h_embedding_quantize",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, unnest(embedding) AS val,
             unnest(generate_series(1, len(embedding))) AS pos
      FROM embeddings
    ), stats AS (
      SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM flat GROUP BY pos
    ), q AS (
      SELECT f.vec_id,
             CASE WHEN s.mx = s.mn THEN 0 ELSE
               LEAST(CAST(FLOOR((CAST(f.val AS DOUBLE) - CAST(s.mn AS DOUBLE))
                 / (CAST(s.mx AS DOUBLE) - CAST(s.mn AS DOUBLE)) * {Q_LEVELS}) AS BIGINT),
                 {Q_LEVELS}) END AS qv,
             CASE WHEN s.mx = s.mn
               THEN ABS(CAST(f.val AS DOUBLE) - CAST(s.mn AS DOUBLE))
               ELSE ABS(CAST(s.mn AS DOUBLE)
                 + (CASE WHEN s.mx = s.mn THEN 0 ELSE
                     LEAST(CAST(FLOOR((CAST(f.val AS DOUBLE) - CAST(s.mn AS DOUBLE))
                       / (CAST(s.mx AS DOUBLE) - CAST(s.mn AS DOUBLE)) * {Q_LEVELS}) AS BIGINT),
                       {Q_LEVELS}) END + 0.5)
                   * (CAST(s.mx AS DOUBLE) - CAST(s.mn AS DOUBLE)) / {Q_LEVELS}
                 - CAST(f.val AS DOUBLE)) END AS err,
             f.pos
      FROM flat f JOIN stats s USING (pos)
    )
    SELECT vec_id,
           -- CAST: DuckDB SUM(BIGINT) is HUGEINT -> float64 in pandas,
           -- which the driver hash rejects against Spark's int64.
           CAST(SUM(qv) AS BIGINT) AS q_sum,
           CAST(MIN(qv) AS BIGINT) AS q_min,
           CAST(MAX(qv) AS BIGINT) AS q_max,
           ROUND(SUM(err ORDER BY pos) / COUNT(*), 6) AS mae
    FROM q GROUP BY vec_id
    """,
    doc=f"Scalar int8 quantization of the embedding corpus ({Q_LEVELS + 1} "
        "levels per dimension): per-dim min/max from ONE partial-aggregated "
        "stats scan broadcast as arrays, quantization as a narrow JVM "
        "transform — zero corpus shuffle. Emits integer-exact per-vector "
        "digests plus midpoint-dequantizer reconstruction error.",
    tags=("similarity", "embeddings", "quantization"),
)
def s27h_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb, dim=table_embedding_dim(spark, sf_dir))


RERANK_CANDS = 20  # stage-1 candidates per query, reranked in float
Q_SYM = 127  # symmetric int8 scale for normalized search vectors


def search_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, q) — the SEARCH-side int8 index: L2-normalize, then
    symmetric quantization q_d = floor(x_d / ||x|| * 127).

    Deliberately different from :func:`quantize_embeddings` (the affine
    STORAGE quantizer): an affine offset distorts inner products, so a
    dot product of affine codes ranks poorly. Normalizing first makes
    the integer dot proportional to cosine — the standard int8 ANN
    index layout. Narrow per-row expression; no stats pass, no shuffle.
    """
    # Zero-norm guard: an all-zero embedding would otherwise produce
    # x/0 -> NaN, and floor(NaN)::bigint silently yields garbage codes.
    # Substituting norm 1 maps the zero vector to all-zero codes, the
    # same convention gemm_topk uses (qn[qn == 0] = 1).
    nrm = F.sqrt(_dot("embedding", "embedding"))
    safe = F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm).alias("nrm")
    return emb.select("vec_id", "embedding", safe).select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) / nrm"
            f" * {Q_SYM}) as bigint))"
        ).alias("q"),
    )


@register(
    "s27i_quantized_topk",
    oracle=f"""
    WITH vecs0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), norms AS (
      -- zero-norm guard mirrors search_codes: zero vector -> norm 1
      SELECT vec_id,
             CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN 1
                  ELSE sqrt(list_dot_product(e, e)) END AS nrm
      FROM vecs0
    ), flat AS (
      SELECT vec_id, unnest(embedding) AS val,
             unnest(generate_series(1, len(embedding))) AS pos
      FROM embeddings
    ), q AS (
      SELECT f.vec_id, f.pos,
             CAST(FLOOR(CAST(f.val AS DOUBLE) / n.nrm * {Q_SYM}) AS BIGINT) AS qv
      FROM flat f JOIN norms n USING (vec_id)
    ), qdots AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             SUM(a.qv * b.qv) AS qdot
      FROM q a JOIN q b ON a.pos = b.pos
      WHERE b.vec_id < 10 AND a.vec_id != b.vec_id
      GROUP BY 1, 2
    ), cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY qdot DESC, neighbor_id
        ) AS crk FROM qdots
      ) WHERE crk <= {RERANK_CANDS}
    ), vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), sims AS (
      SELECT c.query_id, c.neighbor_id,
             list_dot_product(qe.e, ne.e)
               / (sqrt(list_dot_product(qe.e, qe.e))
                  * sqrt(list_dot_product(ne.e, ne.e))) AS sim_full
      FROM cand c
      JOIN vecs qe ON qe.vec_id = c.query_id
      JOIN vecs ne ON ne.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(sim_full, 4) AS sim, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim_full DESC, neighbor_id
      ) AS rk FROM sims
    )
    WHERE rk <= {TOP_K}
    """,
    doc=f"Two-stage ANN over a symmetric int8 search index (normalize, "
        f"then q = floor(x/||x||*{Q_SYM}) — affine storage codes would "
        f"distort the inner product): stage 1 scores every corpus vector "
        f"against the broadcast quantized queries with an INTEGER dot "
        f"product (~cosine, quarter the memory bandwidth of float32) and "
        f"keeps {RERANK_CANDS} candidates per query; stage 2 reranks only "
        "those in full precision. The corpus never joins corpus-side: "
        "stage 1's cut is a two-level reduction keyed by (input "
        "partition, query) so no single query becomes a shuffle hotspot, "
        "and stage 2's candidate list broadcasts back onto the scan. For "
        "bulk query sets use functions/ann.gemm_topk, whose "
        "partition-local heap emits only partitions*k rows.",
    tags=("similarity", "embeddings", "quantization"),
)
def s27i_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_topk(emb.filter(F.col("vec_id") < 10), emb)


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = TOP_K,
    rerank: int = RERANK_CANDS,
) -> DataFrame:
    """Two-stage ANN: symmetric int8 candidates, float rerank.

    ``queries``/``corpus``: (vec_id, embedding) frames, same shape as
    :func:`cosine_topk` — the fourth swappable strategy beside exact
    JVM, GEMM, and LSH. Stage 1 broadcasts the queries' search codes
    against the corpus codes (integer dot ~ cosine after
    normalization); stage 2 reranks the ``rerank`` candidates per query
    in full precision. Self-matches are excluded like cosine_topk.
    """
    qv = search_codes(corpus)
    qq = search_codes(queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    qdot = F.expr(
        "aggregate(zip_with(q, qq, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    # Two-level reduction for the stage-1 candidate cut. A single window
    # partitioned only by query_id would shuffle corpus-proportional rows
    # into at most |queries| partitions — a skew hotspot at scale. Level 1
    # keeps top-`rerank` per (input partition, query): the shuffle key has
    # corpus_partitions x |queries| values so reduction parallelism scales
    # with the corpus; level 2 then ranks only partitions x rerank rows per
    # query. The global top-`rerank` by (qdot desc, vec_id) is contained in
    # the union of per-partition top-`rerank`s, so the candidate set is
    # identical regardless of partition layout (qdot is integer-exact).
    w0 = W.partitionBy("query_id", "pid").orderBy(
        F.col("qdot").desc(), F.col("vec_id")
    )
    w1 = W.partitionBy("query_id").orderBy(F.col("qdot").desc(), F.col("vec_id"))
    cand = (
        qv.join(F.broadcast(qq), F.col("query_id") != F.col("vec_id"))
        .withColumn("qdot", qdot)
        .withColumn("pid", F.spark_partition_id())
        .withColumn("prk", F.row_number().over(w0))
        .filter(F.col("prk") <= rerank)
        .withColumn("crk", F.row_number().over(w1))
        .filter(F.col("crk") <= rerank)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    cside = _normed(corpus, "neighbor_id", "ce", "cn")
    qside = _normed(queries, "query_id", "qe", "qn")
    pairs = cside.join(F.broadcast(cand), "neighbor_id").join(
        F.broadcast(qside), "query_id"
    )
    return _top_k(pairs, _cosine("qe", "ce", "qn", "cn"), k)


# ---------------------------------------------------------------------------
# Fixed-point distributed k-means over the embedding corpus
# ---------------------------------------------------------------------------
KM_K = 8  # clusters
KM_ITERS = 2  # (assign, update) rounds before the final assignment
KM_SCALE = 10_000  # fixed-point factor; [-0.5,0.5] floats -> [0,10000] ints
# One-pass seeding (contract in SCALE.md): size of the
# hash-ranked seed sample (8x oversampling per cluster), and the odd
# multiplicative-hash constant (Knuth) whose BIGINT arithmetic is exact
# in both Spark and DuckDB — injective mod 2^32 for distinct ids < 2^32,
# vec_id tie-break covers the rest.
KM_SEED_SAMPLE = 8 * KM_K
KM_SEED_HASH_MULT = 2654435761
KM_SEED_HASH_MOD = 4294967296


def _km_quantize_expr() -> F.Column:
    """Embedding -> fixed-point bigint array (non-negative for in-range
    inputs; tail coordinates outside [-0.5, 0.5] may still quantize
    negative, which is safe — see below).

    FLOOR((x + 0.5) * SCALE): explicit FLOOR because engines disagree on
    double->int CASTS (DuckDB rounds, Spark truncates).  Integral division
    in the centroid update is engine-identical for ANY sign: Spark's
    ``div`` and DuckDB's ``//`` both truncate toward zero (verified:
    -7 // 2 = -3 in DuckDB, -7 div 2 = -3 in Spark), so negative
    coordinate sums cannot diverge; the +0.5 shift merely centers the
    data's bulk in the non-negative lattice.
    """
    # CAST(x AS DOUBLE) before the arithmetic: both engines must run the
    # shift/scale in DOUBLE — DuckDB would otherwise evaluate FLOAT + 0.5
    # in narrower precision and floor a few boundary coordinates lower.
    return F.expr(
        f"transform(embedding, x -> CAST(FLOOR((CAST(x AS DOUBLE) + 0.5D)"
        f" * {KM_SCALE}) AS BIGINT))"
    )


def kmeans_assign(
    vectors: DataFrame,
    k: int = KM_K,
    iters: int = KM_ITERS,
) -> DataFrame:
    """Exact fixed-point Lloyd's k-means: (vec_id, cluster, dist).

    The MLlib/production shape: centroids live on the driver (K*dim ints —
    O(1) w.r.t. corpus size, the same bounded-driver-state class as s26g's
    convergence scalar) and are pushed into the plan as literals, so the
    ASSIGNMENT step is a zero-shuffle JVM map — per row, one
    ``array_min(transform(centroids, ...))`` over zip_with squared
    distances; struct ordering (dist, k) gives the deterministic
    tie-break. The UPDATE step explodes assigned points to (cluster, dim)
    partials — map-side combine reduces the shuffle to K*dim rows per
    partition. All arithmetic is integer (quantized coords, integral-mean
    centroids), so every round is associative and the full trajectory is
    bit-reproducible — hash-checked against a CTE-unrolled oracle, which
    floating-point k-means could never be.

    Seeds: deterministic farthest-point (greedy max-min distance).
    Fixed-first-K seeding is ordering-fragile: on an 8-blob control with
    blob-sorted ids all K seeds land in one blob and Lloyd converges at
    ~97x the best-of-random inertia, while farthest-point reads 1.00x
    (measured round 9; contract in SCALE.md). The greedy runs ONE-PASS
    (``KM_SEED_SAMPLE`` = 64): a single TakeOrderedAndProject scan
    collects the top-M points by the multiplicative hash
    ``(vec_id * 2654435761) % 2^32`` (exact BIGINT arithmetic in both
    Spark and DuckDB, vec_id tie-break), then the greedy refines driver-side over
    the M-point sample in exact integer Python — seed 1 = the sample's
    min-vec_id point, each next seed the sample point with max
    min-squared-distance to the chosen seeds, ties (dist DESC, vec_id
    ASC), chosen points NOT excluded (an all-zero pass re-picks the
    lowest id — the starved-cluster semantics the tests pin). That is
    one scan regardless of K instead of K-1 sequential full-corpus scans
    — at 100 TB, 7 fewer linear passes before Lloyd's begins — while the
    trajectory stays CTE-unrollable (the oracle samples with the same
    hash and unrolls the same greedy over 64 rows). A 1/K-mass blob
    misses the 8K sample with probability ~e^-8 (SCALE.md quality gate).
    k-means|| remains the large-K production path; at small K it saves
    no passes and its weighted driver-side reduction would break
    pure-SQL oracle expressibility (round-9 adjudication, SCALE.md).
    """
    pts = vectors.select("vec_id", _km_quantize_expr().alias("q")).persist()
    # The materializing count doubles as the emptiness probe: raising here
    # saves the orderBy/limit seed job a fully-filtered input would waste.
    if pts.count() == 0:
        pts.unpersist()
        raise ValueError(
            "kmeans_assign: empty input — the vectors frame has no rows "
            "to seed from (was it fully filtered upstream?)"
        )
    # ONE-PASS seeding (contract + A/B in SCALE.md): one
    # TakeOrderedAndProject scan pulls the top-M hash-ranked points (M*dim
    # ints of driver state — the same bounded class as the Lloyd centroid
    # pullback), then the exact greedy runs over the sample in integer
    # Python.
    sample_rows = (
        pts.select(
            "vec_id",
            "q",
            (
                (F.col("vec_id").cast("long") * F.lit(KM_SEED_HASH_MULT))
                % F.lit(KM_SEED_HASH_MOD)
            ).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(KM_SEED_SAMPLE)
        .collect()
    )
    # Ascending vec_id so Python max() (which keeps the FIRST maximal
    # element) realizes the (dist DESC, vec_id ASC) tie-break for free.
    samp = sorted((r["vec_id"], list(r["q"])) for r in sample_rows)

    def _sq(qa: list[int], qb: list[int]) -> int:
        return sum((a - b) * (a - b) for a, b in zip(qa, qb))

    seed_qs: list[list[int]] = [samp[0][1]]
    mind = [_sq(q, seed_qs[0]) for _, q in samp]
    for _ in range(1, k):
        best_i = max(range(len(samp)), key=lambda i: mind[i])
        best_q = samp[best_i][1]
        seed_qs.append(best_q)
        mind = [min(m, _sq(q, best_q)) for m, (_, q) in zip(mind, samp)]
    cents: list[tuple[int, list[int]]] = list(enumerate(seed_qs))

    def cent_literal() -> F.Column:
        # SQL text parsed ONCE per assignment, not K*dim Column literals:
        # composing F.lit/F.struct per element cost ~20k py4j round-trips
        # per build (3 assignments x 8 centroids x 64 dims, several
        # commands per literal) — driver-latency-bound work that would be
        # strictly worse against a remote cluster (the vector.dot_sql
        # rationale; round-trip count pinned in tests/test_build_cost.py).
        # Integer literals render exactly; `L` suffix keeps them BIGINT.
        arr = ", ".join(
            "struct({}L AS k, array({}) AS c)".format(
                kk, ", ".join(f"{int(v)}L" for v in c)
            )
            for kk, c in cents
        )
        return F.expr(f"array({arr})")

    def assign(frame: DataFrame) -> DataFrame:
        best = F.expr(
            "array_min(transform(cents, s -> struct("
            "aggregate(zip_with(q, s.c, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x) AS d, s.k AS k)))"
        )
        return frame.withColumn("cents", cent_literal()).select(
            "vec_id",
            "q",
            best["k"].alias("cluster"),
            best["d"].alias("dist"),
        )

    for _ in range(iters):
        assigned = assign(pts)
        new_cents = (
            assigned.select(
                "cluster", F.posexplode("q").alias("d", "qd")
            )
            .groupBy("cluster", "d")
            .agg(F.expr("sum(qd) div count(*)").alias("cq"))
            .orderBy("cluster", "d")
            .collect()
        )
        by_k: dict[int, list[int]] = {}
        for row in new_cents:
            by_k.setdefault(row["cluster"], []).append(row["cq"])
        # A cluster that captured no points keeps its previous centroid.
        cents = [(kk, by_k.get(kk, c)) for kk, c in cents]
    out = assign(pts).select("vec_id", "cluster", "dist")
    pts.unpersist()
    return out


def _kmeans_oracle_sql() -> str:
    """CTE-unrolled fixed-point Lloyd's rounds (same integer arithmetic)."""
    assign_tpl = """a{i} AS MATERIALIZED (
      SELECT vec_id, k AS cluster, dist
      FROM (
        SELECT p.vec_id, c.k,
               SUM((p.q - c.q) * (p.q - c.q)) AS dist,
               ROW_NUMBER() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY SUM((p.q - c.q) * (p.q - c.q)), c.k) AS rn
        FROM pts p JOIN {cents} c ON p.d = c.d
        GROUP BY 1, 2
      ) WHERE rn = 1
    )"""
    update_tpl = """c{j} AS MATERIALIZED (
      SELECT cm.k, cm.d,
             COALESCE(u.q, cm.q) AS q
      FROM c{prev} cm LEFT JOIN (
        SELECT a.cluster AS k, p.d, SUM(p.q) // COUNT(*) AS q
        FROM pts p JOIN a{i} a USING (vec_id)
        GROUP BY 1, 2
      ) u ON u.k = cm.k AND u.d = cm.d
    )"""
    # Every multiply-referenced CTE is AS MATERIALIZED (DuckDB syntax;
    # the oracle only ever runs on DuckDB). DuckDB 1.x INLINES plain
    # CTEs, and the seed chain references each s{j-1} twice (the f{j}
    # distance pass and the s{j} union) — inlined, that re-expands the
    # pts scan 2^(K-1) times and the oracle alone took 87 s at sf0.01;
    # materialized it is linear in K and runs in well under a second.
    ctes = [
        f"""pts AS MATERIALIZED (
          SELECT vec_id, d,
                 CAST(FLOOR((CAST(embedding[CAST(d AS INT)] AS DOUBLE)
                             + 0.5) * {KM_SCALE}) AS BIGINT) AS q
          FROM (
            SELECT vec_id, embedding,
                   unnest(generate_series(1, LEN(embedding))) AS d
            FROM embeddings
          )
        )""",
        # One-pass seeding sample (SCALE.md contract): the
        # top-M points by the same exact-BIGINT multiplicative hash the
        # Spark scan ranks by, vec_id tie-break.
        f"""smp AS MATERIALIZED (
          SELECT p.vec_id, p.d, p.q FROM pts p JOIN (
            SELECT vec_id FROM (SELECT DISTINCT vec_id FROM pts)
            ORDER BY (vec_id * {KM_SEED_HASH_MULT}) % {KM_SEED_HASH_MOD},
                     vec_id
            LIMIT {KM_SEED_SAMPLE}
          ) s USING (vec_id)
        )""",
        # Farthest-point seeding, unrolled OVER THE SAMPLE: s0 = the
        # sample's min-vec_id point; each f{j} is the sample argmax of
        # min-distance-to-chosen-seeds with the (dist DESC, vec_id ASC)
        # tie-break — same integer arithmetic as the Spark driver-side
        # greedy, so the seed trajectory hashes.
        """s0 AS MATERIALIZED (
          SELECT 0 AS k, p.d, p.q FROM smp p
          WHERE p.vec_id = (SELECT MIN(vec_id) FROM smp)
        )""",
    ]
    for j in range(1, KM_K):
        ctes.append(f"""f{j} AS (
          SELECT vec_id FROM (
            SELECT vec_id, MIN(sd) AS mind FROM (
              SELECT p.vec_id, c.k, SUM((p.q - c.q) * (p.q - c.q)) AS sd
              FROM smp p JOIN s{j - 1} c ON p.d = c.d
              GROUP BY 1, 2
            ) GROUP BY vec_id
          ) ORDER BY mind DESC, vec_id LIMIT 1
        )""")
        ctes.append(f"""s{j} AS MATERIALIZED (
          SELECT * FROM s{j - 1}
          UNION ALL
          SELECT {j} AS k, p.d, p.q FROM smp p JOIN f{j} USING (vec_id)
        )""")
    ctes.append(f"c0 AS MATERIALIZED (SELECT * FROM s{KM_K - 1})")
    prev = 0
    for i in range(1, KM_ITERS + 1):
        ctes.append(assign_tpl.format(i=i, cents=f"c{prev}"))
        ctes.append(update_tpl.format(j=i, prev=prev, i=i))
        prev = i
    ctes.append(assign_tpl.format(i=KM_ITERS + 1, cents=f"c{prev}"))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
               CAST(dist AS BIGINT) AS dist
        FROM a{KM_ITERS + 1}"""
    )


@register(
    "s27j_kmeans",
    oracle=_kmeans_oracle_sql(),
    doc=f"Exact fixed-point k-means (K={KM_K}, {KM_ITERS} Lloyd rounds, "
        "deterministic one-pass hash-sampled farthest-point seeding) "
        "over quantized embeddings "
        "— centroids broadcast as plan literals "
        "(the MLlib shape: driver holds K*dim ints, assignment is a "
        "zero-shuffle JVM HOF map, update shuffles only K*dim partials "
        "after map-side combine). Integer coordinates and integral-mean "
        "centroids make the whole iterative trajectory bit-reproducible, "
        "so the clustering is hash-checked against a CTE-unrolled oracle.",
    tags=("embeddings", "similarity", "iterative"),
)
def s27j_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_assign(vecs)
