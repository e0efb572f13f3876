"""User-defined execution surfaces beyond pandas UDF / grouped-map:
Python UDTF (lateral table function), grouped-agg pandas UDAF, and
arrow-native ``mapInArrow`` (SURVEY.md §2.2 S29 — the reference's
callback/custom-code surface, ``callback.py:14-58`` and the ``obj``/
``feval`` pass-through of ``main.py:745-752``, generalized to the three
Spark shapes a data pipeline needs).

Why each exists when built-ins are preferred (SCALE.md rule 3):

* **UDTF** — irregular per-row fan-out that stays *inside* the scan
  stage.  The relational spelling of per-document sequence analysis is
  posexplode → window over (doc_id) → filter, which shuffles every token
  of a 100 TB corpus once; the UDTF walks each document's token sequence
  in process and emits only the (rare) findings — zero Exchange, output
  ≪ input.  Arrow-batched transfer (``useArrow=True``).
* **GROUPED_AGG pandas UDAF** — arbitrary Python aggregation (here an
  exact median) where no algebraic Spark builtin exists.  The whole
  group materializes on one executor, so this is for bounded groups; at
  unbounded cardinality use ``percentile_approx`` (sketch, mergeable)
  instead — both spellings shown side by side in the registry entry's
  docstring.
* **mapInArrow** — the zero-copy fast path under the Python UDF
  hierarchy: RecordBatches reach Python as Arrow buffers, numpy views
  them without a pandas conversion (no per-cell boxing, no object
  columns for list types — the expensive part of ``mapInPandas`` on
  array columns), and vectorized math runs on the raw values buffer.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table
from xgboost_ray_spark.registry import register

# ---------------------------------------------------------------------------
# S29g — Python UDTF: maximal runs of consecutive repeated tokens
# ---------------------------------------------------------------------------

MIN_RUN = 2  # emit only runs of >= this many consecutive identical tokens


def token_runs_udtf():
    """Build the UDTF class lazily (decorating at import time would touch
    the JVM-free code path unnecessarily and complicate pickling)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, run_start int, run_len int", useArrow=True)
    class TokenRuns:
        def eval(self, text: str):
            if text is None:
                return
            toks = text.split(" ")
            i, n = 0, len(toks)
            while i < n:
                j = i + 1
                while j < n and toks[j] == toks[i]:
                    j += 1
                if j - i >= MIN_RUN:
                    yield toks[i], i, j - i
                i = j

    return TokenRuns


def repeated_token_runs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """All maximal runs of >=MIN_RUN consecutive identical tokens per doc.

    One lateral UDTF over the scan — no Exchange anywhere in the plan
    (asserted by tests/test_plans.py): the sequence walk happens where
    the row already is, and only runs (a tiny fraction of tokens) leave
    the stage.  The pure-relational equivalent (posexplode + row_number
    island trick, the oracle SQL) shuffles every token.
    """
    spark.udtf.register("token_runs", token_runs_udtf())
    docs.select("doc_id", "text").createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        """
        SELECT d.doc_id, r.token, r.run_start, r.run_len
        FROM udtf_docs_v d, LATERAL token_runs(d.text) r
        """
    )


@register(
    "s29g_udtf_token_runs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(arr) AS token,
             unnest(generate_series(1, len(arr))) AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
    ),
    isl AS (
      SELECT doc_id, token, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id, token ORDER BY pos)
               AS grp
      FROM toks
    )
    SELECT doc_id, token,
           CAST(MIN(pos) - 1 AS INT) AS run_start,
           CAST(COUNT(*) AS INT) AS run_len
    FROM isl
    GROUP BY doc_id, token, grp
    HAVING COUNT(*) >= {MIN_RUN}
    """,
    doc="Python UDTF (arrow-batched) lateral join: per-document maximal "
        "repeated-token runs emitted inside the scan stage, zero shuffle; "
        "oracle is the gaps-islands relational spelling that shuffles "
        "every token.",
    tags=("udtf", "text", "zero-shuffle"),
)
def s29g_udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return repeated_token_runs(spark, docs)


# ---------------------------------------------------------------------------
# S29h — grouped-agg pandas UDAF: exact median per group
# ---------------------------------------------------------------------------


def median_udaf():
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def exact_median(v: pd.Series) -> float:
        # np.median sorts, so the result is independent of shard arrival
        # order; int64 inputs make the even-count midpoint (a+b)/2 exact
        # in float64 — bit-identical to DuckDB's interpolated median.
        # Nulls arrive as NaN after the float64 conversion and must be
        # dropped first: SQL median ignores NULLs, while an unfiltered
        # np.median would poison the whole group to NaN off one null row.
        arr = v.to_numpy(dtype="float64")
        arr = arr[~np.isnan(arr)]
        if arr.size == 0:
            return None  # all-NULL group -> SQL NULL
        return float(np.median(arr))

    return exact_median


def median_chars_by_source(docs: DataFrame) -> DataFrame:
    """Exact per-(source, lang) median of document length via a
    GROUPED_AGG pandas UDAF.

    The UDAF materializes each group on one executor (fine here: group
    count = |source x lang|, tiny; each group holds only the int64
    column, pruned before the shuffle).  For unbounded groups the
    mergeable spelling is ``F.percentile_approx("n_chars", 0.5)`` — an
    order-of-magnitude cheaper sketch with bounded error; this entry
    exists to pin the exact-Python-aggregation surface.
    """
    return (
        docs.groupBy("source", "lang")
        .agg(median_udaf()(F.col("n_chars")).alias("median_chars"))
    )


@register(
    "s29h_grouped_agg_udaf",
    oracle="""
    SELECT source, lang,
           CAST(median(n_chars) AS DOUBLE) AS median_chars
    FROM documents
    GROUP BY source, lang
    """,
    doc="GROUPED_AGG pandas UDAF: exact median per bounded group (column "
        "pruned pre-shuffle; percentile_approx is the unbounded-scale "
        "sketch alternative).",
    tags=("pandas-udf", "udaf"),
)
def s29h_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return median_chars_by_source(docs)


# ---------------------------------------------------------------------------
# S29i — mapInArrow: zero-copy vector math on the Arrow values buffer
# ---------------------------------------------------------------------------

NORM_SCHEMA = "vec_id bigint, dim int, l2_norm double"


def _norm_batches(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        if batch.num_rows == 0:
            continue
        lists = batch.column("embedding")
        # list_flatten honors slice offsets; the flat float32 buffer then
        # feeds numpy WITHOUT a pandas object-column materialization.
        # NULL list rows: list_value_length yields null there (which
        # zero-copy to_numpy refuses outright), and list_flatten skips
        # them entirely — treat a null list as contributing no elements,
        # then null out dim/l2_norm for those rows below (SQL semantics:
        # a NULL embedding has NULL length and NULL norm, not 0).
        lens_arr = pc.list_value_length(lists)
        null_mask = (
            lens_arr.is_null().to_numpy(zero_copy_only=False)
            if lists.null_count
            else None
        )
        lens = pc.fill_null(lens_arr, 0).to_numpy().astype("int64")
        flat = pc.list_flatten(lists).to_numpy(zero_copy_only=False)
        sq = flat.astype("float64")
        sq *= sq
        starts = np.zeros(len(lens), dtype="int64")
        np.cumsum(lens[:-1], out=starts[1:])
        # reduceat adds each segment left-to-right — the same order
        # DuckDB's list_sum folds, keeping the doubles bit-comparable
        # (final round(4) absorbs numpy-vs-engine last-ulp anyway).
        # Pad one zero so a TRAILING empty segment (start == len(sq))
        # stays in bounds — reduceat raises on it otherwise; a non-empty
        # last segment just adds +0.0.
        sums = np.add.reduceat(np.append(sq, 0.0), starts)
        sums[lens == 0] = 0.0  # reduceat yields sq[start], not 0, there
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("vec_id"),
                pa.array(
                    lens.astype("int32"), type=pa.int32(), mask=null_mask
                ),
                pa.array(
                    np.sqrt(sums), type=pa.float64(), mask=null_mask
                ),
            ],
            names=["vec_id", "dim", "l2_norm"],
        )


def vector_norms(embeddings: DataFrame) -> DataFrame:
    """Per-vector L2 norm via ``mapInArrow`` — the zero-copy Python path.

    ``mapInPandas`` on an ``array<float>`` column builds a pandas object
    column of per-row numpy arrays (one Python object per cell);
    ``mapInArrow`` hands Python the raw Arrow values buffer, and one
    ``reduceat`` computes every row's sum of squares in a single
    vectorized pass.  Narrow plan: scan -> one Python stage, no shuffle.
    """
    out = embeddings.select("vec_id", "embedding").mapInArrow(
        _norm_batches, schema=NORM_SCHEMA
    )
    # Round Spark-side (HALF_UP, matching the oracle's round()) — the
    # established cross-engine float protocol for continuous values.
    return out.select("vec_id", "dim", F.round("l2_norm", 4).alias("l2_norm"))


@register(
    "s29i_map_in_arrow",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           -- coalesce: DuckDB list_sum([]) is NULL, but the Spark side
           -- (and SQL SUM-over-zero-terms convention here) yields 0.0
           -- for an EMPTY vector; a NULL vector stays NULL via the CASE.
           CASE WHEN embedding IS NULL THEN NULL
                ELSE round(sqrt(coalesce(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0)), 4)
           END AS l2_norm
    FROM embeddings
    """,
    doc="mapInArrow zero-copy vector math: L2 norms straight off the Arrow "
        "values buffer (no pandas object columns), one vectorized reduceat "
        "per batch, shuffle-free plan.",
    tags=("arrow", "embeddings", "zero-shuffle"),
)
def s29i_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return vector_norms(emb)


# ---------------------------------------------------------------------------
# S29j — Unicode NFC normalization (pandas UDF; no JVM builtin exists)
# ---------------------------------------------------------------------------

def nfc_normalize(docs: DataFrame) -> DataFrame:
    """(doc_id, norm_hash, bytes_before, bytes_after, changed) — Unicode
    NFC canonical composition of ``text``.

    Real corpora mix precomposed and combining-mark encodings of the
    same glyphs ("e" + U+0301 vs "é"); exact dedup, shingle hashing and
    tokenization all silently fragment unless the pipeline canonicalizes
    first. Spark has no Unicode-normalization builtin, so this is a
    legitimate pandas-UDF surface (SCALE.md rule 3): Arrow-batched,
    `pd.Series.map` over Python's unicodedata (the same UCD tables
    DuckDB's nfc_normalize uses), narrow per-row transform — zero
    shuffle, scan-speed at 100 TB minus the Python hop.
    """
    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    raw = F.col("text")
    norm = _nfc(raw)
    return docs.select(
        "doc_id",
        F.md5(F.encode(norm, "UTF-8")).alias("norm_hash"),
        F.octet_length(raw).alias("bytes_before"),
        F.octet_length(norm).alias("bytes_after"),
        # Compare CONTENT, not byte length: canonical reordering of
        # combining marks (ccc ordering) changes the string while
        # preserving its length — a length test reports changed=0 for
        # exactly the reorder-only normalizations it exists to surface.
        (raw != norm).cast("int").alias("changed"),
    )


@register(
    "s29j_unicode_normalize",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             text || ' caf' || 'e' || chr(769) AS raw
      FROM documents
    )
    SELECT doc_id,
           md5(nfc_normalize(raw)) AS norm_hash,
           CAST(strlen(raw) AS INT) AS bytes_before,
           CAST(strlen(nfc_normalize(raw)) AS INT) AS bytes_after,
           -- content inequality, not length inequality (see builder)
           CAST(raw != nfc_normalize(raw) AS INT) AS changed
    FROM t
    """,
    doc="Unicode NFC canonicalization — the encode-before-you-hash step "
        "every dedup/tokenize pipeline needs (decomposed combining marks "
        "fragment shingles and exact-dup digests). The fixture text is "
        "ASCII, so the entry appends a decomposed 'e'+U+0301 to every row "
        "in BOTH engines: NFC must compose it to a precomposed é, "
        "shrinking the byte length — `changed` proves normalization "
        "actually fired, and the md5-of-normalized-text hash proves the "
        "composed bytes are identical across Python's and DuckDB's UCD "
        "implementations. Arrow-batched pandas UDF (no JVM builtin "
        "exists), zero shuffle.",
    tags=("pandas-udf", "text", "pipeline"),
)
def s29j_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # \u0301 = combining acute: explicitly DECOMPOSED so NFC has
        # work to do (a precomposed \u00e9 literal would be a no-op and
        # an editor could silently recompose a raw one).
        F.concat(F.col("text"), F.lit(" cafe\u0301")).alias("text"),
    )
    return nfc_normalize(docs)
