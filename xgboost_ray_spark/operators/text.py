"""Text analysis over ``documents`` (SURVEY.md §2.2 S28 + north-star ops):
token statistics, language ID (stopword-hit heuristic), quality scoring,
document fingerprinting, TF-IDF top terms.

All pure built-in column expressions (split/explode/agg) — zero Python UDFs,
so every op rides whole-stage codegen and scales linearly with one shuffle
per groupBy. Each is exactly DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table
from xgboost_ray_spark.operators.dedup import _gram_expr, fan_out
from xgboost_ray_spark.registry import register

# Heuristic "stopword" lists over the synthetic corpus vocabulary; a real
# deployment swaps per-language function words here.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "sql": ("select", "join", "group", "order", "filter"),
    "data": ("table", "row", "batch", "stream", "key"),
}
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


# ---------------------------------------------------------------------------
# Token statistics
# ---------------------------------------------------------------------------
@register(
    "s28_token_stats",
    oracle="""
    SELECT
      doc_id,
      CAST(LEN(regexp_split_to_array(text, ' ')) AS INT) AS n_tokens,
      CAST(LENGTH(text) AS BIGINT) AS n_chars,
      CAST(LEN(list_distinct(regexp_split_to_array(text, ' '))) AS INT) AS n_distinct,
      ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
            / LEN(regexp_split_to_array(text, ' ')), 4) AS avg_word_len
    FROM documents
    """,
    doc="Whitespace tokenization: token/char/distinct counts + mean word "
        "length — per-row expressions, no shuffle at all.",
    tags=("text",),
)
def s28_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(words).cast("int").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.array_distinct(words)).cast("int").alias("n_distinct"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.size(words),
            4,
        ).alias("avg_word_len"),
    )


# ---------------------------------------------------------------------------
# Language ID (marker-hit argmax)
# ---------------------------------------------------------------------------
def _marker_hits(words_col, markers: tuple[str, ...]):
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(
        F.filter(words_col, lambda w: F.array_contains(arr, w))
    )


BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "s28f_regex_tokens",
    oracle=f"""
    SELECT
      doc_id,
      CAST(LEN(regexp_extract_all(text, '{BPE_PATTERN}')) AS INT) AS n_tokens,
      CAST(LEN(list_filter(regexp_extract_all(text, '{BPE_PATTERN}'),
                           t -> regexp_full_match(t, '[a-z]+'))) AS INT) AS n_word,
      CAST(LEN(list_distinct(regexp_extract_all(text, '{BPE_PATTERN}'))) AS INT)
        AS n_distinct
    FROM documents
    """,
    doc="BPE-style regex token counting (word runs | digit runs | single "
        "non-alnum): total, word-class and distinct token counts — the "
        "pre-tokenizer split LLM pipelines budget tokens with. Pure per-row "
        "expressions, no shuffle.",
    tags=("text",),
)
def s28f_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)")
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))).cast("int")
        .alias("n_word"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
    )


@register(
    "s28b_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
        LEN(list_filter(regexp_split_to_array(text, ' '),
            w -> list_contains({list(LANG_MARKERS['en'])}, w))) AS hits_en,
        LEN(list_filter(regexp_split_to_array(text, ' '),
            w -> list_contains({list(LANG_MARKERS['sql'])}, w))) AS hits_sql,
        LEN(list_filter(regexp_split_to_array(text, ' '),
            w -> list_contains({list(LANG_MARKERS['data'])}, w))) AS hits_data
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
      CASE
        WHEN hits_en >= hits_sql AND hits_en >= hits_data THEN 'en'
        WHEN hits_sql >= hits_data THEN 'sql'
        ELSE 'data'
      END AS predicted_lang,
      CAST(hits_en AS INT) AS hits_en,
      CAST(hits_sql AS INT) AS hits_sql,
      CAST(hits_data AS INT) AS hits_data
    FROM scored
    """,
    doc="N-gram/marker-list language-ID heuristic: count marker-word hits "
        "per language, argmax with a fixed preference order.",
    tags=("text",),
)
def s28b_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    hits = {k: _marker_hits(words, v) for k, v in LANG_MARKERS.items()}
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits["en"].cast("int").alias("hits_en"),
        hits["sql"].cast("int").alias("hits_sql"),
        hits["data"].cast("int").alias("hits_data"),
    )
    pred = (
        F.when(
            (F.col("hits_en") >= F.col("hits_sql"))
            & (F.col("hits_en") >= F.col("hits_data")),
            "en",
        )
        .when(F.col("hits_sql") >= F.col("hits_data"), "sql")
        .otherwise("data")
    )
    return scored.select(
        "doc_id", "labeled_lang", pred.alias("predicted_lang"),
        "hits_en", "hits_sql", "hits_data",
    )


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------
@register(
    "s28c_quality_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
        LENGTH(text) AS n_chars,
        LEN(regexp_split_to_array(text, ' ')) AS n_tokens,
        LEN(list_filter(regexp_split_to_array(text, ' '),
            w -> list_contains({list(STOPWORDS)}, w))) AS n_stop,
        LEN(list_distinct(regexp_split_to_array(text, ' '))) AS n_distinct
      FROM documents
    )
    SELECT doc_id,
      ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
      ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
      ROUND(LEAST(CAST(n_chars AS DOUBLE) / 400, 1.0), 6) AS length_score,
      ROUND(
        0.4 * LEAST(CAST(n_chars AS DOUBLE) / 400, 1.0)
        + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
        + 0.3 * (1 - CAST(n_stop AS DOUBLE) / n_tokens), 6) AS quality
    FROM feats
    """,
    doc="Document quality score: length / stopword-ratio / lexical-"
        "diversity blend (the C4/Gopher-style filtering features).",
    tags=("text",),
)
def s28c_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_chars = F.length("text").cast("double")
    n_tokens = F.size(words).cast("double")
    n_stop = _marker_hits(words, tuple(STOPWORDS)).cast("double")
    n_distinct = F.size(F.array_distinct(words)).cast("double")
    length_score = F.least(n_chars / 400, F.lit(1.0))
    stop_ratio = n_stop / n_tokens
    distinct_ratio = n_distinct / n_tokens
    quality = 0.4 * length_score + 0.3 * distinct_ratio + 0.3 * (1 - stop_ratio)
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(length_score, 6).alias("length_score"),
        F.round(quality, 6).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Document fingerprint (normalized content digest)
# ---------------------------------------------------------------------------
@register(
    "s28d_fingerprint",
    oracle="""
    SELECT doc_id,
      md5(array_to_string(list_sort(list_distinct(
        regexp_split_to_array(lower(text), ' '))), ' ')) AS fingerprint
    FROM documents
    """,
    doc="Order-insensitive document fingerprint: md5 of the sorted distinct "
        "token set — catches shuffled/duplicated-content documents that "
        "exact hashing misses.",
    tags=("text", "dedup"),
)
def s28d_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ",
                F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))),
            )
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------
@register(
    "s28e_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(text, ' ')) AS w
      FROM documents
    ), tf AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w
    ), df AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.w AS term,
             ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (w) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
      ) AS rk FROM scored
    )
    WHERE rk <= 3
    """,
    doc="TF-IDF: tf per (doc, term), df per term, idf = ln(N/df); top-3 "
        "terms per doc. Single corpus explode; df is a window count over "
        "the tf frame, so no duplicated subtree and no vocabulary-sized "
        "broadcast (tests/test_plans.py pins one Generate in the plan).",
    tags=("text",),
)
def s28e_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = fan_out(docs).select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    # df as COUNT(*) OVER (PARTITION BY w) on the tf frame — NOT a second
    # aggregate branch joined back in. A `tf.groupBy(w)` branch looks
    # shareable, but column pruning rewrites its partial aggregate to
    # distinct-only (functions=[]), so it is never canonically equal to
    # tf's and AQE re-executes the corpus explode+agg for it (r4's bench
    # regression). The window spelling keeps ONE explode by construction,
    # costs the same tf-sized shuffle on w the join branch needed, and
    # drops the df broadcast — which a 100 TB vocabulary would overflow
    # anyway.
    withdf = tf.withColumn("df", F.count("*").over(W.partitionBy("w")))
    # N as a broadcast single-row cross join — stays inside the one job
    # instead of a second driver-side scan of the corpus.
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = withdf.crossJoin(F.broadcast(n)).select(
        "doc_id",
        F.col("w").alias("term"),
        F.round(
            F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
    )


# ---------------------------------------------------------------------------
# Repetition scoring (Gopher-style quality rules)
# ---------------------------------------------------------------------------
@register(
    "s28g_repetition_score",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(text, ' ') AS words FROM documents
    ), grams AS (
      SELECT doc_id,
        list_transform(
          generate_series(1, greatest(LEN(words) - 1, 1)),
          i -> array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 1], ' ')
        ) AS g2
      FROM w
    ), per_row AS (
      SELECT doc_id,
        CAST(LEN(words) AS BIGINT) AS n_tokens,
        CAST(LEN(g2) - LEN(list_distinct(g2)) AS BIGINT) AS dup_2grams
      FROM w JOIN grams USING (doc_id)
    ), tok AS (
      SELECT doc_id, unnest(words) AS tk FROM w
    ), topc AS (
      SELECT doc_id, MAX(c) AS top_cnt FROM (
        SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY doc_id, tk
      ) GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_tokens,
           (t.top_cnt * 1000000) // p.n_tokens AS top_token_ppm,
           (p.dup_2grams * 1000000) // greatest(p.n_tokens - 1, 1) AS dup_2gram_ppm
    FROM per_row p JOIN topc t USING (doc_id)
    """,
    doc="Gopher-style repetition quality signals per document: most-common-"
        "token fraction and duplicate-2-gram fraction, both as exact "
        "integer parts-per-million (integer div — no float rounding "
        "divergence cross-engine). Filter rule-of-thumb: top_token_ppm > "
        "200000 or dup_2gram_ppm > 300000 => boilerplate/spam. One explode+"
        "groupBy shuffle for token counts; 2-gram stats are per-row array "
        "expressions inside the scan stage.",
    tags=("text", "pipeline"),
)
def s28g_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split("text", " ")
    g2 = _gram_expr(2)
    per_row = docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_tokens"),
        (F.size(g2) - F.size(F.array_distinct(g2)))
        .cast("bigint")
        .alias("dup_2grams"),
    )
    topc = (
        fan_out(docs)
        .select("doc_id", F.explode(words).alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    return per_row.join(topc, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.expr("(top_cnt * 1000000) div n_tokens").alias("top_token_ppm"),
        F.expr(
            "(dup_2grams * 1000000) div greatest(n_tokens - 1, 1L)"
        ).alias("dup_2gram_ppm"),
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@register(
    "s28h_pii_redact",
    oracle=f"""
    WITH pii AS (
      SELECT doc_id,
        text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com or +1-555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii_text
      FROM documents
    )
    SELECT doc_id,
      CAST(LEN(regexp_extract_all(pii_text, '{_EMAIL_RE}')) AS INT) AS n_emails,
      CAST(LEN(regexp_extract_all(pii_text, '{_PHONE_RE}')) AS INT) AS n_phones,
      md5(regexp_replace(regexp_replace(pii_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                         '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_hash
    FROM pii
    """,
    doc="PII detection + redaction: regex match counts and the md5 of the "
        "redacted text (hash proves byte-identical replacement on both "
        "engines). The synthetic corpus carries no PII, so the entry first "
        "derives a pii_text column embedding a doc_id-seeded email+phone — "
        "the operator under test is the regexp count/replace pipeline, "
        "exercised per-row inside the scan stage (no shuffle, no UDF). "
        "Patterns are deliberately in the Java-regex/RE2 common subset.",
    tags=("text", "pipeline"),
)
def s28h_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(pii_text, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(pii_text, F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(pii_text, F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


# ---------------------------------------------------------------------------
# S28 variant — bigram vocabulary counts (BPE-merge statistics)
# ---------------------------------------------------------------------------
BIGRAM_MIN_COUNT = 5


@register(
    "s28i_bigram_counts",
    oracle=f"""
    WITH toks AS (
      SELECT regexp_split_to_array(text, ' ') AS t FROM documents
    ),
    pos AS (
      SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks
    )
    SELECT t[i] || ' ' || t[i + 1] AS bigram, COUNT(*) AS n
    FROM pos
    GROUP BY bigram
    HAVING COUNT(*) >= {BIGRAM_MIN_COUNT}
    """,
    doc="Adjacent-pair (bigram) frequency counts over the corpus — the "
        "statistic a BPE/WordPiece vocabulary induction step maximizes "
        "each merge round. Pure JVM expressions: split -> transform over "
        "an index sequence -> explode -> count; the fan-out happens "
        "inside the scan stage, so the only shuffle carries (bigram, "
        "partial count) pairs after map-side combine. The HAVING floor "
        "bounds the output to pairs worth merging; at 100 TB the "
        "shuffle is proportional to the distinct-bigram tail, not the "
        "corpus.",
    tags=("text", "pipeline"),
)
def s28i_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.withColumn("t", F.split("text", " "))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    return (
        pairs.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= BIGRAM_MIN_COUNT)
    )


# ---------------------------------------------------------------------------
# S28 variant — feature hashing (the hashing trick)
# ---------------------------------------------------------------------------
HASH_DIM = 1024


@register(
    "s28j_feature_hash",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(text, ' ')) AS tok
      FROM documents
    )
    SELECT CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
             % {HASH_DIM} AS bucket,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT tok) AS n_distinct_terms
    FROM tok
    GROUP BY bucket
    """,
    doc="The hashing trick: every token maps to one of a fixed "
        f"{HASH_DIM} feature buckets by md5 — the vocabulary-free "
        "featurization a linear model or embedding-bag trains on when "
        "the term space is unbounded. Output is the per-bucket corpus "
        "frequency + distinct-term (collision) profile. explode fans "
        "out inside the scan stage; one shuffle carries map-side-"
        "combined (bucket, count) partials bounded by the fixed "
        "dimension, so cost at 100 TB is a corpus scan plus a "
        f"{HASH_DIM}-row shuffle.",
    tags=("text", "pipeline"),
)
def s28j_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
        % HASH_DIM
    )
    return toks.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_terms"),
    )


# ---------------------------------------------------------------------------
# Character-class entropy (corpus quality signal)
# ---------------------------------------------------------------------------
# Shannon entropy over four character classes (letters / digits / spaces /
# other). Near-zero entropy flags degenerate documents (all one class:
# number dumps, whitespace runs, binary spew) — a standard cheap filter
# beside length/stopword ratios (C4/Gopher-style pipelines).
_ENTROPY_CLASSES = ("[A-Za-z]", "[0-9]", "[ ]")


def _sql_class_count(pattern: str) -> str:
    return (
        f"LENGTH(text) - LENGTH(regexp_replace(text, '{pattern}', '', 'g'))"
    )


@register(
    "s28k_class_entropy",
    oracle=f"""
    SELECT doc_id, entropy_mbits,
           CASE WHEN entropy_mbits < 500 THEN 'degenerate' ELSE 'ok' END
             AS entropy_flag
    FROM (
      SELECT doc_id,
             ROUND(-1000.0 * (
               + CASE WHEN n_alpha > 0 THEN (CAST(n_alpha AS DOUBLE) / n)
                      * LOG2(CAST(n_alpha AS DOUBLE) / n) ELSE 0 END
               + CASE WHEN n_digit > 0 THEN (CAST(n_digit AS DOUBLE) / n)
                      * LOG2(CAST(n_digit AS DOUBLE) / n) ELSE 0 END
               + CASE WHEN n_space > 0 THEN (CAST(n_space AS DOUBLE) / n)
                      * LOG2(CAST(n_space AS DOUBLE) / n) ELSE 0 END
               + CASE WHEN n_other > 0 THEN (CAST(n_other AS DOUBLE) / n)
                      * LOG2(CAST(n_other AS DOUBLE) / n) ELSE 0 END
             ), 6) AS entropy_mbits
      FROM (
        SELECT doc_id,
               CAST(LENGTH(text) AS DOUBLE) AS n,
               {_sql_class_count('[A-Za-z]')} AS n_alpha,
               {_sql_class_count('[0-9]')} AS n_digit,
               {_sql_class_count('[ ]')} AS n_space,
               LENGTH(regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '[A-Za-z]', '', 'g'),
                   '[0-9]', '', 'g'),
                 '[ ]', '', 'g')) AS n_other
        FROM documents
        WHERE LENGTH(text) > 0
      )
    )
    """,
    doc="Character-class Shannon entropy in millibits: distribution of "
        "letters/digits/spaces/other per document, flagging degenerate "
        "docs (single-class dumps) that length filters miss. Counts come "
        "from length-difference of class-stripped text — pure JVM regexp "
        "expressions inside one codegen stage, zero shuffle, zero Python; "
        "at 100 TB this is scan-speed. log2 is transcendental, so the "
        "score rounds to 6 decimals of millibits for cross-engine "
        "hash-stability (midpoints have measure zero).",
    tags=("text", "quality"),
)
def s28k_class_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "text")
    )

    def class_count(pattern: str) -> F.Column:
        return F.length("text") - F.length(
            F.regexp_replace(F.col("text"), pattern, "")
        )

    counts = docs.select(
        "doc_id",
        F.length("text").cast("double").alias("n"),
        class_count("[A-Za-z]").alias("n_alpha"),
        class_count("[0-9]").alias("n_digit"),
        class_count("[ ]").alias("n_space"),
        F.length(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.col("text"), "[A-Za-z]", ""),
                    "[0-9]", ""),
                "[ ]", "")
        ).alias("n_other"),
    )

    def term(c: str) -> F.Column:
        p = F.col(c).cast("double") / F.col("n")
        return F.when(F.col(c) > 0, p * F.log2(p)).otherwise(F.lit(0.0))

    entropy = F.round(
        F.lit(-1000.0)
        * (term("n_alpha") + term("n_digit") + term("n_space") + term("n_other")),
        6,
    ).alias("entropy_mbits")
    flag = (
        F.when(F.col("entropy_mbits") < 500, F.lit("degenerate"))
        .otherwise(F.lit("ok"))
        .alias("entropy_flag")
    )
    return counts.select("doc_id", entropy).select("doc_id", "entropy_mbits", flag)


# ---------------------------------------------------------------------------
# Unigram LM scoring (perplexity-proxy quality filter)
# ---------------------------------------------------------------------------
@register(
    "s28l_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(text, ' ')) AS tok
      FROM documents
      WHERE LENGTH(text) > 0
    ), freq AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), total AS (
      SELECT SUM(c) AS t FROM freq
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(-SUM(LN(CAST(c AS DOUBLE) / t)) / COUNT(*), 8)
             AS avg_neg_logprob
    FROM toks
    JOIN freq USING (tok)
    CROSS JOIN total
    GROUP BY doc_id
    """,
    doc="Perplexity-proxy quality score: average negative log-probability "
        "of each document under the corpus's own unigram distribution — "
        "the CCNet-style LM filter with the LM reduced to unigrams so it "
        "stays exactly oracle-checkable. Rare-token-heavy (or "
        "wrong-language) docs score high, boilerplate scores low. Scale "
        "(the s28e single-explode shape): ONE corpus explode into per-"
        "(doc, token) counts; corpus frequencies come from a window SUM "
        "over the tf frame (a freq branch spelled as groupBy gets its "
        "partial agg pruned to distinct-only and re-runs the explode — "
        "the duplication the plan audit caught here too), and the total "
        "token count needs no explode at all: SUM(size(split(text))) "
        "straight off the scan, one broadcast scalar. Per-doc score is "
        "then sum(tf*ln(c/t))/sum(tf) over tf-sized rows, never corpus-"
        "sized shuffles. ln is transcendental and per-doc accumulation "
        "grouping differs across engines, so the score rounds to 8 "
        "decimals.",
    tags=("text", "quality", "ml"),
)
def s28l_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "text")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    c = F.sum("tf").over(W.partitionBy("tok"))
    total = docs.agg(
        F.sum(F.size(F.split("text", " "))).cast("double").alias("t")
    )
    scored = (
        tf.withColumn("c", c)
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "tf",
            (
                F.col("tf")
                * F.log(F.col("c").cast("double") / F.col("t"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.round(-F.sum("lp") / F.sum("tf"), 8).alias("avg_neg_logprob"),
    )
