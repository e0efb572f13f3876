"""Multimodal column plumbing (SURVEY.md north-star addition).

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata, processed by Arrow-batched ``mapInPandas`` — the schema,
partitioning, UDF signature and batch shape are real and tested; the codec
step is not: no image/audio library ships with the package, so a real
decoder (PIL, ffmpeg, soundfile) is the deployment's to wire in where the
fake decoders below sit.

The deterministic fake "decoder" derives metadata purely from the payload
bytes (md5 digest), so even the Python-UDF path is exactly DuckDB-oracle-
checkable — proving the plumbing moves the same bytes Spark-side and
Python-side.

Scale: mapInPandas streams Arrow batches; binary payloads never pass
through the driver, and ``spark.sql.files.maxPartitionBytes`` sizes splits
so a partition of blobs fits executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table
from xgboost_ray_spark.registry import register

DECODE_SCHEMA = (
    "doc_id bigint, n_bytes int, header_hash string, width int, height int"
)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Synthesize an opaque binary column (md5 digest bytes of the text).

    Stands in for a real image/audio payload column read from parquet; the
    point is the ``binary`` dtype flowing through Arrow batches.
    """
    return docs.select("doc_id", F.unhex(F.md5("text")).alias("payload"))


def _fake_decode_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake decode: metadata derived from payload bytes only.

    A NULL payload (real parquet blob columns are nullable) decodes to
    NULL metadata — the row survives with nothing fabricated; pandas
    nullable Int32 carries the nulls through Arrow back to Spark. A
    payload too short to carry the requested header field (0- or 1-byte
    blobs) likewise yields NULL for that field rather than failing the
    batch: int('', 16) would otherwise raise and kill the whole job."""
    payloads = batch["payload"]
    hex_digests = payloads.map(
        lambda b: bytes(b).hex() if b is not None else None
    )

    def hex_field(h, lo, hi):
        if h is None or len(h) < hi:
            return None
        return int(h[lo:hi], 16) % 64 + 1

    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "n_bytes": payloads.map(
                lambda b: len(b) if b is not None else None
            ).astype("Int32"),
            "header_hash": hex_digests.str[:8],
            "width": hex_digests.map(
                lambda h: hex_field(h, 0, 2)
            ).astype("Int32"),
            "height": hex_digests.map(
                lambda h: hex_field(h, 2, 4)
            ).astype("Int32"),
        }
    )


def decode_images(frames: DataFrame) -> DataFrame:
    """Arrow-batched decode over (doc_id, payload binary) frames."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if len(batch):
                yield _fake_decode_batch(batch)

    return frames.mapInPandas(run, schema=DECODE_SCHEMA)


@register(
    "s29b_multimodal_decode",
    oracle="""
    SELECT
      doc_id,
      CAST(16 AS INT) AS n_bytes,
      substring(md5(text), 1, 8) AS header_hash,
      CAST(('0x' || substring(md5(text), 1, 2))::BIGINT % 64 + 1 AS INT) AS width,
      CAST(('0x' || substring(md5(text), 3, 2))::BIGINT % 64 + 1 AS INT) AS height
    FROM documents
    """,
    doc="Binary-column decode plumbing: binary payload -> mapInPandas "
        "(Arrow batches) -> typed metadata. Decode itself is a deterministic "
        "fake (real codec stubbed); the oracle proves byte-exact transport.",
    tags=("multimodal", "pandas-udf"),
)
def s29b_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return decode_images(with_binary_payload(docs))


RESIZE_MAX_DIM = 32
RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, out_w int, out_h int"
)


def resize_images(decoded: DataFrame) -> DataFrame:
    """Aspect-preserving resize over decoded metadata (real resize stubbed;
    the integer dimension math is the testable part — pure int arithmetic so
    both engines floor identically)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            long_side = b[["width", "height"]].max(axis=1)
            # Nullable Int32 (not bare int32): NULL dims from a NULL
            # payload upstream propagate as NULL out dims instead of
            # failing the astype.
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "width": b["width"],
                    "height": b["height"],
                    "out_w": (
                        b["width"] * RESIZE_MAX_DIM // long_side
                    ).astype("Int32"),
                    "out_h": (
                        b["height"] * RESIZE_MAX_DIM // long_side
                    ).astype("Int32"),
                }
            )

    return decoded.select("doc_id", "width", "height").mapInPandas(
        run, schema=RESIZE_SCHEMA
    )


@register(
    "s29d_multimodal_resize",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
        CAST(('0x' || substring(md5(text), 1, 2))::BIGINT % 64 + 1 AS INT) AS width,
        CAST(('0x' || substring(md5(text), 3, 2))::BIGINT % 64 + 1 AS INT) AS height
      FROM documents
    )
    SELECT doc_id, width, height,
      CAST(width * {RESIZE_MAX_DIM} // GREATEST(width, height) AS INT) AS out_w,
      CAST(height * {RESIZE_MAX_DIM} // GREATEST(width, height) AS INT) AS out_h
    FROM meta
    """,
    doc="Aspect-preserving image resize plumbing (decode -> mapInPandas "
        "dimension math); codec stubbed, integer math oracle-exact.",
    tags=("multimodal", "pandas-udf"),
)
def s29d_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return resize_images(decode_images(with_binary_payload(docs)))


FRAME_STRIDE = 7
FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_hash string"


def sample_frames(frames: DataFrame) -> DataFrame:
    """Frame sampling for video-like payloads: n_frames derives from the
    payload bytes (deterministic fake; real demuxer stubbed), one output row
    per sampled frame — mapInPandas doing row EXPANSION, the shape a real
    frame extractor needs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for b in batches:
            # A NULL payload has no frames to sample — drop those rows
            # before expansion instead of crashing the task on bytes(None).
            b = b[b["payload"].notna()]
            if not len(b):
                continue
            # Vectorized expansion: per-doc Python work is O(docs); only
            # the md5 per emitted frame (the part a real demuxer would
            # also pay per frame) runs in the O(frames) loop.
            digests = [bytes(p).hex() for p in b["payload"]]
            n_frames = np.array([int(d[8:10], 16) + 1 for d in digests])
            counts = (n_frames + FRAME_STRIDE - 1) // FRAME_STRIDE
            doc_rep = np.repeat(b["doc_id"].to_numpy(), counts)
            frame_idx = np.concatenate(
                [np.arange(0, n, FRAME_STRIDE) for n in n_frames]
            ).astype("int32")
            digest_rep = np.repeat(np.array(digests, dtype=object), counts)
            frame_hash = [
                hashlib.md5(f"{d}_{i}".encode()).hexdigest()[:16]
                for d, i in zip(digest_rep, frame_idx)
            ]
            yield pd.DataFrame(
                {"doc_id": doc_rep, "frame_idx": frame_idx,
                 "frame_hash": frame_hash}
            )

    return frames.mapInPandas(run, schema=FRAME_SCHEMA)


@register(
    "s29e_frame_sample",
    oracle=f"""
    WITH v AS (
      SELECT doc_id, md5(text) AS digest,
             ('0x' || substring(md5(text), 9, 2))::BIGINT + 1 AS n_frames
      FROM documents
    )
    SELECT doc_id,
           CAST(f AS INT) AS frame_idx,
           substring(md5(digest || '_' || CAST(f AS VARCHAR)), 1, 16) AS frame_hash
    FROM v, LATERAL (
      SELECT unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), {FRAME_STRIDE})) AS f
    )
    """,
    doc=f"Video frame-sampling plumbing: payload -> every-{FRAME_STRIDE}th "
        "frame rows via mapInPandas row expansion (demuxer stubbed, "
        "deterministic fake frame ids).",
    tags=("multimodal", "pandas-udf"),
)
def s29e_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(with_binary_payload(docs))


@register(
    "s29_pandas_udf",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
    FROM lineitem
    WHERE l_orderkey <= 200
    """,
    doc="Scalar Pandas UDF (Arrow-vectorized) computing the charge "
        "expression; oracle is the equivalent SQL — proves UDF/SQL parity. "
        "(Production keeps this JVM-side; the UDF exists to test the path.)",
    tags=("pandas-udf",),
)
def s29_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def charge(
        price: pd.Series, discount: pd.Series, tax: pd.Series
    ) -> pd.Series:
        # No rounding inside the UDF: numpy rounds half-even, SQL engines
        # round half-away — final rounding happens engine-side via F.round.
        return price * (1 - discount) * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 200).select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charged"),
    )


@register(
    "s29c_grouped_map",
    oracle="""
    SELECT l_returnflag,
           l_orderkey,
           l_extendedprice,
           ROUND(l_extendedprice - avg_p, 4) AS price_dev
    FROM (
      SELECT l_returnflag, l_orderkey, l_extendedprice,
             AVG(l_extendedprice) OVER (PARTITION BY l_returnflag) AS avg_p
      FROM lineitem WHERE l_orderkey <= 100
    )
    """,
    doc="Grouped-map applyInPandas (per-group demeaning) — the UDAF/grouped "
        "transform surface; oracle via window AVG.",
    tags=("pandas-udf",),
)
def s29c_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 100)
        .select("l_returnflag", "l_orderkey", "l_extendedprice")
    )

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["price_dev"] = (
            pdf["l_extendedprice"] - pdf["l_extendedprice"].mean()
        ).round(4)
        return pdf

    return li.groupBy("l_returnflag").applyInPandas(
        demean,
        schema="l_returnflag string, l_orderkey bigint, "
        "l_extendedprice double, price_dev double",
    )


# ---------------------------------------------------------------------------
# Audio modality: windowed RMS energy + peak over PCM-like payloads
# ---------------------------------------------------------------------------
AUDIO_SCHEMA = "doc_id bigint, window_id int, rms double, peak int"
AUDIO_WINDOW = 4  # samples per analysis window (16-byte payload -> 4 windows)


def audio_window_energy(frames: DataFrame) -> DataFrame:
    """Arrow-batched windowed energy over (doc_id, payload binary) frames.

    The fake 'PCM' treats each payload byte as an unsigned 8-bit sample
    centered at 128 — deterministic, so the whole Python path is exactly
    oracle-checkable. RMS uses integer square sums divided by the window
    size (exact in binary) and one sqrt (correctly rounded per IEEE-754 in
    both engines), so NO rounding step is needed: the doubles match
    bit-for-bit."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            out_id, out_w, out_rms, out_peak = [], [], [], []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                if payload is None:
                    continue  # a NULL payload has no audio windows
                x = (
                    np.frombuffer(bytes(payload), dtype=np.uint8)
                    .astype(np.int64)
                    - 128
                )
                n_win = len(x) // AUDIO_WINDOW
                win = x[: n_win * AUDIO_WINDOW].reshape(n_win, AUDIO_WINDOW)
                rms = np.sqrt((win * win).sum(axis=1) / float(AUDIO_WINDOW))
                peak = np.abs(win).max(axis=1)
                out_id.extend([doc_id] * n_win)
                out_w.extend(range(n_win))
                out_rms.extend(rms.tolist())
                out_peak.extend(int(p) for p in peak)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_id, dtype="int64"),
                    "window_id": pd.Series(out_w, dtype="int32"),
                    "rms": pd.Series(out_rms, dtype="float64"),
                    "peak": pd.Series(out_peak, dtype="int32"),
                }
            )

    return frames.mapInPandas(run, schema=AUDIO_SCHEMA)


@register(
    "s29f_audio_window_rms",
    oracle="""
    WITH base AS (SELECT doc_id, md5(text) AS h FROM documents),
    w AS (
      SELECT doc_id, h, UNNEST([0, 1, 2, 3]) AS window_id FROM base
    ), s AS (
      SELECT doc_id, window_id,
             (('0x' || substring(h, 8*window_id + 1, 2))::BIGINT - 128) AS s0,
             (('0x' || substring(h, 8*window_id + 3, 2))::BIGINT - 128) AS s1,
             (('0x' || substring(h, 8*window_id + 5, 2))::BIGINT - 128) AS s2,
             (('0x' || substring(h, 8*window_id + 7, 2))::BIGINT - 128) AS s3
      FROM w
    )
    SELECT doc_id,
           CAST(window_id AS INT) AS window_id,
           SQRT((s0*s0 + s1*s1 + s2*s2 + s3*s3) / 4.0) AS rms,
           CAST(GREATEST(ABS(s0), ABS(s1), ABS(s2), ABS(s3)) AS INT) AS peak
    FROM s
    """,
    doc="Audio-modality plumbing: PCM-like binary payloads -> Arrow-batched "
        "windowed RMS energy + peak amplitude per analysis window (the "
        "silence/clipping screen an audio corpus runs before training). "
        "No real codec ships: a deterministic byte-derived fake "
        "decodes, same pattern as the image path; "
        "numpy vectorizes per batch. The RMS needs NO cross-engine "
        "rounding: integer square sums and /4.0 are exact, and sqrt is "
        "correctly rounded in both engines — bit-identical doubles from "
        "a Python UDF path. Scale: windows fan out inside mapInPandas "
        "(4x rows of 4 small columns), payloads never visit the driver.",
    tags=("multimodal", "pandas-udf", "audio"),
)
def s29f_audio_window_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return audio_window_energy(with_binary_payload(docs))
