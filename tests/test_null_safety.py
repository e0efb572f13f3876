"""NULL-safety of the generic helper surfaces.

The registered fixtures carry no NULLs, so the oracle sweep can never
exercise these paths — but the helpers advertise themselves as generic
plumbing (nullable blob columns, nullable embeddings, nullable metric
columns), where a single NULL row used to either crash the task
(bytes(None), zero-copy Arrow refusal) or silently poison a whole
group (np.median over NaN). Each test pins SQL semantics: NULL in,
NULL (or no row) out, never an exception, never a fabricated value.
"""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _payload_frame(spark, with_null=True):
    rows = [
        Row(doc_id=1, payload=bytes(range(16))),
        Row(doc_id=2, payload=None if with_null else bytes(range(16, 32))),
        Row(doc_id=3, payload=bytes(range(32, 48))),
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_decode_images_null_payload_yields_null_metadata(spark):
    from xgboost_ray_spark.operators.multimodal import decode_images

    out = {r["doc_id"]: r for r in
           decode_images(_payload_frame(spark)).collect()}
    assert set(out) == {1, 2, 3}, "NULL payload must keep its row"
    assert out[2]["n_bytes"] is None
    assert out[2]["header_hash"] is None
    assert out[2]["width"] is None and out[2]["height"] is None
    assert out[1]["n_bytes"] == 16 and out[1]["width"] is not None


def test_decode_images_short_payload_yields_null_dims(spark):
    """Payloads too short to carry a header field (0/1 bytes) must yield
    NULL for that field, not raise — int('', 16) used to kill the batch."""
    from xgboost_ray_spark.operators.multimodal import decode_images

    rows = [
        Row(doc_id=1, payload=b""),
        Row(doc_id=2, payload=b"\x07"),
        Row(doc_id=3, payload=bytes(range(16))),
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    out = {r["doc_id"]: r for r in
           decode_images(spark.createDataFrame(rows, schema)).collect()}
    assert out[1]["n_bytes"] == 0
    assert out[1]["width"] is None and out[1]["height"] is None
    # one byte = two hex chars: width computable, height is not
    assert out[2]["n_bytes"] == 1
    assert out[2]["width"] == 0x07 % 64 + 1 and out[2]["height"] is None
    assert out[3]["width"] is not None and out[3]["height"] is not None


def test_resize_images_propagates_null_dims(spark):
    from xgboost_ray_spark.operators.multimodal import (
        decode_images,
        resize_images,
    )

    out = {r["doc_id"]: r for r in
           resize_images(decode_images(_payload_frame(spark))).collect()}
    assert out[2]["out_w"] is None and out[2]["out_h"] is None
    assert out[1]["out_w"] is not None


def test_sample_frames_skips_null_payload(spark):
    from xgboost_ray_spark.operators.multimodal import sample_frames

    docs = {r["doc_id"] for r in
            sample_frames(_payload_frame(spark)).collect()}
    assert 2 not in docs, "a NULL payload has no frames"
    assert {1, 3} <= docs


def test_audio_energy_skips_null_payload(spark):
    from xgboost_ray_spark.operators.multimodal import audio_window_energy

    docs = {r["doc_id"] for r in
            audio_window_energy(_payload_frame(spark)).collect()}
    assert 2 not in docs, "a NULL payload has no audio windows"
    assert {1, 3} <= docs


def test_median_udaf_ignores_nulls_like_sql(spark):
    from xgboost_ray_spark.operators.udx import median_udaf

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", None), ("b", None)],
        schema=T.StructType(
            [
                T.StructField("g", T.StringType()),
                T.StructField("v", T.IntegerType()),
            ]
        ),
    )
    out = {
        r["g"]: r["m"]
        for r in df.groupBy("g")
        .agg(median_udaf()(F.col("v")).alias("m"))
        .collect()
    }
    assert out["a"] == 1.5, "NULL must be ignored, not poison the group"
    assert out["b"] is None or math.isnan(out["b"]), "all-NULL group -> NULL"


def test_vector_norms_null_embedding_yields_null_row(spark):
    from xgboost_ray_spark.operators.udx import vector_norms

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, None), (3, [])],
        schema=T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField(
                    "embedding", T.ArrayType(T.FloatType()), True
                ),
            ]
        ),
    )
    out = {r["vec_id"]: r for r in vector_norms(df).collect()}
    assert out[1]["dim"] == 2 and out[1]["l2_norm"] == 5.0
    assert out[2]["dim"] is None and out[2]["l2_norm"] is None
    assert out[3]["dim"] == 0 and out[3]["l2_norm"] == 0.0


def test_salted_join_rejects_dim_preserving_how(spark):
    import pytest

    from xgboost_ray_spark.operators.skew import salted_join

    fact = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").alias("fid")
    )
    dim = spark.range(3).select(F.col("id").alias("k"))
    for bad in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salt-safe"):
            salted_join(fact, dim, "k", salt_col="fid", how=bad)
    # fact-preserving joins still work and match the unsalted answer
    n = salted_join(fact, dim, "k", salt_col="fid", how="left").count()
    assert n == 10
    # Spark's bare "semi"/"anti" aliases are fact-preserving too — the
    # allowlist must not reject the short spellings of joins it permits
    # under their left_* names.
    for how, expect in (("semi", 3), ("anti", 7),
                        ("left_semi", 3), ("left_anti", 7)):
        got = salted_join(fact, dim, "k", salt_col="fid", how=how).count()
        assert got == expect, (how, got)


def test_top_k_per_group_rejects_colliding_rank_col(spark):
    """rank_col naming an existing column would silently replace the data
    with the 1-based rank (right rows, corrupted values) — must raise."""
    import pytest

    from xgboost_ray_spark.operators.windows import top_k_per_group

    df = spark.range(10).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v")
    )
    with pytest.raises(ValueError, match="already exists"):
        top_k_per_group(df, ["g"], [F.col("v").desc()], k=2, rank_col="v")
    # non-colliding rank_col still works
    out = top_k_per_group(df, ["g"], [F.col("v").desc()], k=2, rank_col="rk")
    assert out.count() == 4 and "rk" in out.columns


def test_range_join_bands_handles_negative_bounds(spark, monkeypatch):
    """Band-side start bins must floor toward -inf like the fact side's
    F.floor: int() truncation skipped a negative band's lowest bin and
    silently dropped every fact row landing in it."""
    from xgboost_ray_spark.operators import joins

    monkeypatch.setattr(
        joins, "DISCOUNT_BANDS",
        [("rebate", -0.055, 0.0), ("none", 0.0, 0.02)],
    )
    fact = spark.createDataFrame(
        [(1, -0.052), (2, -0.003), (3, 0.01)], ["rid", "v"]
    )
    out = {r["rid"]: r["band"]
           for r in joins.range_join_bands(fact, "v").collect()}
    assert out == {1: "rebate", 2: "rebate", 3: "none"}, out


def test_nfc_changed_detects_length_preserving_reorder(spark):
    """NFC canonical reordering of combining marks keeps the byte length;
    the changed flag must compare content, not octet_length — a length
    test reports changed=0 for exactly these reorder-only fixes."""
    from xgboost_ray_spark.operators.udx import nfc_normalize

    # ccc(U+0316)=220 < ccc(U+0301)=230: NFC reorders 0301,0316 ->
    # 0316,0301. Base 'x' has no precomposed form with either mark, so
    # the result is the SAME 5 UTF-8 bytes, different string.
    docs = spark.createDataFrame(
        [(1, "x\u0301\u0316"), (2, "plain")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in nfc_normalize(docs).collect()}
    assert out[1]["bytes_before"] == out[1]["bytes_after"] == 5
    assert out[1]["changed"] == 1
    assert out[2]["changed"] == 0
