"""Image-metadata quality + caption-image alignment checks
(operators/quality.py, the `image_quality` / `alignment` x-spark
blocks)."""

import math

import numpy as np
import pytest

from jsonschema_spark.operators.quality import (alignment_violations,
                                                cosine_columns,
                                                image_quality_violations)
from jsonschema_spark.spec import SchemaCompileError, _check_x_spark


def _imgs(spark):
    rows = [
        # id, w, h, nbytes  (payload synthesized as that many bytes)
        ("ok",        100, 100, 5000),
        ("wide",      6400,  20, 5000),     # aspect 320
        ("tall",        20, 6400, 5000),    # aspect 1/320
        ("tiny",         8,   8, 500),      # 64 px < min_pixels
        ("truncated",  100, 100, 6),        # < min_bytes
        ("bloated",     10,  10, 90000),    # 900 bytes/px > max
        ("zero_w",       0, 100, 500),      # geometry checks skipped
        ("null_dims", None, None, 500),     # geometry checks skipped
        ("null_bytes", 100, 100, None),     # byte checks skipped
    ]
    data = [(i, w, h, (b"x" * n) if n is not None else None)
            for (i, w, h, n) in rows]
    return spark.createDataFrame(
        data, "image_id string, w int, h int, bytes binary")


CFG = {"min_aspect": 0.01, "max_aspect": 100.0,
       "min_pixels": 100, "max_pixels": 10_000_000,
       "min_bytes": 16, "max_bytes": 50_000,
       "min_bytes_per_pixel": 0.001, "max_bytes_per_pixel": 100.0}


def test_image_quality_flags_each_band(spark):
    out = image_quality_violations(_imgs(spark), CFG, ["image_id"])
    got = {(r["image_id"], r["keyword"]) for r in out.collect()}
    assert ("wide", "imageQuality:aspect") in got
    assert ("tall", "imageQuality:aspect") in got
    assert ("tiny", "imageQuality:pixels") in got
    assert ("truncated", "imageQuality:bytes") in got
    assert ("bloated", "imageQuality:bytes") in got      # 90000 > 50000
    assert ("bloated", "imageQuality:bytesPerPixel") in got
    assert not any(i == "ok" for i, _ in got)


def test_image_quality_skips_bad_geometry_and_null_bytes(spark):
    out = image_quality_violations(_imgs(spark), CFG, ["image_id"])
    got = {(r["image_id"], r["keyword"]) for r in out.collect()}
    # non-positive / NULL dims: no geometry or ratio findings (the row
    # keywords own those defects); NULL bytes: no byte findings
    assert not any(i in ("zero_w", "null_dims")
                   and k in ("imageQuality:aspect", "imageQuality:pixels",
                             "imageQuality:bytesPerPixel")
                   for i, k in got)
    assert not any(i == "null_bytes" and "bytes" in k.lower()
                   for i, k in got)


def test_image_quality_messages_use_integer_dims(spark):
    out = image_quality_violations(_imgs(spark), CFG, ["image_id"])
    msg = {r["image_id"]: r["message"] for r in out.collect()
           if r["keyword"] == "imageQuality:aspect"}
    assert "6400x20" in msg["wide"]        # no float-formatted ratios


def test_image_quality_single_threshold(spark):
    out = image_quality_violations(_imgs(spark), {"min_bytes": 16},
                                   ["image_id"])
    got = {(r["image_id"], r["keyword"]) for r in out.collect()}
    assert got == {("truncated", "imageQuality:bytes")}


def _emb(spark):
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.8, 0.6, 0.0, 0.0]          # cos vs a = 0.8
    c = [0.0, 0.0, 1.0, 0.0]          # cos vs a = 0.0
    rows = [
        ("high", a, a),
        ("mid", a, b),
        ("low", a, c),
        ("missing_txt", a, None),
        ("zero_img", [0.0, 0.0, 0.0, 0.0], a),
    ]
    return spark.createDataFrame(
        rows, "pair_id string, img array<float>, txt array<float>")


def test_alignment_thresholds_and_missing(spark):
    cfg = {"image_col": "img", "text_col": "txt", "min_cosine": 0.5}
    out = alignment_violations(_emb(spark), cfg, ["pair_id"])
    got = {(r["pair_id"], r["keyword"]) for r in out.collect()}
    assert got == {("low", "alignment:cosine"),
                   ("missing_txt", "alignment:missing"),
                   ("zero_img", "alignment:missing")}
    # raise the bar: mid (0.8) trips too
    cfg["min_cosine"] = 0.9
    got = {(r["pair_id"], r["keyword"])
           for r in alignment_violations(_emb(spark), cfg,
                                         ["pair_id"]).collect()}
    assert ("mid", "alignment:cosine") in got
    assert ("high", "alignment:cosine") not in got


def test_cosine_matches_numpy(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i in range(50):
        u = rng.normal(size=16).astype(np.float32)
        v = rng.normal(size=16).astype(np.float32)
        rows.append((i, u.tolist(), v.tolist()))
    df = spark.createDataFrame(rows,
                               "i long, u array<float>, v array<float>")
    from pyspark.sql import functions as F
    got = {r["i"]: r["cos"] for r in df.select(
        "i", cosine_columns(F.col("u"), F.col("v")).alias("cos")).collect()}
    for i, u, v in rows:
        u64 = np.asarray(u, dtype=np.float64)
        v64 = np.asarray(v, dtype=np.float64)
        exp = float(u64 @ v64 / (np.linalg.norm(u64) * np.linalg.norm(v64)))
        assert math.isclose(got[i], exp, rel_tol=1e-12), (i, got[i], exp)


def test_spec_grammar_image_quality():
    _check_x_spark({"image_quality": {"min_aspect": 0.1}}, "#/x-spark")
    with pytest.raises(SchemaCompileError, match="unknown key"):
        _check_x_spark({"image_quality": {"min_aspct": 0.1}}, "#/x-spark")
    with pytest.raises(SchemaCompileError, match="at least one threshold"):
        _check_x_spark({"image_quality": {"w_col": "w"}}, "#/x-spark")
    with pytest.raises(SchemaCompileError, match="must be a number"):
        _check_x_spark({"image_quality": {"min_bytes": "16"}}, "#/x-spark")
    with pytest.raises(SchemaCompileError, match="<= max_aspect"):
        _check_x_spark({"image_quality": {"min_aspect": 2.0,
                                          "max_aspect": 1.0}}, "#/x-spark")


def test_spec_grammar_alignment():
    _check_x_spark({"alignment": {"image_col": "a", "text_col": "b"}},
                   "#/x-spark")
    with pytest.raises(SchemaCompileError, match="embedding column"):
        _check_x_spark({"alignment": {"image_col": "a"}}, "#/x-spark")
    with pytest.raises(SchemaCompileError, match=r"\[-1, 1\]"):
        _check_x_spark({"alignment": {"image_col": "a", "text_col": "b",
                                      "min_cosine": 2.0}}, "#/x-spark")
    with pytest.raises(SchemaCompileError, match="unknown key"):
        _check_x_spark({"alignment": {"image_col": "a", "text_col": "b",
                                      "min_cos": 0.5}}, "#/x-spark")


def test_validate_dataset_integration(spark):
    """Both blocks run through validate_dataset alongside row keywords
    and emit into the unified violation stream."""
    from jsonschema_spark import validate_dataset
    rows = [
        ("ok", 100, 100, b"x" * 5000, [1.0, 0.0], [1.0, 0.0]),
        ("bad", 6400, 20, b"x" * 5, [1.0, 0.0], [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, w int, h int, bytes binary, "
              "img array<float>, txt array<float>")
    schema = {
        "type": "object",
        "properties": {"w": {"maximum": 5000}},
        "x-spark": {
            "image_quality": {"max_aspect": 100.0, "min_bytes": 16},
            "alignment": {"image_col": "img", "text_col": "txt",
                          "min_cosine": 0.5},
        },
    }
    out = validate_dataset(df, schema, ["image_id"])
    got = {(r["image_id"], r["keyword"]) for r in out.collect()}
    assert got == {("bad", "maximum"),
                   ("bad", "imageQuality:aspect"),
                   ("bad", "imageQuality:bytes"),
                   ("bad", "alignment:cosine")}


# --------------------------- decoded tier (image_quality_decoded) -----


def test_luma_stats_matches_numpy():
    import numpy as np

    from jsonschema_spark.operators.multimodal import luma_stats
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(20, 30, 3), dtype=np.uint8)
    m, s = luma_stats(px)
    luma = (px[..., 0] * 0.299 + px[..., 1] * 0.587 + px[..., 2] * 0.114)
    assert m == float(luma.mean())
    assert s == float(luma.std())
    solid = np.full((8, 8, 3), 128, np.uint8)
    m, s = luma_stats(solid)
    assert abs(m - 128.0) < 1e-9 and s == 0.0


LUMA_CFG = {"min_luma": 20, "max_luma": 235, "min_contrast": 2}


def _luma_classes(n):
    """Expected class per id (priority: trunc > solid > dark > bright)."""
    out = {}
    for i in range(n):
        if i % 251 == 0:
            out[i] = "skipped"
        elif i % 97 == 0:
            out[i] = "contrast"
        elif i % 89 == 0 or i % 83 == 0:
            out[i] = "brightness"
    return out


def test_decoded_luma_standalone_finds_planted_classes(spark):
    from jsonschema_spark import validate_dataset
    from jsonschema_spark.sources.images import luma_images_df
    n = 600
    df = luma_images_df(spark, n)
    out = validate_dataset(
        df, {"type": "object",
             "x-spark": {"image_quality_decoded": LUMA_CFG}},
        ["image_id"])
    got = {}
    for r in out.collect():
        i = int(r["image_id"][3:], 16)
        got[i] = r["keyword"].split(":")[1]
    want = {i: c for i, c in _luma_classes(n).items() if c != "skipped"}
    assert got == want


def test_decoded_luma_fused_with_phash_equals_standalone(spark):
    """With phash_integrity also configured the luma structs ride the
    fused decode pass — same violations, one decode."""
    from pyspark.sql import functions as F

    from jsonschema_spark import validate_dataset
    from jsonschema_spark.sources.images import luma_images_df
    n = 400
    # give the corpus a correct phash column so the fused pass runs
    # cleanly (recompute on the driver-side generator rule is overkill:
    # just use the integrity checker's own computed value)
    from jsonschema_spark.operators.multimodal import decode_pixels
    df = luma_images_df(spark, n)
    ph = decode_pixels(df.withColumn("phash", F.lit(None).cast("long")),
                       phash=True)
    df2 = df.join(
        F.broadcast(ph.select("image_id",
                              F.col("computed_phash").alias("phash"))),
        "image_id", "left")

    spec_fused = {"type": "object",
                  "x-spark": {"phash_integrity": {"max_hamming": 0},
                              "image_quality_decoded": LUMA_CFG}}
    spec_alone = {"type": "object",
                  "x-spark": {"image_quality_decoded": LUMA_CFG}}
    fused = {(r["image_id"], r["keyword"])
             for r in validate_dataset(df2, spec_fused,
                                       ["image_id"]).collect()
             if r["keyword"].startswith("lumaQuality")}
    alone = {(r["image_id"], r["keyword"])
             for r in validate_dataset(df2, spec_alone,
                                       ["image_id"]).collect()
             if r["keyword"].startswith("lumaQuality")}
    assert fused == alone
    assert any(k == "lumaQuality:contrast" for _, k in fused)


def test_spec_grammar_image_quality_decoded():
    _check_x_spark({"image_quality_decoded": {"min_contrast": 2}},
                   "#/x-spark")
    with pytest.raises(SchemaCompileError, match="unknown key"):
        _check_x_spark({"image_quality_decoded": {"min_lum": 2}},
                       "#/x-spark")
    with pytest.raises(SchemaCompileError, match="at least one"):
        _check_x_spark({"image_quality_decoded": {}}, "#/x-spark")
    with pytest.raises(SchemaCompileError, match="<= max_luma"):
        _check_x_spark({"image_quality_decoded":
                        {"min_luma": 200, "max_luma": 100}}, "#/x-spark")


def test_alignment_arrow_equals_native(spark):
    """The BLAS mapInArrow path and the codegen'd HOF path classify
    every planted pair identically (NULL, zero-norm, misaligned,
    aligned), on the same corpus the driver query uses."""
    from jsonschema_spark.operators.quality import alignment_violations
    from jsonschema_spark.sources.images import aligned_embeddings_df
    pairs = aligned_embeddings_df(spark, 3_000)
    base_cfg = {"image_col": "img", "text_col": "txt", "min_cosine": 0.5}
    nat = {(r["pair_id"], r["keyword"])
           for r in alignment_violations(
               pairs, dict(base_cfg, method="native"),
               ["pair_id"]).collect()}
    arr = {(r["pair_id"], r["keyword"])
           for r in alignment_violations(
               pairs, dict(base_cfg, method="arrow"),
               ["pair_id"]).collect()}
    assert nat == arr
    assert any(k == "alignment:cosine" for _, k in arr)
    assert any(k == "alignment:missing" for _, k in arr)


def test_alignment_arrow_dim_mismatch_is_missing(spark):
    from jsonschema_spark.operators.quality import alignment_violations
    rows = [("ok", [1.0, 0.0], [1.0, 0.0]),
            ("ragged", [1.0, 0.0, 0.0], [1.0, 0.0]),
            ("empty", [], [1.0, 0.0])]
    df = spark.createDataFrame(
        rows, "pair_id string, img array<float>, txt array<float>")
    got = {(r["pair_id"], r["keyword"])
           for r in alignment_violations(
               df, {"image_col": "img", "text_col": "txt",
                    "min_cosine": 0.5, "method": "arrow"},
               ["pair_id"]).collect()}
    assert got == {("ragged", "alignment:missing"),
                   ("empty", "alignment:missing")}


def test_spec_grammar_alignment_method():
    _check_x_spark({"alignment": {"image_col": "a", "text_col": "b",
                                  "method": "arrow"}}, "#/x-spark")
    with pytest.raises(SchemaCompileError, match='"native" or "arrow"'):
        _check_x_spark({"alignment": {"image_col": "a", "text_col": "b",
                                      "method": "blas"}}, "#/x-spark")


def test_alignment_arrow_null_elements_are_missing(spark):
    """A NULL element inside a vector makes the row unscorable on both
    paths (the native fold returns NULL there; the arrow kernel reads
    the child validity bitmap)."""
    from jsonschema_spark.operators.quality import alignment_violations
    rows = [("ok", [1.0, 0.0], [1.0, 0.0]),
            ("holey", [1.0, None], [1.0, 0.0])]
    df = spark.createDataFrame(
        rows, "pair_id string, img array<float>, txt array<float>")
    for method in ("native", "arrow"):
        got = {(r["pair_id"], r["keyword"])
               for r in alignment_violations(
                   df, {"image_col": "img", "text_col": "txt",
                        "min_cosine": 0.5, "method": method},
                   ["pair_id"]).collect()}
        assert got == {("holey", "alignment:missing")}, method


def test_alignment_nan_elements_are_missing_both_paths(spark):
    """NaN-poisoned embeddings are unscorable on BOTH paths (Spark
    orders NaN greater than every double, so an unguarded native fold
    would silently PASS the threshold check — review finding r5)."""
    from jsonschema_spark.operators.quality import alignment_violations
    rows = [("ok", [1.0, 0.0], [1.0, 0.0]),
            ("nantxt", [1.0, 0.0], [float("nan"), 1.0]),
            ("nanimg", [float("nan"), 1.0], [1.0, 0.0])]
    df = spark.createDataFrame(
        rows, "pair_id string, img array<float>, txt array<float>")
    for method in ("native", "arrow"):
        got = {(r["pair_id"], r["keyword"])
               for r in alignment_violations(
                   df, {"image_col": "img", "text_col": "txt",
                        "min_cosine": 0.5, "method": method},
                   ["pair_id"]).collect()}
        assert got == {("nantxt", "alignment:missing"),
                       ("nanimg", "alignment:missing")}, method


def test_decoded_luma_fused_with_pixel_invariant(spark):
    """pixel_invariant (real) + image_quality_decoded WITHOUT phash:
    both violation streams come from ONE decode pass and match the
    separately-configured results."""
    from jsonschema_spark import validate_dataset
    from jsonschema_spark.sources.images import luma_images_df
    df = luma_images_df(spark, 400)
    spec_fused = {"type": "object",
                  "x-spark": {"pixel_invariant": {"decode": "real"},
                              "image_quality_decoded": LUMA_CFG}}
    fused = {(r["image_id"], r["keyword"])
             for r in validate_dataset(df, spec_fused,
                                       ["image_id"]).collect()}
    alone_pix = {(r["image_id"], r["keyword"])
                 for r in validate_dataset(
                     df, {"type": "object",
                          "x-spark": {"pixel_invariant":
                                      {"decode": "real"}}},
                     ["image_id"]).collect()}
    alone_luma = {(r["image_id"], r["keyword"])
                  for r in validate_dataset(
                      df, {"type": "object",
                           "x-spark": {"image_quality_decoded":
                                       LUMA_CFG}},
                      ["image_id"]).collect()}
    assert fused == alone_pix | alone_luma
    assert any(k == "pixelInvariant" for _, k in fused)
    assert any(k.startswith("lumaQuality") for _, k in fused)


def test_alignment_inf_elements_are_missing_both_paths(spark):
    """Inf-poisoned embeddings: na=Inf is not NaN, and Inf/Inf only
    becomes NaN after the division — the guard must sit on the final
    ratio (review finding r5, second pass)."""
    from jsonschema_spark.operators.quality import alignment_violations
    rows = [("ok", [1.0, 0.0], [1.0, 0.0]),
            ("infimg", [float("inf"), 1.0], [1.0, 0.0])]
    df = spark.createDataFrame(
        rows, "pair_id string, img array<float>, txt array<float>")
    for method in ("native", "arrow"):
        got = {(r["pair_id"], r["keyword"])
               for r in alignment_violations(
                   df, {"image_col": "img", "text_col": "txt",
                        "min_cosine": 0.5, "method": method},
                   ["pair_id"]).collect()}
        assert got == {("infimg", "alignment:missing")}, (method, got)
