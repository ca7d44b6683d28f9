"""One violation-struct builder: every ``x-spark`` producer writes its
violation structs as Spark SQL text through ``validator._vrow``, and no
producer reaches the Catalyst walk ``sql.from_column``, which is kept
for extension Columns only."""

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import validate_dataset
from jsonschema_spark.compiler import sql
from jsonschema_spark.operators.drift import save_baseline
from jsonschema_spark.operators.multimodal import caption_check
from jsonschema_spark.operators.quality import image_quality_violations
from jsonschema_spark.sources.images import (IMAGES_SCHEMA, images_df,
                                             licenses_df, luma_images_df,
                                             phash_images_df,
                                             reference_caption)

LUMA_CFG = {"min_luma": 20, "max_luma": 235, "min_contrast": 2}


@pytest.fixture
def no_from_column(monkeypatch):
    def refuse(c):
        raise AssertionError(f"sql.from_column called on {c}")
    monkeypatch.setattr(sql, "from_column", refuse)


def _kinds(out):
    return {r["keyword"] for r in out.select("keyword").distinct().collect()}


def test_every_batch_block_builds_text_structs(spark, tmp_path,
                                               no_from_column):
    img = images_df(spark, 2_000, with_license=True, with_id=True).withColumns({
        "img_vec": F.array(F.col("w").cast("float"), F.col("h").cast("float")),
        "txt_vec": F.when(F.col("id") % 53 == 0, F.lit(None)).otherwise(
            F.array(F.col("h").cast("float"), F.col("w").cast("float")))}
    ).cache()
    base = str(tmp_path / "baseline")
    save_baseline(images_df(spark, 500), base,
                  numeric={"w": (0.0, 16384.0, 32)}, categorical=["fmt"])
    bench = img.filter(F.col("id") % 97 == 0).select(
        F.col("caption").alias("text"))
    xs = {
        **IMAGES_SCHEMA["x-spark"],
        "stats": {"caption": {"max_null_rate": 0.0001},
                  "w": {"max": 16384, "min_distinct": 5000}},
        "drift": {"baseline": base, "numeric": {"w": [0.0, 16384.0, 32]},
                  "categorical": ["fmt"], "max_ks": 0.0, "max_l1": 0.0},
        "pixel_invariant": {"min_psnr": 40.0, "decode": "stub"},
        "near_dup_phash": {"max_hamming": 3, "max_pairs": 0},
        "repetition": {"column": "caption", "max_top": {"2": 0.05},
                       "max_dup": {"3": 0.01}},
        "pii": {"column": "caption"},
        "contamination": {"column": "caption", "ref_table": "bench",
                          "ref_column": "text", "n": 3},
        "image_quality": {"max_aspect": 2.0, "min_pixels": 4096,
                          "min_bytes": 2000, "max_bytes_per_pixel": 0.05},
    }
    tables = {"licenses": licenses_df(spark), "bench": bench}
    got = {}
    for method in ("native", "arrow"):
        spec = {**IMAGES_SCHEMA, "x-spark": {**xs, "alignment": {
            "image_col": "img_vec", "text_col": "txt_vec",
            "min_cosine": 0.999, "method": method}}}
        out = validate_dataset(img, spec, ["image_id"], tables=tables)
        got[method] = sorted(map(repr, out.collect()))
    assert got["native"] == got["arrow"]
    kinds = {r["keyword"] for r in out.collect()}
    assert {"pattern", "uniqueItems:image_id", "uniqueItems:phash",
            "referential:license_id", "pixelInvariant",
            "stats:max_null_rate", "stats:min_distinct", "drift:ks",
            "drift:l1", "nearDup:phash", "repetition:top2",
            "repetition:dup3", "contamination", "imageQuality:aspect",
            "imageQuality:pixels", "imageQuality:bytes",
            "imageQuality:bytesPerPixel", "alignment:missing",
            "alignment:cosine"} <= kinds
    by = {**IMAGES_SCHEMA, "x-spark": {"drift": {**xs["drift"], "by": "fmt"}}}
    parts = {r["message"].split(":")[0]
             for r in validate_dataset(img, by, ["image_id"]).filter(
                 F.col("keyword").startswith("drift")).collect()}
    assert "partition fmt=png" in parts
    img.unpersist()

    # the real-codec tier: one decode pass for pixel, phash and luma rows
    real = {"type": "object", "x-spark": {
        "pixel_invariant": {"decode": "real"},
        "phash_integrity": {"max_hamming": 0},
        "image_quality_decoded": LUMA_CFG}}
    assert {"pixelInvariant", "phashIntegrity"} <= _kinds(
        validate_dataset(phash_images_df(spark, 500), real, ["image_id"]))
    del real["x-spark"]["phash_integrity"]
    assert {"lumaQuality:brightness", "lumaQuality:contrast"} <= _kinds(
        validate_dataset(luma_images_df(spark, 400), real, ["image_id"]))

    # the text-curation spec of test_validate_dataset_text_curation_blocks
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam spam spam"),
         (2, "write to me at someone@example.org please today ok"),
         (3, "the quick brown fox jumps over the lazy dog stream")],
        "doc_id int, text string")
    spec = {"properties": {"text": {"type": "string", "minLength": 1}},
            "x-spark": {"repetition": {"column": "text",
                                       "max_top": {"2": 0.5}},
                        "pii": None,
                        "contamination": {"column": "text",
                                          "ref_table": "bench", "n": 3}}}
    got = {(r["doc_id"], r["keyword"]) for r in validate_dataset(
        docs, spec, ["doc_id"], tables={"bench": spark.createDataFrame(
            [("quick brown fox jumps over",)], "text string")}).collect()}
    assert got == {(1, "repetition:top2"), (2, "pii"), (3, "contamination")}

    cap = images_df(spark, 2_000, with_id=True)
    rows = caption_check(cap, reference_caption(F.col("id"))).collect()
    assert rows and {r["keyword"] for r in rows} == {"captionEquality"}


def test_caller_names_with_a_dot_or_dollar_brace(spark, no_from_column):
    """Keys, foreign keys and id columns named ``a.b`` and ``x${y}``:
    the text names them only through engine-named projections, since
    the parser would substitute ``${`` even inside a quoted name."""
    df = spark.createDataFrame(
        [(1, "k1", "i1"), (2, "k1", "i2"), (3, "k9", "i2"),
         (4, None, "i3")], "n int, `a.b` string, `x${y}` string")
    dim = spark.createDataFrame([("k1",)], "`d.k` string")
    spec = {"x-spark": {
        "unique": ["a.b", "x${y}"],
        "referential": [{"column": "a.b",
                         "ref": {"table": "dim", "key": "d.k"}}]}}
    out = validate_dataset(df, spec, ["x${y}", "a.b"], tables={"dim": dim})
    assert out.columns[:2] == ["x${y}", "a.b"]
    assert sorted(map(tuple, out.collect())) == [
        ("i1", "k1", "uniqueItems:a.b", "$['a.b']", "x-spark/unique/a.b",
         "duplicate a.b: k1", "k1"),
        ("i2", "k1", "uniqueItems:a.b", "$['a.b']", "x-spark/unique/a.b",
         "duplicate a.b: k1", "k1"),
        ("i2", "k1", "uniqueItems:x${y}", "$['x${y}']",
         "x-spark/unique/x${y}", "duplicate x${y}: i2", "i2"),
        ("i2", "k9", "referential:a.b", "$['a.b']",
         "x-spark/referential/a.b",
         "a.b value not present in referenced table: k9", "k9"),
        ("i2", "k9", "uniqueItems:x${y}", "$['x${y}']",
         "x-spark/unique/x${y}", "duplicate x${y}: i2", "i2")]

    pix = spark.createDataFrame([("p", 5, 5, b"xy")],
                                "`i.d` string, `w.x` int, `h${y}` int, "
                                "`b${z}` binary")
    rows = image_quality_violations(
        pix, {"w_col": "w.x", "h_col": "h${y}", "bytes_col": "b${z}",
              "min_pixels": 100, "min_bytes": 16}, ["i.d"]).collect()
    assert sorted((r["i.d"], r["keyword"], r["message"]) for r in rows) == [
        ("p", "imageQuality:bytes", "payload of 2 bytes below 16"),
        ("p", "imageQuality:pixels", "pixel count of 5x5 below 100")]

    caps = spark.createDataFrame([("a", "x"), ("b", "")],
                                 "id string, `c${x}` string")
    rows = caption_check(caps, F.lit("x"), caption_col="c${x}",
                         id_cols=("id",)).collect()
    assert [(r["id"], r["message"], r["failing_value"]) for r in rows] == [
        ("b", "caption is empty", "")]
