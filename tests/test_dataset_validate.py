"""validate_dataset: the x-spark extension block end-to-end — row-level
keywords + uniqueness + referential + stats + pixel invariant unified."""

import itertools
import re

from pyspark.sql import functions as F

from jsonschema_spark import CompiledValidator, validate_dataset
from jsonschema_spark.sources.images import (IMAGES_SCHEMA, images_df,
                                             licenses_df)

# BatchEvalPython/ArrowEvalPython, (FlatMap)...InPandas, ...InArrow
PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow")


def test_validate_dataset_unifies_all_check_tiers(spark):
    img = images_df(spark, 10_000, with_license=True).cache()
    spec = dict(IMAGES_SCHEMA)
    spec["x-spark"] = dict(spec["x-spark"])
    spec["x-spark"]["pixel_invariant"] = {"min_psnr": 40.0}
    spec["x-spark"]["stats"] = {"caption": {"max_null_rate": 0.0001}}
    v = validate_dataset(img, spec, ["image_id"],
                         tables={"licenses": licenses_df(spark)}).cache()
    kinds = {r["keyword"] for r in v.select("keyword").distinct().collect()}
    # every tier contributes (planted violations guarantee nonzero counts)
    assert "pattern" in kinds                      # row keyword
    assert "uniqueItems:image_id" in kinds         # uniqueness
    assert "uniqueItems:phash" in kinds
    assert "referential:license_id" in kinds       # referential
    assert "pixelInvariant" in kinds               # pixel invariant
    assert "stats:max_null_rate" in kinds          # dataset stats
    # row-level subset must equal CompiledValidator exactly
    row_schema = {k: s for k, s in spec.items() if k != "x-spark"}
    want = CompiledValidator(row_schema, img).violations(
        img, ["image_id"]).count()
    got = v.filter(~F.col("schema_path").startswith("x-spark")).count()
    assert got == want
    img.unpersist()


def test_validate_dataset_missing_table_raises(spark):
    img = images_df(spark, 100, with_license=True)
    try:
        validate_dataset(img, IMAGES_SCHEMA, ["image_id"], tables={})
        assert False, "expected ValueError"
    except ValueError as e:
        assert "licenses" in str(e)


def test_validate_dataset_phash_checks(spark):
    """The two phash x-spark checks: integrity mismatches surface as
    per-row phashIntegrity violations (planted two-bit flips), and the
    near-dup budget emits one aggregate nearDup:phash row whose count
    matches the operator."""
    from jsonschema_spark.operators.dedup import phash_near_duplicates
    from jsonschema_spark.sources.images import phash_images_df
    n = 900
    img = phash_images_df(spark, n).cache()
    spec = {
        "type": "object",
        "properties": {"phash": {"type": "integer", "minimum": 0}},
        "x-spark": {"phash_integrity": {"max_hamming": 0},
                    "near_dup_phash": {"max_hamming": 3, "max_pairs": 0}},
    }
    v = validate_dataset(img, spec, ["image_id"]).cache()
    integ = v.filter(F.col("keyword") == "phashIntegrity").collect()
    planted = {i for i in range(n) if i % 211 == 0 and i % 251 != 0}
    assert {int(r["image_id"].split("_")[1], 16) for r in integ} == planted
    assert all("2 bits" in r["message"] for r in integ)
    # distinct random images -> no near pairs -> budget 0 is satisfied
    assert v.filter(F.col("keyword") == "nearDup:phash").count() == 0
    # the north-star table PLANTS near-dup phashes -> budget 0 trips
    planted_img = images_df(spark, 5_000).cache()
    n_pairs = phash_near_duplicates(planted_img, "image_id",
                                    "phash").count()
    assert n_pairs > 0
    spec2 = {"type": "object",
             "x-spark": {"near_dup_phash": {"max_hamming": 3,
                                            "max_pairs": 0}}}
    near = (validate_dataset(planted_img, spec2, ["image_id"])
            .filter(F.col("keyword") == "nearDup:phash").collect())
    assert len(near) == 1 and near[0]["failing_value"] == str(n_pairs)
    # a permissive budget silences the aggregate row
    spec2["x-spark"]["near_dup_phash"]["max_pairs"] = n_pairs
    v2 = validate_dataset(planted_img, spec2, ["image_id"])
    assert v2.filter(F.col("keyword") == "nearDup:phash").count() == 0


def test_validate_dataset_fused_pixel_and_phash_single_decode(spark):
    """Configuring pixel_invariant AND phash_integrity together takes
    the fused one-decode path: both violation streams appear, planted
    truncations surface as pixelInvariant (real-codec decode failure),
    planted bit flips as phashIntegrity — and the plan contains exactly
    ONE Python (mapInPandas) stage reading bytes."""
    from jsonschema_spark.sources.images import phash_images_df
    n = 600
    img = phash_images_df(spark, n).cache()
    spec = {"type": "object",
            "x-spark": {"pixel_invariant": {"min_psnr": 40.0},
                        "phash_integrity": {"max_hamming": 0}}}
    # plan audit FIRST (before any caching of the result lineage):
    # exactly one Python decode stage feeds both violation streams
    plan = (validate_dataset(img, spec, ["image_id"])
            ._jdf.queryExecution().executedPlan().toString())
    # the fixture generator is itself a MapInPandas ("gen"); the check
    # kernel is "run" — exactly one decode stage must exist
    assert plan.count("MapInPandas run(") == 1
    v = validate_dataset(img, spec, ["image_id"]).cache()
    pix = {int(r["image_id"].split("_")[1], 16) for r in
           v.filter(F.col("keyword") == "pixelInvariant").collect()}
    integ = {int(r["image_id"].split("_")[1], 16) for r in
             v.filter(F.col("keyword") == "phashIntegrity").collect()}
    assert pix == {i for i in range(n) if i % 251 == 0}
    assert integ == {i for i in range(n) if i % 211 == 0 and i % 251 != 0}



def test_pixel_block_combinations_decode_once_per_tier(spark):
    """Every non-empty combination of pixel_invariant (stub/real/auto),
    phash_integrity and image_quality_decoded gives the union of each
    block's rows run alone (auto pinned to the tier it resolves to),
    and its plan decodes once per tier used: the stub tier is a native
    projection (no Python node at all when it is the only tier), and
    every real-tier block shares one MapInPandas pass."""
    from jsonschema_spark.sources.images import phash_images_df
    img = phash_images_df(spark, 300).cache()
    luma = {"min_luma": 127.5, "min_contrast": 2}

    def run(xs):
        return validate_dataset(img, {"type": "object", "x-spark": xs},
                                ["image_id"])

    def rows(xs):
        return sorted((r["image_id"], r["keyword"])
                      for r in run(xs).collect())

    alone = {"stub": rows({"pixel_invariant": {"decode": "stub"}}),
             "real": rows({"pixel_invariant": {"decode": "real"}}),
             "phash": rows({"phash_integrity": {}}),
             "luma": rows({"image_quality_decoded": luma})}
    assert all(alone.values())      # every block finds planted rows
    for pix, phash, lum in itertools.product(
            (None, "stub", "real", "auto"), (False, True), (False, True)):
        xs = {}
        if pix:
            xs["pixel_invariant"] = {"decode": pix}
        if phash:
            xs["phash_integrity"] = {}
        if lum:
            xs["image_quality_decoded"] = luma
        if not xs:
            continue
        tier = ("real" if phash else "stub") if pix == "auto" else pix
        want = sorted((alone[tier] if pix else [])
                      + (alone["phash"] if phash else [])
                      + (alone["luma"] if lum else []))
        assert rows(xs) == want, xs
        plan = run(xs)._jdf.queryExecution().executedPlan().toString()
        real = tier == "real" or phash or lum
        assert plan.count("MapInPandas run(") == int(real), (xs, plan)
    img.unpersist()
    # the fixture above is generated by a MapInPandas of its own; on a
    # natively generated table the stub tier plans no Python node at all
    plan = validate_dataset(
        images_df(spark, 300),
        {"type": "object", "x-spark": {"pixel_invariant": {"decode": "stub"}}},
        ["image_id"])._jdf.queryExecution().executedPlan().toString()
    assert not PYTHON_NODE.search(plan), plan


def test_pixel_violations_keep_caller_id_cols(spark):
    """The pixel, phash and luma rows carry the caller's id_cols on both
    decode tiers, not only image_id."""
    from jsonschema_spark.sources.images import phash_images_df

    def ids(df, xs):
        rows = validate_dataset(df, {"type": "object", "x-spark": xs},
                                ["rid"]).collect()
        assert rows and all(r["rid"] is not None for r in rows), xs
        return sorted((r["rid"], r["keyword"]) for r in rows)

    def with_rid(df):
        return df.withColumn("rid", F.concat(F.lit("r:"), "image_id"))

    stub = with_rid(images_df(spark, 2_000))
    got = ids(stub, {"pixel_invariant": {"decode": "stub"}})
    want = validate_dataset(
        stub, {"type": "object",
               "x-spark": {"pixel_invariant": {"decode": "stub"}}},
        ["image_id"]).collect()
    assert got == sorted(("r:" + r["image_id"], r["keyword"]) for r in want)
    real = with_rid(phash_images_df(spark, 300))
    got = ids(real, {"pixel_invariant": {"decode": "real"},
                     "phash_integrity": {},
                     "image_quality_decoded": {"min_luma": 127.5}})
    assert {k for _, k in got} >= {"pixelInvariant", "phashIntegrity",
                                   "lumaQuality:brightness"}


def test_validate_dataset_null_check_configs(spark):
    """Every x-spark check block may be JSON null (= all defaults) —
    the same tolerance `phash_integrity`/`near_dup_phash` already had,
    extended to `pixel_invariant` standalone AND fused (regression:
    `.get` on None)."""
    from jsonschema_spark.sources.images import phash_images_df

    def rows(df, xs):
        v = validate_dataset(df, {"type": "object", "x-spark": xs},
                             ["image_id"])
        return sorted((r["image_id"], r["keyword"]) for r in v.collect())

    stub = images_df(spark, 2_000).cache()
    assert (rows(stub, {"pixel_invariant": None})
            == rows(stub, {"pixel_invariant": {}}))
    real = phash_images_df(spark, 300).cache()
    got = rows(real, {"pixel_invariant": None, "phash_integrity": None})
    assert got == rows(real, {"pixel_invariant": {},
                              "phash_integrity": {}})
    assert any(k == "pixelInvariant" for _, k in got)  # planted damage


def test_pixel_invariant_decode_tier_pinning(spark):
    """pixel_invariant's decode tier is an explicit option: pinning
    "stub" keeps stub-header verdicts even when phash_integrity is
    also configured (no silent semantic flip from an unrelated block),
    and pinning "real" standalone matches the fused real-codec
    verdicts."""
    from jsonschema_spark.sources.images import phash_images_df

    def pix(df, xs):
        v = validate_dataset(df, {"type": "object", "x-spark": xs},
                             ["image_id"])
        return sorted(r["image_id"] for r in
                      v.filter(F.col("keyword") == "pixelInvariant")
                      .collect())

    stub = images_df(spark, 1_000).cache()
    base = pix(stub, {"pixel_invariant": {}})
    # pinned stub: adding phash_integrity no longer flips verdicts
    assert pix(stub, {"pixel_invariant": {"decode": "stub"},
                      "phash_integrity": {}}) == base
    # default "auto" resolves to real when phash_integrity is present:
    # real codecs reject every synthetic stub payload (documented)
    assert len(pix(stub, {"pixel_invariant": {},
                          "phash_integrity": {}})) == 1_000
    real = phash_images_df(spark, 400).cache()
    fused = pix(real, {"pixel_invariant": {}, "phash_integrity": {}})
    assert pix(real, {"pixel_invariant": {"decode": "real"}}) == fused


def test_check_schema_validates_x_spark_block():
    """check_schema covers the engine's own extension namespace: config
    mistakes fail driver-side with a pointed SchemaCompileError instead
    of an opaque error deep inside a Spark job.  A typo'd key inside a
    known block would be silently ignored at runtime (check disabled) —
    exactly the mistake the meta-check must catch."""
    import pytest
    from jsonschema_spark import SchemaCompileError, check_schema

    # the full documented grammar (dataset.py docstring) is accepted
    check_schema({"x-spark": {
        "unique": ["image_id", "phash"],
        "referential": [{"column": "license_id",
                         "ref": {"table": "licenses",
                                 "key": "license_id"}}],
        "stats": {"caption": {"max_null_rate": 0.01}},
        "drift": {"baseline": "/tmp/b", "numeric": {"w": [0.0, 16384.0, 32]},
                  "categorical": ["fmt"]},
        "pixel_invariant": {"min_psnr": 40.0},
        "phash_integrity": None,                  # null == all defaults
        "near_dup_phash": {"max_hamming": 3, "max_pairs": 0},
        "future_block": {"anything": True},       # unknown block tolerated
    }})
    bad_blocks = [
        ({"unique": "image_id"}, "unique"),            # not a list
        ({"referential": [{"column": "c"}]}, "referential/0"),
        ({"stats": {"w": {"max_nul_rate": 0.1}}}, "unknown rule"),
        ({"stats": {"w": {"min_distinct": 1.5}}}, "integer"),
        ({"drift": {"numeric": {}}}, "baseline"),
        ({"drift": {"baseline": "b", "numeric": {"w": [0, 1]}}},
         "three numbers"),
        ({"pixel_invariant": {"min_pnsr": 40}}, "unknown key"),
        ({"near_dup_phash": {"strategy": "bandid"}}, "unknown key"),
        ({"phash_integrity": {"max_hamming": "0"}}, "integer"),
        ([], "must be an object"),
        # review-r4 guards: fractional/zero bins, lo >= hi, by without
        # numeric columns (silent no-op), string min stays ALLOWED below
        ({"drift": {"baseline": "b", "numeric": {"w": [0, 200, 20.5]}}},
         "positive integer"),
        ({"drift": {"baseline": "b", "numeric": {"w": [0, 200, 0]}}},
         "positive integer"),
        ({"drift": {"baseline": "b", "numeric": {"w": [5, 5, 8]}}},
         "lo < hi"),
        ({"drift": {"baseline": "b", "by": "fmt"}}, "silent no-op"),
        # review-r5 guards: near_dup_phash.max_hamming beyond the
        # exact-recall regime of the bit-flip enumeration must fail at
        # compile time (not an AssertionError deep inside the job —
        # and not silently lost recall under python -O)
        ({"near_dup_phash": {"max_hamming": 4}}, "0..3"),
        ({"near_dup_phash": {"max_hamming": -1}}, "0..3"),
        ({"phash_integrity": {"max_hamming": 65}}, "0..64"),
        ({"pixel_invariant": {"decode": "reel"}}, "stub"),
    ]
    for xs, match in bad_blocks:
        with pytest.raises(SchemaCompileError, match=match):
            check_schema({"x-spark": xs})
    # string min/max bounds compare against the column's own ordering
    check_schema({"x-spark": {"stats": {"day": {"min": "2024-01-01"}}}})
    # NESTED x-spark keys are inert annotations (never executed by
    # validate_dataset) — their shape is not meta-checked
    check_schema({"properties": {"img": {"x-spark": {"unique": "oops"}}}})


def test_validate_dataset_text_curation_blocks(spark):
    """The round-5 text-curation tiers as x-spark blocks: repetition
    thresholds, PII budget, and benchmark contamination each emit
    per-row violations alongside the row keywords."""
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam spam spam"),   # repetition
         (2, "write to me at someone@example.org please today ok"),  # pii
         (3, "the quick brown fox jumps over the lazy dog stream"),
         (4, " ".join(f"w{i} v{i}" for i in range(40)))],  # clean, long
        "doc_id int, text string")
    bench = spark.createDataFrame(
        [(0, "quick brown fox jumps over")], "bid int, text string")
    spec = {
        "properties": {"text": {"type": "string", "minLength": 1}},
        "x-spark": {
            "repetition": {"column": "text", "max_top": {"2": 0.5}},
            "pii": None,                          # null == all defaults
            "contamination": {"column": "text", "ref_table": "bench",
                              "n": 3, "max_frac": 0.0},
        },
    }
    v = validate_dataset(docs, spec, ["doc_id"],
                         tables={"bench": bench}).cache()
    by_kw = {(r["doc_id"], r["keyword"]) for r in v.collect()}
    assert (1, "repetition:top2") in by_kw
    assert (2, "pii") in by_kw
    assert (3, "contamination") in by_kw
    # the clean doc trips nothing
    assert not any(d == 4 for d, _ in by_kw)
    # each planted doc trips ONLY its own tier
    assert not any(k == "pii" and d != 2 for d, k in by_kw)
    assert not any(k == "contamination" and d != 3 for d, k in by_kw)
    v.unpersist()


def test_validate_dataset_contamination_requires_table_and_ids(spark):
    import pytest
    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    spec = {"x-spark": {"contamination": {"ref_table": "bench"}}}
    with pytest.raises(ValueError, match="bench"):
        validate_dataset(docs, spec, ["doc_id"], tables={})
    with pytest.raises(ValueError, match="id_cols"):
        validate_dataset(docs, spec, [], tables={"bench": docs})


def test_check_schema_validates_text_curation_blocks():
    import pytest
    from jsonschema_spark import SchemaCompileError, check_schema

    check_schema({"x-spark": {
        "repetition": {"column": "text", "max_top": {"2": 0.2},
                       "max_dup": {"5": 0.15}},
        "pii": {"column": "text", "max_hits": 2},
        "contamination": {"column": "text", "ref_table": "bench",
                          "ref_column": "caption", "n": 13,
                          "max_frac": 0.05, "on_hash": False},
    }})
    check_schema({"x-spark": {"repetition": None, "pii": None}})
    bad = [
        ({"repetition": {"max_top": {"one": 0.2}}}, "integer string"),
        ({"repetition": {"max_top": {"1": 0.2}}}, ">= 2"),
        ({"repetition": {"max_top": {"2": 1.5}}}, r"\[0, 1\]"),
        ({"repetition": {"maxtop": {}}}, "unknown key"),
        ({"pii": {"max_hits": -1}}, "non-negative"),
        ({"pii": {"collumn": "text"}}, "unknown key"),
        ({"contamination": {"column": "text"}}, "ref_table"),
        ({"contamination": {"ref_table": "b", "n": 0}}, "positive"),
        ({"contamination": {"ref_table": "b", "max_frac": 2}},
         r"\[0, 1\]"),
        ({"contamination": {"ref_table": "b", "on_hash": "yes"}},
         "boolean"),
    ]
    for xs, match in bad:
        with pytest.raises(SchemaCompileError, match=match):
            check_schema({"x-spark": xs})


def test_validate_dataset_is_lazy_without_join_back(spark):
    """Building the plan for unique + referential + stats + stub
    pixel_invariant starts no Spark job (stats is an aggregate inside the
    plan, not a driver collect), and uniqueness counts over a window
    instead of joining its duplicate keys back (no LeftSemi)."""
    img = images_df(spark, 2_000, with_license=True)
    spec = dict(IMAGES_SCHEMA)
    spec["x-spark"] = dict(spec["x-spark"])
    spec["x-spark"]["pixel_invariant"] = {"min_psnr": 40.0,
                                          "decode": "stub"}
    spec["x-spark"]["stats"] = {"caption": {"max_null_rate": 0.001},
                                "w": {"max": 16384, "min_distinct": 2}}
    lic = licenses_df(spark)
    sc = spark.sparkContext
    group = "validate-dataset-laziness"
    sc.setJobGroup(group, "jobs started while validate_dataset builds")
    try:
        out = validate_dataset(img, spec, ["image_id"],
                               tables={"licenses": lic})
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        counts = out.groupBy("keyword").count()
        kinds = {r["keyword"] for r in counts.collect()}
        # the probe sees jobs once an action runs
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc._jsc.clearJobGroup()
    assert {"uniqueItems:image_id", "uniqueItems:phash",
            "referential:license_id", "pixelInvariant",
            "stats:max_null_rate", "stats:max"} <= kinds
    plan = counts._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan
