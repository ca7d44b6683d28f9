"""Drift vs a persisted baseline snapshot (north-star: per-partition
histograms/KS compared against a saved clean-snapshot stats table)."""

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import validate_dataset
from jsonschema_spark.operators.drift import (check_against_baseline,
                                              histogram, load_baseline,
                                              partitioned_drift,
                                              save_baseline,
                                              score_histograms)
from jsonschema_spark.sources.images import images_df


def drift_reference(current, baseline, numeric=True):
    """KS, L1 and chi-square of two (bucket, n) histograms, computed on
    the driver: the reference the engine's one scorer must equal.
    Buckets compare as numbers (``numeric``) or strings, NULL equal to
    NULL, in ascending order with NULL first; a side without rows
    divides by 1."""
    norm = int if numeric else str

    def hist(frame):
        out = {}
        for r in frame.collect():
            b = None if r["bucket"] is None else norm(r["bucket"])
            out[b] = out.get(b, 0) + r["n"]
        return out

    cur, base = hist(current), hist(baseline)
    keys = sorted(set(cur) | set(base), key=lambda b: (b is not None, b))
    tot_c = sum(cur.values()) or 1
    tot_b = sum(base.values()) or 1
    ks = l1 = chi2 = 0.0
    cum_c = cum_b = 0
    for b in keys:
        n_c, n_b = cur.get(b, 0), base.get(b, 0)
        cum_c += n_c
        cum_b += n_b
        ks = max(ks, abs(cum_c / tot_c - cum_b / tot_b))
        l1 += abs(n_c / tot_c - n_b / tot_b)
        expected = n_b / tot_b * tot_c
        if expected > 0:
            chi2 += (n_c - expected) ** 2 / expected
    return {"ks": ks, "l1": l1 / 2.0, "chi2": chi2,
            "n_current": sum(cur.values())}


def _rows(frame):
    return sorted(tuple(r) for r in frame.collect())


def test_baseline_roundtrip_no_drift(spark, tmp_path):
    img = images_df(spark, 10_000)
    path = str(tmp_path / "baseline")
    save_baseline(img, path,
                  numeric={"w": (0.0, 4096.0, 16)},
                  categorical=["fmt"])
    # identical data -> zero drift violations
    v = check_against_baseline(img, path,
                               numeric={"w": (0.0, 4096.0, 16)},
                               categorical=["fmt"], max_ks=0.01)
    assert v.count() == 0
    # baseline loads back exactly
    base = load_baseline(spark, path, "w")
    cur = histogram(img, "w", 0.0, 4096.0, 16).withColumn(
        "bucket", F.col("bucket").cast("string"))
    s = drift_reference(cur, base)
    assert s["ks"] == 0.0 and s["l1"] == 0.0


def test_shifted_distribution_flags_drift(spark, tmp_path):
    img = images_df(spark, 10_000)
    path = str(tmp_path / "baseline2")
    save_baseline(img, path, numeric={"w": (0.0, 4096.0, 16)})
    shifted = img.withColumn("w", F.col("w") * 2 + 500)
    v = check_against_baseline(shifted, path,
                               numeric={"w": (0.0, 4096.0, 16)},
                               max_ks=0.05)
    rows = {r["keyword"] for r in v.collect()}
    assert "drift:ks" in rows


def test_partitioned_drift_matches_per_partition_reference(spark):
    """The distributed per-partition scorer agrees with the driver-side
    reference run partition-by-partition, and a planted shifted
    partition stands out on every statistic."""
    img = images_df(spark, 12_000, with_id=True)
    # plant one drifted partition: ids ending 0-2 keep w, 3 gets w*3
    part = (F.col("id") % 4).cast("string")
    df = img.select(
        part.alias("grp"),
        F.when(F.col("id") % 4 == 3, F.col("w") * 3)
        .otherwise(F.col("w")).alias("w"))
    base = histogram(df.filter(F.col("grp") != "3"), "w", 0.0, 4096.0, 16)
    out = {r.part: r for r in
           partitioned_drift(df, "grp", "w", 0.0, 4096.0, 16,
                             base).collect()}
    assert set(out) == {"0", "1", "2", "3"}
    # distributed numbers == driver-side reference, partition by partition
    for g in out:
        cur = histogram(df.filter(F.col("grp") == g), "w", 0.0, 4096.0, 16)
        ref = drift_reference(cur, base)
        assert abs(out[g].ks - ref["ks"]) < 1e-9
        assert abs(out[g].l1 - ref["l1"]) < 1e-9
        assert abs(out[g].chi2 - ref["chi2"]) < 1e-6
        assert out[g].n_rows == ref["n_current"]
    # the planted partition dominates every statistic
    for stat in ("ks", "l1", "chi2", "psi"):
        vals = {g: getattr(out[g], stat) for g in out}
        assert max(vals, key=vals.get) == "3", (stat, vals)
    assert out["3"].ks > 0.15 and out["0"].ks < 0.05


def test_validate_dataset_per_partition_drift(spark, tmp_path):
    """x-spark.drift with "by": per-partition scoring inside the unified
    checker — only the shifted partition trips, its violation row names
    the partition, and the clean partitions stay silent."""
    clean = spark.range(8_000).selectExpr(
        "id", "double(id % 100) as w",
        "case when id % 2 = 0 then 'png' else 'jpeg' end as fmt")
    path = str(tmp_path / "bl")
    save_baseline(clean, path, numeric={"w": (0.0, 200.0, 20)})
    # shift ONLY the jpeg partition's distribution
    shifted = spark.range(8_000).selectExpr(
        "id",
        "case when id % 2 = 0 then double(id % 100) "
        "else double(id % 100) + 80.0 end as w",
        "case when id % 2 = 0 then 'png' else 'jpeg' end as fmt")
    spec = {"type": "object",
            "x-spark": {"drift": {"baseline": path, "by": "fmt",
                                  "numeric": {"w": [0.0, 200.0, 20]},
                                  "max_ks": 0.05}}}
    v = validate_dataset(shifted, spec).collect()
    assert len(v) == 1
    assert v[0]["keyword"] == "drift:ks"
    assert "partition fmt=jpeg" in v[0]["message"]
    assert float(v[0]["failing_value"]) > 0.05
    # identical data: every partition clean
    assert validate_dataset(clean, spec).count() == 0


def test_validate_dataset_per_partition_categorical_drift(spark, tmp_path):
    """x-spark.drift with "by" and only a categorical column: every
    partition's KS and L1 rows equal the null-safe reference on that
    partition's histogram, NULL a category of its own."""
    cat = ("case when id % 3 = 0 then null when id % 3 = 1 then 'a' "
           "else 'b' end as c")
    path = str(tmp_path / "bl")
    save_baseline(spark.range(300).selectExpr("id", cat), path,
                  categorical=["c"])
    # partition p keeps the baseline mix; q moves half its rows to 'a'
    df = spark.range(600).selectExpr(
        "id", "case when id < 300 then 'p' else 'q' end as g", cat
    ).selectExpr("g", "case when g = 'q' and id % 2 = 0 then 'a' "
                      "else c end as c")
    spec = {"x-spark": {"drift": {"baseline": path, "by": "g",
                                  "categorical": ["c"],
                                  "max_ks": 0.0, "max_l1": 0.0}}}
    got = {(r["message"].split(":")[0], r["keyword"]): r["failing_value"]
           for r in validate_dataset(df, spec).collect()}
    base = load_baseline(spark, path, "c")
    want = {}
    for g in ("p", "q"):
        cur = (df.filter(F.col("g") == g).groupBy(F.col("c").alias("bucket"))
               .agg(F.count(F.lit(1)).alias("n")))
        ref = drift_reference(cur, base, numeric=False)
        for stat in ("ks", "l1"):
            if ref[stat] > 0:
                want[(f"partition g={g}", f"drift:{stat}")] = \
                    f"{ref[stat]:.6f}"
    assert ("partition g=q", "drift:ks") in want
    assert got == want


def test_drift_null_threshold_and_missing_baseline_column(spark, tmp_path):
    """Review-r4 guards: a present-but-JSON-null max_ks falls back to
    the 0.1 default in BOTH modes (instead of TypeError / silently
    disabling the predicate), and a baseline snapshot missing the
    profiled column raises a pointed error in by-mode instead of a
    silent pass."""
    df = spark.range(2_000).selectExpr(
        "id", "double(id % 100) as w",
        "case when id % 2 = 0 then 'png' else 'jpeg' end as fmt")
    path = str(tmp_path / "bl")
    save_baseline(df, path, numeric={"w": (0.0, 200.0, 20)})
    for extra in ({}, {"by": "fmt"}):
        spec = {"x-spark": {"drift": {"baseline": path,
                                      "numeric": {"w": [0.0, 200.0, 20]},
                                      "max_ks": None, "max_l1": None,
                                      **extra}}}
        assert validate_dataset(df, spec).count() == 0  # default 0.1, clean
    bad = {"x-spark": {"drift": {"baseline": path, "by": "fmt",
                                 "numeric": {"h": [0.0, 200.0, 20]}}}}
    with pytest.raises(ValueError, match="no histogram for column 'h'"):
        validate_dataset(df, bad).count()


def _repro_frames(spark, tmp_path):
    """The two shapes the table scope once scored apart from ``by``:
    numeric buckets 2 and 11 against 3 (string order puts "11" first),
    and a categorical column that is one-third NULL."""
    base = spark.range(100).selectExpr("id", "3.5 as w")
    cur = spark.range(100).selectExpr(
        "id", "case when id % 2 = 0 then 2.5 else 11.5 end as w")
    save_baseline(base, str(tmp_path / "num"), numeric={"w": (0.0, 12.0, 12)})
    cat = spark.range(300).selectExpr(
        "id", "case when id % 3 = 0 then null when id % 3 = 1 then 'a' "
              "else 'b' end as c")
    save_baseline(cat, str(tmp_path / "cat"), categorical=["c"])
    return [(cur, str(tmp_path / "num"), {"numeric": {"w": (0.0, 12.0, 12)}}),
            (cat, str(tmp_path / "cat"), {"categorical": ["c"]})]


def test_table_drift_orders_numeric_buckets_as_numbers(spark, tmp_path):
    """Baseline all in bucket 3, current split between buckets 2 and
    11: KS is 0.5 (not the 1.0 of ordering "11" < "2" < "3"), so
    max_ks 0.7 passes and max_ks 0.4 reports 0.5."""
    (cur, path, cfg), _ = _repro_frames(spark, tmp_path)
    spec = {"x-spark": {"drift": {"baseline": path,
                                  "numeric": {"w": [0.0, 12.0, 12]},
                                  "max_ks": 0.7}}}
    assert validate_dataset(cur, spec).count() == 0
    spec["x-spark"]["drift"]["max_ks"] = 0.4
    assert _rows(validate_dataset(cur, spec)) == [
        ("drift:ks", "$.w", "x-spark/drift/w/ks",
         "KS statistic 0.5000 exceeds 0.4", "0.500000")]


def test_table_drift_null_category_matches_itself(spark, tmp_path):
    """A NULL category joins its baseline NULL bucket: a column that is
    one-third NULL shows no drift against its own snapshot, and the
    scorer equals the null-safe reference."""
    _, (cat, path, cfg) = _repro_frames(spark, tmp_path)
    spec = {"x-spark": {"drift": {"baseline": path, "categorical": ["c"],
                                  "max_ks": 0.0, "max_l1": 0.0}}}
    assert validate_dataset(cat, spec).count() == 0
    shifted = cat.selectExpr("id", "case when id % 3 = 0 then 'a' "
                                   "else c end as c")
    cur = (shifted.groupBy(F.col("c").alias("bucket"))
           .agg(F.count(F.lit(1)).alias("n")))
    base = load_baseline(spark, path, "c")
    got = score_histograms(cur.select(F.lit(0).alias("part"), "*"),
                           None, base).first()
    ref = drift_reference(cur, base, numeric=False)
    assert ref["ks"] > 0.3
    for stat in ("ks", "l1", "chi2"):
        assert abs(got[stat] - ref[stat]) < 1e-9, stat


def test_table_scope_equals_by_over_a_constant(spark, tmp_path):
    """The table scope is one constant partition of the same scorer: on
    both repro shapes and on the per-partition test's frames, its rows
    equal ``by`` over a constant column, message prefix aside."""
    cases = _repro_frames(spark, tmp_path)
    clean = spark.range(8_000).selectExpr(
        "id", "double(id % 100) as w")
    save_baseline(clean, str(tmp_path / "bl"),
                  numeric={"w": (0.0, 200.0, 20)})
    shifted = spark.range(8_000).selectExpr(
        "id", "case when id % 2 = 0 then double(id % 100) "
              "else double(id % 100) + 80.0 end as w")
    cases += [(f, str(tmp_path / "bl"), {"numeric": {"w": (0.0, 200.0, 20)}})
              for f in (clean, shifted)]
    for df, path, cfg in cases:
        for max_ks in (0.0, 0.05):
            table = check_against_baseline(df, path, max_ks=max_ks,
                                           max_l1=0.0, **cfg)
            by = check_against_baseline(df.withColumn("k", F.lit("all")),
                                        path, max_ks=max_ks, max_l1=0.0,
                                        by="k", **cfg)
            by = by.withColumn("message", F.expr(
                "substring(message, length('partition k=all: ') + 1)"))
            assert _rows(table) == _rows(by), (path, max_ks)


def test_table_drift_missing_column_and_all_null_current(spark, tmp_path):
    """A snapshot without the profiled column raises in the table scope
    too, and an all-NULL current column scores KS 1.0 (no current mass
    against a baseline that has some)."""
    df = spark.range(2_000).selectExpr("id", "double(id % 100) as w",
                                       "cast(null as double) as h")
    path = str(tmp_path / "bl")
    save_baseline(df, path, numeric={"w": (0.0, 200.0, 20)})
    bad = {"x-spark": {"drift": {"baseline": path,
                                 "numeric": {"h": [0.0, 200.0, 20]}}}}
    with pytest.raises(ValueError, match="no histogram for column 'h'"):
        validate_dataset(df, bad)
    nulls = df.selectExpr("id", "cast(null as double) as w")
    spec = {"x-spark": {"drift": {"baseline": path,
                                  "numeric": {"w": [0.0, 200.0, 20]}}}}
    assert _rows(validate_dataset(nulls, spec)) == [
        ("drift:ks", "$.w", "x-spark/drift/w/ks",
         "KS statistic 1.0000 exceeds 0.1", "1.000000")]


def test_table_drift_plan_starts_as_many_jobs_as_by(spark, tmp_path):
    """Building the plan runs only the baseline probe, the same in both
    scopes: no driver-side scoring jobs in the table scope."""
    df = spark.range(2_000).selectExpr("id", "double(id % 100) as w",
                                       "'x' as k")
    path = str(tmp_path / "bl")
    save_baseline(df, path, numeric={"w": (0.0, 200.0, 20)})
    sc = spark.sparkContext
    jobs = {}
    for scope, extra in (("table", {}), ("by", {"by": "k"})):
        group = f"drift-plan-{scope}"
        sc.setJobGroup(group, "jobs started while validate_dataset builds")
        try:
            validate_dataset(df, {"x-spark": {"drift": {
                "baseline": path, "numeric": {"w": [0.0, 200.0, 20]},
                **extra}}})
            jobs[scope] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc._jsc.clearJobGroup()
    assert jobs["table"] == jobs["by"], jobs
