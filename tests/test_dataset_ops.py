"""Dataset-level operators: stats, uniqueness, referential, drift,
best_match/ErrorTree, runner resume."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.bestmatch import best_match, error_tree
from jsonschema_spark.operators.drift import histogram, score_histograms
from jsonschema_spark.operators.referential import (orphans,
                                                    referential_violations)
from jsonschema_spark.operators.stats import column_stats, stats_violations
from jsonschema_spark.operators.uniqueness import (duplicate_keys,
                                                   uniqueness_violations)
from jsonschema_spark.sources.images import images_df, licenses_df


def test_column_stats_single_pass(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "aa"), (2, 20.0, None), (3, None, "cccc")],
        "id int, x double, s string")
    out = {r["column"]: r for r in column_stats(df).collect()}
    assert out["x"]["rows"] == 3
    assert out["x"]["nulls"] == 1
    assert out["x"]["min"] == 10.0 and out["x"]["max"] == 20.0
    assert out["s"]["nulls"] == 1
    assert out["s"]["min"] == 2.0 and out["s"]["max"] == 4.0  # lengths
    assert abs(out["id"]["null_rate"]) < 1e-9


def test_stats_violations(spark):
    df = spark.createDataFrame([(i, None if i % 2 else float(i))
                                for i in range(100)], "id int, x double")
    v = stats_violations(df, {"x": {"max_null_rate": 0.1, "max": 50.0}})
    kws = {r["keyword"] for r in v.collect()}
    assert kws == {"stats:max_null_rate", "stats:max"}


VIOLATION_FIELDS = ("keyword", "json_path", "schema_path", "message",
                    "failing_value")


def _python_stats_rows(df, rules):
    """The stats assertions rendered on the driver from column_stats,
    the way stats_violations rendered them before it became one lazy
    aggregate: the reference its rows are compared against."""
    by_col = {r["column"]: r for r in column_stats(df, list(rules)).collect()}
    rows = []
    for col, rule in rules.items():
        s = by_col[col]

        def viol(kw, msg, val):
            rows.append((kw, f"$.{col}", f"x-spark/stats/{col}/{kw}", msg,
                         str(val)))
        if "max_null_rate" in rule and s["null_rate"] > rule["max_null_rate"]:
            viol("stats:max_null_rate",
                 f"null rate {s['null_rate']:.4f} exceeds "
                 f"{rule['max_null_rate']}", s["null_rate"])
        if "min" in rule and s["min"] is not None and s["min"] < rule["min"]:
            viol("stats:min", f"min {s['min']} below {rule['min']}", s["min"])
        if "max" in rule and s["max"] is not None and s["max"] > rule["max"]:
            viol("stats:max", f"max {s['max']} above {rule['max']}", s["max"])
        if ("min_distinct" in rule
                and s["approx_distinct"] < rule["min_distinct"]):
            viol("stats:min_distinct",
                 f"approx distinct {s['approx_distinct']} below "
                 f"{rule['min_distinct']}", s["approx_distinct"])
    return rows


def test_stats_violations_match_driver_rendering(spark):
    """Every field of every row equals the driver-rendered text, on the
    frame of test_stats_violations (a 0.5 null rate, a double max) and
    on an int column whose max is 20000 (the planted images width).
    Doubles outside [1e-3, 1e7) are left out: there Spark renders
    `1.0E-5` where Python renders `1e-05`."""
    half_null = spark.createDataFrame(
        [(i, None if i % 2 else float(i)) for i in range(100)],
        "id int, x double")
    wide = spark.createDataFrame(
        [(1, 20000, "aa"), (2, 3, None), (3, 640, "bcd")],
        "id int, w int, s string")
    cases = [
        (half_null, {"x": {"max_null_rate": 0.1, "max": 50.0}}),
        (half_null, {"x": {"max_null_rate": 0.1, "min": 5, "max": 50.0,
                           "min_distinct": 60},
                     "id": {"min": 3, "max": 98}}),
        (wide, {"w": {"max": 16384}, "s": {"max_null_rate": 0.0,
                                           "min": 3, "max": 2}}),
    ]
    for df, rules in cases:
        got = [tuple(r[f] for f in VIOLATION_FIELDS)
               for r in stats_violations(df, rules).collect()]
        assert got == _python_stats_rows(df, rules), rules


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_stats_violations_empty_table(spark, ansi):
    """No rows, no null rate: max_null_rate cannot fail and must not
    divide by zero (ANSI raises on it); min/max have no value to test;
    approx distinct is 0, below any positive minimum."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        df = spark.createDataFrame([], "x double, s string")
        rules = {"x": {"max_null_rate": 0.0, "min": 1.0, "max": 2.0,
                       "min_distinct": 1},
                 "s": {"max_null_rate": 0.1, "min": 1, "max": 0}}
        got = [(r["keyword"], r["json_path"])
               for r in stats_violations(df, rules).collect()]
        assert got == [("stats:min_distinct", "$.x")]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def _semi_join_rows(df, key, id_cols):
    """Per-key violation rows the way uniqueness_violations built them
    with a left-semi join of df to its duplicate keys: the reference
    its window-count rows are compared against."""
    dups = duplicate_keys(df, [key])
    return df.join(dups, key, "left_semi").select(
        *id_cols,
        F.lit(f"uniqueItems:{key}").alias("keyword"),
        F.lit(f"$.{key}").alias("json_path"),
        F.lit(f"x-spark/unique/{key}").alias("schema_path"),
        F.concat(F.lit(f"duplicate {key}: "),
                 F.col(key).cast("string")).alias("message"),
        F.col(key).cast("string").alias("failing_value"))


def test_uniqueness_violations_match_semi_join(spark):
    """Several keys in one call give the union of the per-key semi-join
    rows: NULL keys never duplicate, a duplicated id row counts twice,
    and 0.0/-0.0 and NaN/NaN are one group each, as groupBy groups
    them.  duplicate_keys' groups agree with the rows."""
    nan = float("nan")
    df = spark.createDataFrame(
        [(1, "a", 1, 0.0), (2, None, 1, -0.0), (3, "a", 1, nan),
         (4, None, 2, nan), (5, None, None, None), (6, "b", None, None),
         (7, "b", 3, 1.5), (8, "c", 4, 2.5), (8, "c", 4, 2.5),
         (9, "d", 5, 3.5)],
        "id int, s string, n bigint, d double")
    keys = ["s", "n", "d"]
    got = sorted(map(tuple, uniqueness_violations(df, keys, ["id"])
                     .collect()))
    want = []
    for k in keys:
        want += map(tuple, _semi_join_rows(df, k, ["id"]).collect())
    assert got == sorted(want)
    assert len(got) == 6 + 5 + 6

    def group(k, v):
        if k != "d":
            return str(v)
        v = float(v)
        return "NaN" if v != v else v + 0.0      # -0.0 joins 0.0
    for k in keys:
        rows = Counter(group(k, r[-1]) for r in got
                       if r[1] == f"uniqueItems:{k}")
        groups = {group(k, r[k]): r["dup_count"]
                  for r in duplicate_keys(df, [k]).collect()}
        assert rows == groups, k


def test_duplicate_keys_both_strategies(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "c"), (5, "a"), (6, "b")],
        "id int, k string")
    for strat in ("groupby", "sort"):
        out = {r["k"]: r["dup_count"]
               for r in duplicate_keys(df, ["k"], strategy=strat).collect()}
        assert out == {"a": 3, "b": 2}, strat


def test_uniqueness_null_keys_are_absent(spark):
    """SQL UNIQUE: a key with a NULL component never forms a duplicate
    group.  Both duplicate_keys strategies and uniqueness_violations'
    window count give the same answer on a NULL-bearing frame."""
    df = spark.createDataFrame(
        [(1, "a", 1), (2, None, 1), (3, "a", 1), (4, None, 1),
         (5, None, None), (6, "b", None), (7, "b", None), (8, "c", 2)],
        "id int, k string, j int")
    for strat in ("groupby", "sort"):
        single = {r["k"]: r["dup_count"] for r in
                  duplicate_keys(df, ["k"], strategy=strat).collect()}
        assert single == {"a": 2, "b": 2}, strat
        pair = {(r["k"], r["j"]): r["dup_count"] for r in
                duplicate_keys(df, ["k", "j"], strategy=strat).collect()}
        assert pair == {("a", 1): 2}, strat
    viol = sorted(r["id"] for r in uniqueness_violations(
        df, "k", ["id"]).collect())
    assert viol == [1, 3, 6, 7]
    # validate_dataset's unique, referential and row blocks follow the
    # same rule: NULL-key rows are never duplicates, yet still fail the
    # row keyword (j = 1 fails the minimum) and the referential check
    # (j = 1 is not in the dim)
    from jsonschema_spark import validate_dataset
    spec = {"properties": {"j": {"minimum": 2}},
            "x-spark": {"unique": ["k", "j"],
                        "referential": [{"column": "j",
                                         "ref": {"table": "dim",
                                                 "key": "j"}}]}}
    rows = validate_dataset(
        df, spec, ["id"],
        tables={"dim": spark.createDataFrame([(2,)], "j int")}).collect()
    by_kw = {}
    for r in rows:
        by_kw.setdefault(r["keyword"], []).append(r["id"])
    assert sorted(by_kw.pop("uniqueItems:k")) == [1, 3, 6, 7]
    assert sorted(by_kw.pop("uniqueItems:j")) == [1, 2, 3, 4]
    assert sorted(by_kw.pop("minimum")) == [1, 2, 3, 4]
    assert sorted(by_kw.pop("referential:j")) == [1, 2, 3, 4]
    assert by_kw == {}


def test_uniqueness_violations_on_images(spark):
    df = images_df(spark, 2000)
    viols = uniqueness_violations(df, "image_id", ["image_id"])
    n = viols.count()
    # 0.5% duplicated ids -> 10 dup pairs -> 20 participating rows
    assert n == 20
    assert viols.first()["keyword"] == "uniqueItems:image_id"


def test_referential(spark):
    img = images_df(spark, 2000, with_license=True)
    dim = licenses_df(spark)
    bad = orphans(img, "license_id", dim, "license_id")
    assert bad.count() == 2000 // 500  # 0.2% planted orphans
    v = referential_violations(img, "license_id", dim, "license_id",
                               ["image_id"])
    assert v.first()["keyword"] == "referential:license_id"


def test_orphans_ignore_duplicate_and_null_dim_keys(spark):
    """A left-anti join only tests whether a key exists, so a dim with
    duplicate keys and a NULL key finds the same orphans as the same
    dim after `distinct()` — and the dim side is broadcast as is, with
    no aggregate in the plan."""
    img = images_df(spark, 2000, with_license=True)
    lic = licenses_df(spark)
    dim = lic.unionByName(lic).unionByName(
        lic.limit(1).withColumn("license_id", F.lit(None).cast(
            lic.schema["license_id"].dataType)))
    bad = orphans(img, "license_id", dim, "license_id")
    got = sorted(r["image_id"] for r in bad.select("image_id").collect())
    want = sorted(r["image_id"] for r in orphans(
        img, "license_id", dim.distinct(), "license_id")
        .select("image_id").collect())
    assert got == want and len(got) == 2000 // 500
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" not in plan


def test_drift(spark):
    from test_drift_baseline import drift_reference
    base = spark.range(10_000).select(
        (F.col("id") % 100).cast("double").alias("x"))
    same = histogram(base, "x", 0, 100, 20)
    shifted = spark.range(10_000).select(
        ((F.col("id") % 100) * 0.5 + 50).alias("x"))

    def score(frame):
        cur = histogram(frame, "x", 0, 100, 20).select(
            F.lit(0).alias("part"), "*")
        return score_histograms(cur, 20, same).first()

    s_same = drift_reference(histogram(base, "x", 0, 100, 20), same)
    assert s_same["ks"] < 1e-9 and s_same["l1"] < 1e-9
    s_shift = drift_reference(histogram(shifted, "x", 0, 100, 20), same)
    assert s_shift["ks"] > 0.3
    for frame, ref in ((base, s_same), (shifted, s_shift)):
        got = score(frame)
        assert abs(got["ks"] - ref["ks"]) < 1e-9
        assert abs(got["l1"] - ref["l1"]) < 1e-9
        assert got["n_rows"] == ref["n_current"]


def test_best_match_and_error_tree(spark):
    from jsonschema_spark import CompiledValidator
    df = spark.createDataFrame(
        [("r1", 0, "zz"), ("r2", 5, "ok")],
        "id string, x int, s string")
    schema = {"properties": {
        "x": {"minimum": 1},
        "s": {"anyOf": [{"const": "ok"}, {"minLength": 5}]}}}
    v = CompiledValidator(schema, df)
    viols = v.violations(df, ["id"])
    bm = {r["id"]: r["keyword"] for r in best_match(viols, ["id"]).collect()}
    # r1 has minimum (strong) + anyOf (weak): strong wins
    assert bm["r1"] == "minimum"
    tree = {r["json_path"]: r["total_errors"]
            for r in error_tree(viols).collect()}
    assert tree == {"$.x": 1, "$.s": 1}


def test_runner_resume(spark, tmp_path):
    from jsonschema_spark.runner import ValidationRun
    from jsonschema_spark.sources.images import IMAGES_SCHEMA
    df = images_df(spark, 1000)
    schema = {k: v for k, v in IMAGES_SCHEMA.items() if k != "x-spark"}
    run = ValidationRun(spark, str(tmp_path / "out"), schema, "fmt")
    r1 = run.run(df, ["image_id"])
    # planted "" fmt is sanitized to a filesystem-safe sentinel
    expected = {r["fmt"] or "__empty__"
                for r in df.select("fmt").distinct().collect()}
    assert set(r1.completed) == expected
    assert r1.skipped == []
    # resume: everything committed -> all skipped, nothing recomputed
    r2 = run.run(df, ["image_id"])
    assert r2.completed == [] and sorted(r2.skipped) == sorted(r1.completed)
    m = run.manifest()
    total = m.agg(F.sum("rows")).first()[0]
    assert total == 1000
    # violations written under part= dirs and readable as one table
    viol = spark.read.parquet(str(tmp_path / "out" / "violations"))
    assert viol.count() > 0


def test_runner_manifest_commit_is_a_local_scan(spark, tmp_path,
                                                monkeypatch):
    """The manifest rows commit from an Arrow-backed local frame: its
    write plans a LocalTableScan, not a Python RDD (`Scan ExistingRDD`),
    so committing starts no Python worker."""
    from pyspark.sql.readwriter import DataFrameWriter

    from jsonschema_spark.runner import ValidationRun

    plans = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        if path.endswith("manifest"):
            plans.append(
                self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    df = spark.range(100).select(
        F.col("id").alias("rid"),
        (F.col("id") % 3).cast("string").alias("grp"))
    run = ValidationRun(spark, str(tmp_path / "out"),
                        {"properties": {"rid": {"maximum": 90}}}, "grp")
    assert sorted(run.run(df, ["rid"]).completed) == ["0", "1", "2"]
    assert len(plans) == 1
    assert "LocalTableScan" in plans[0] and "ExistingRDD" not in plans[0]
    m = {r["partition_key"]: r for r in run.manifest().collect()}
    assert sum(r["rows"] for r in m.values()) == 100
    assert sum(r["invalid_rows"] for r in m.values()) == 9


def test_runner_single_pass_many_groups(spark, tmp_path):
    """The single-pass rewrite: >=8 partition groups complete in ONE
    partitionBy write + ONE aggregate pass (no per-group rescan loop);
    partial resume re-runs only uncommitted groups and the manifest
    stays per-partition."""
    from pyspark.sql import functions as F
    from jsonschema_spark.runner import ValidationRun

    df = (spark.range(4000)
          .select(F.col("id").alias("rid"),
                  (F.col("id") % 10).cast("string").alias("grp"),
                  (F.col("id") % 7).alias("x")))
    schema = {"properties": {"x": {"maximum": 5}}}
    out = str(tmp_path / "out8")
    run = ValidationRun(spark, out, schema, "grp")
    before = spark.sparkContext.statusTracker()
    r1 = run.run(df, ["rid"])
    assert len(r1.completed) == 10 and r1.skipped == []
    m = {r["partition_key"]: r for r in run.manifest().collect()}
    assert len(m) == 10
    assert sum(r["rows"] for r in m.values()) == 4000
    # x in {6} fails per group of 10: ids with id%7==6 -> 4000/7 ~ 571
    assert sum(r["invalid_rows"] for r in m.values()) == \
        df.filter("x > 5").count()
    # simulate a half-committed run: drop 3 manifest groups' rows by
    # rewriting the manifest without them, then resume
    keep = run.manifest().filter(~F.col("partition_key").isin("1", "2", "3"))
    keep.write.mode("overwrite").parquet(str(tmp_path / "m2"))
    spark.read.parquet(str(tmp_path / "m2")).write.mode("overwrite") \
        .parquet(run.manifest_path)
    r2 = run.run(df, ["rid"])
    assert sorted(r2.completed) == ["1", "2", "3"]
    assert len(r2.skipped) == 7
    # violations dir readable as one table, partitioned by part
    viol = spark.read.parquet(out + "/violations")
    assert viol.filter(F.col("part").isin("1", "2", "3")).count() > 0


def test_real_bmp_codec_pipeline(spark):
    """The REAL codec tier: numpy BMP round-trip, Arrow-batched decode,
    and the decoded-pixel PSNR invariant flagging planted truncation
    (decode fails) and pixel corruption (PSNR collapse)."""
    import numpy as np
    from jsonschema_spark.operators.multimodal import (
        decode_bmp, decode_pixels, encode_bmp, expected_pixels)
    from jsonschema_spark.sources.images import bmp_images_df

    px = expected_pixels("roundtrip", 13, 7)  # non-multiple-of-4 row pad
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)

    img = bmp_images_df(spark, 1000)
    d = decode_pixels(img, psnr=True).cache()
    n_trunc = sum(1 for i in range(1000) if i % 251 == 0)
    n_corrupt = sum(1 for i in range(1000)
                    if i % 157 == 0 and i % 251 != 0)
    assert d.filter("NOT decode_ok").count() == n_trunc
    assert d.filter("decode_ok AND psnr >= 40").count() == \
        1000 - n_trunc - n_corrupt
    from jsonschema_spark import validate_dataset
    viols = validate_dataset(
        img, {"type": "object",
              "x-spark": {"pixel_invariant": {"decode": "real"}}},
        ["image_id"])
    assert viols.count() == n_trunc + n_corrupt
    assert set(viols.select("keyword").distinct().toPandas()["keyword"]) \
        == {"pixelInvariant"}


def test_runner_scrub_hadoop_fs_path(spark, tmp_path):
    """VERDICT-r2 #5: the stale-partition scrub goes through the Hadoop
    FileSystem API, so it works on any scheme — exercised here through
    an explicit `file:` URI out_dir.  A stale uncommitted part= dir
    (whose retry produces zero violations, which dynamic partition
    overwrite would NOT replace) must be deleted on resume."""
    from jsonschema_spark.runner import ValidationRun

    df = (spark.range(100)
          .select(F.col("id").alias("rid"),
                  (F.col("id") % 2).cast("string").alias("grp"),
                  (F.col("id") % 7).alias("x")))
    schema = {"properties": {"x": {"maximum": 100}}}   # zero violations
    local_out = tmp_path / "out_fs"
    out = "file://" + str(local_out)
    # stage a stale half-written partition dir from a dead run
    stale = local_out / "violations" / "part=0"
    stale.mkdir(parents=True)
    (stale / "part-stale.parquet").write_text("debris")
    run = ValidationRun(spark, out, schema, "grp")
    r = run.run(df, ["rid"])
    assert sorted(r.completed) == ["0", "1"]
    # the scrub removed the stale file even though the group re-ran
    # with zero violation rows
    assert not (stale / "part-stale.parquet").exists()
    m = run.manifest()
    assert m.agg(F.sum("rows")).first()[0] == 100
    assert m.agg(F.sum("violation_rows")).first()[0] == 0
