"""CLI entry point (reference cli.py analogue): exit codes, outputs."""

import json
import os

from jsonschema_spark.cli import parse_args, run


def _spec_file(tmp_path, spec):
    p = tmp_path / "spec.json"
    p.write_text(json.dumps(spec))
    return str(p)


def test_cli_exit_code_and_outputs(spark, tmp_path):
    spec = _spec_file(tmp_path, {
        "required": ["o_orderkey"],
        "properties": {"o_totalprice": {"maximum": 100000}},
    })
    out = str(tmp_path / "out")
    args = parse_args([spec, "/root/testdata/sf0.001/orders.parquet",
                       "--id-cols", "o_orderkey",
                       "--partition-by", "o_orderstatus",
                       "--out", out])
    rc = run(args, spark=spark)
    assert rc == 1  # planted violations -> nonzero exit (cli.py:285-292)
    viols = spark.read.parquet(os.path.join(out, "violations"))
    man = spark.read.parquet(os.path.join(out, "manifest"))
    assert viols.count() > 0
    assert {"o_orderkey", "keyword", "json_path"} <= set(viols.columns)
    assert man.count() == 3  # one row per o_orderstatus


def test_cli_all_valid_exits_zero(spark, tmp_path):
    spec = _spec_file(tmp_path, {"required": ["o_orderkey"]})
    args = parse_args([spec, "/root/testdata/sf0.001/orders.parquet"])
    assert run(args, spark=spark) == 0


def test_cli_format_checker_and_schema_store(spark, tmp_path):
    """--format-checker opts into format assertion; --schema-store
    pre-registers external documents for $ref."""
    import json as _json
    from jsonschema_spark.cli import parse_args, run

    df = spark.createDataFrame(
        [(1, "a@b.com"), (2, "not-an-email")], "i bigint, email string")
    table = str(tmp_path / "t.parquet")
    df.write.parquet(table)
    store = {"https://example.com/email.json":
             {"properties": {"email": {"format": "email"}}}}
    spec = {"$ref": "https://example.com/email.json"}
    spec_p = str(tmp_path / "spec.json")
    store_p = str(tmp_path / "store.json")
    with open(spec_p, "w") as fh:
        _json.dump(spec, fh)
    with open(store_p, "w") as fh:
        _json.dump(store, fh)
    base = [spec_p, table, "--id-cols", "i", "--schema-store", store_p]
    # annotation-only default: everything passes
    assert run(parse_args(base), spark=spark) == 0
    # asserted: the bad email fails
    assert run(parse_args(base + ["--format-checker"]), spark=spark) == 1


def test_cli_runs_x_spark_dataset_checks(spark, tmp_path):
    """A spec carrying an x-spark block runs the dataset tier in the
    same CLI invocation: uniqueness + referential (dim via --ref-table)
    + stats violations land in the violations parquet, and any
    dataset-check violation alone forces exit code 1 even when every
    row is individually valid."""
    from jsonschema_spark.sources.images import images_df, licenses_df
    img_dir = str(tmp_path / "images.parquet")
    lic_dir = str(tmp_path / "licenses.parquet")
    images_df(spark, 3_000, with_license=True).write.parquet(img_dir)
    licenses_df(spark).write.parquet(lic_dir)
    spec = _spec_file(tmp_path, {
        "type": "object",          # every row valid at the row level
        "x-spark": {
            "unique": ["image_id"],
            "referential": [{"column": "license_id",
                             "ref": {"table": "licenses",
                                     "key": "license_id"}}],
            "stats": {"caption": {"max_null_rate": 0.0001}},
        },
    })
    out = str(tmp_path / "out")
    args = parse_args([spec, img_dir, "--id-cols", "image_id",
                       "--ref-table", f"licenses={lic_dir}",
                       "--out", out])
    assert run(args, spark=spark) == 1  # dataset violations only
    viols = spark.read.parquet(os.path.join(out, "violations"))
    kinds = {r["keyword"] for r in viols.select("keyword")
             .distinct().collect()}
    assert {"uniqueItems:image_id", "referential:license_id",
            "stats:max_null_rate"} <= kinds
    # a missing --ref-table surfaces the pointed error
    args2 = parse_args([spec, img_dir])
    try:
        run(args2, spark=spark)
        assert False, "expected ValueError for missing dim table"
    except ValueError as e:
        assert "licenses" in str(e)


def test_cli_save_baseline_then_drift_check(spark, tmp_path):
    """The full drift lifecycle from the shell: --save-baseline profiles
    the snapshot with the spec's x-spark.drift config; a later plain run
    compares against it (same data -> clean; shifted data -> drift
    violation and exit 1)."""
    base_dir = str(tmp_path / "base.parquet")
    shift_dir = str(tmp_path / "shift.parquet")
    bl_dir = str(tmp_path / "baseline")
    spark.range(4_000).selectExpr("id", "double(id % 100) as w") \
        .write.parquet(base_dir)
    spark.range(4_000).selectExpr("id", "double(id % 100) + 80.0 as w") \
        .write.parquet(shift_dir)
    spec = _spec_file(tmp_path, {
        "type": "object",
        "x-spark": {"drift": {"baseline": bl_dir,
                              "numeric": {"w": [0.0, 200.0, 20]},
                              "max_ks": 0.05}},
    })
    args = parse_args([spec, base_dir, "--save-baseline", bl_dir])
    assert run(args, spark=spark) == 0
    assert spark.read.parquet(bl_dir).count() > 0
    # identical distribution: no drift, exit 0
    assert run(parse_args([spec, base_dir]), spark=spark) == 0
    # shifted distribution: drift violation, exit 1
    out = str(tmp_path / "out")
    assert run(parse_args([spec, shift_dir, "--out", out]),
               spark=spark) == 1
    viols = spark.read.parquet(os.path.join(out, "violations"))
    assert viols.filter(viols.keyword.startswith("drift")).count() > 0


def test_cli_curate_mode(spark, tmp_path):
    """--curate-out labels the table (validity + exact-dedup survivor
    + split) and writes parquet; exit 0 (a transformation, not a
    gate)."""
    import json

    from jsonschema_spark.cli import parse_args, run
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "duplicated text body here"), (2, "duplicated text body here"),
         (3, "unique"), (4, None)],
        "doc_id long, text string").write.parquet(src)
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as fh:
        json.dump({"required": ["text"]}, fh)
    out = str(tmp_path / "curated")
    rc = run(parse_args(
        [spec_path, src, "--id-cols", "doc_id",
         "--curate-out", out, "--dedup-text", "text",
         "--split", "train=0.5,test=0.5", "--split-salt", "t"]),
        spark=spark)
    assert rc == 0
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[4]["valid"] is False and got[3]["valid"] is True
    # exact dup pair (1,2), equal length: tie -> smallest id survives
    assert got[1]["is_canonical"] and not got[2]["is_canonical"]
    assert all(got[i]["split"] in ("train", "test") for i in got)


def test_cli_out_runs_each_output_once(spark, tmp_path):
    """With --out, the totals come from the written manifest and the
    written files are read back with their known schema: 5 jobs (table
    schema, violations write, manifest shuffle and write, totals read),
    where recomputing the manifest and inferring footers took 7."""
    spec = _spec_file(tmp_path, {"properties": {"v": {"maximum": 50}}})
    table = str(tmp_path / "t.parquet")
    spark.range(100).selectExpr("id", "id as v", "string(id % 3) as g") \
        .write.parquet(table)
    args = parse_args([spec, table, "--id-cols", "id", "--partition-by",
                       "g", "--out", str(tmp_path / "out")])
    sc = spark.sparkContext
    sc.setJobGroup("cli-out", "jobs of one cli.run")
    try:
        assert run(args, spark=spark) == 1
        jobs = sc.statusTracker().getJobIdsForGroup("cli-out")
    finally:
        sc._jsc.clearJobGroup()
    assert len(jobs) == 5, len(jobs)
