"""Instance locations: ``json_path`` rendered exactly like the installed
reference's ``ValidationError.json_path``, and the JSON pointer, depth
and sibling order derived from it natively."""

import jsonschema
import pytest
from jsonschema.exceptions import best_match as ref_best_match
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark import CompiledValidator
from jsonschema_spark.compiler.context import (json_path_join, json_pointer,
                                               path_depth)
from jsonschema_spark.operators.bestmatch import best_match, standard_output
from jsonschema_spark.operators.quality import image_quality_violations

#: names the identifier pattern rejects (leading ``_`` or digit,
#: non-ASCII, quote, brackets) beside two it accepts
NAMES = ["_id", "1a", "é", "a'b", "a[2]b", "x", "ok"]


def _frame(spark, names, rows):
    schema = T.StructType([T.StructField("_row", T.IntegerType())]
                          + [T.StructField(n, T.IntegerType())
                             for n in names])
    return spark.createDataFrame(rows, schema)


def _ref_pointer(error):
    return "".join("/" + str(p).replace("~", "~0").replace("/", "~1")
                   for p in error.path)


def test_locations_match_reference_on_odd_names(spark):
    """``minimum: 5`` on each name, one row failing all but ``ok``:
    the (keyword, json_path) set, the best_match pick and the
    standard_output instanceLocations equal the reference's."""
    schema = {"properties": {n: {"minimum": 5} for n in NAMES}}
    inst = {n: 1 for n in NAMES}
    inst["ok"] = 9
    df = _frame(spark, NAMES, [(0, *[inst[n] for n in NAMES])])
    viols = CompiledValidator(schema, df).violations(df, ["_row"])
    errs = list(jsonschema.Draft202012Validator(schema).iter_errors(inst))

    assert ({(r["keyword"], r["json_path"]) for r in viols.collect()}
            == {(e.validator, e.json_path) for e in errs})
    assert (best_match(viols, ["_row"]).collect()[0]["json_path"]
            == ref_best_match(errs).json_path)
    assert (sorted(r["instanceLocation"]
                   for r in standard_output(viols).collect())
            == sorted(_ref_pointer(e) for e in errs))


def test_dotted_column_name_binds_as_one_column(spark):
    """A column named ``a.b`` is the member ``a.b``, not struct access
    into ``a``: pass/fail and json_path follow the reference."""
    schema = {"properties": {"a.b": {"minimum": 5}}}
    df = _frame(spark, ["a.b"], [(0, 1), (1, 9)])
    v = CompiledValidator(schema, df)
    ref = jsonschema.Draft202012Validator(schema)
    valid = {r["_row"]: r["valid"] for r in v.with_valid(df).collect()}
    assert valid == {0: ref.is_valid({"a.b": 1}),
                     1: ref.is_valid({"a.b": 9})} == {0: False, 1: True}
    [err] = ref.iter_errors({"a.b": 1})
    assert ([(r["_row"], r["json_path"])
             for r in v.violations(df, ["_row"]).collect()]
            == [(0, err.json_path)] == [(0, "$['a.b']")])


def test_dotted_caller_column_names(spark):
    """Caller-named columns (``id_cols``, ``partition_by``, x-spark
    keys) called ``a.b`` are one column each, not struct access."""
    from jsonschema_spark import validate_dataset

    df = _frame(spark, ["a.b"], [(0, 1), (1, 1), (2, 9)])
    v = CompiledValidator({"properties": {"_row": {"maximum": 0}}}, df)
    assert sorted((r["a.b"], r["json_path"])
                  for r in v.violations(df, ["a.b"]).collect()) \
        == [(1, "$['_row']"), (9, "$['_row']")]
    assert sorted(map(tuple, v.manifest(df, ["a.b"]).select(
        "`a.b`", "rows", "invalid_rows").collect())) == [(1, 2, 1), (9, 1, 1)]
    out = validate_dataset(df, {"x-spark": {"unique": ["a.b"]}}, ["_row"])
    assert sorted((r["_row"], r["keyword"], r["json_path"])
                  for r in out.collect()) == [
        (0, "uniqueItems:a.b", "$['a.b']"), (1, "uniqueItems:a.b", "$['a.b']")]


def test_json_path_join_renders_like_reference():
    assert [json_path_join("$", n) for n in ("ok", "_id", "a'b", "a\\b")] \
        == ["$.ok", "$['_id']", "$['a\\'b']", "$['a\\\\b']"]
    assert json_path_join("$.a", 12) == "$.a[12]"


# (json_path, pointer, depth); depth None where the string is not
# the grammar and passes through verbatim
POINTERS = [
    ("$", "", 0),
    ("$.a", "/a", 1),
    ("$.a.b[0]", "/a/b/0", 3),
    ("$[12]", "/12", 1),
    ("$['a\\'b']", "/a'b", 1),
    ("$['~/']", "/~0~1", 1),
    ("$['a.b']", "/a.b", 1),
    ("$['a\\\\b']", "/a\\b", 1),
    ("$['é'][3]", "/é/3", 2),
    ("not a path", "not a path", None),
    ("$.a!", "$.a!", None),
]


@pytest.mark.parametrize("path,pointer,depth", POINTERS)
def test_native_pointer_and_depth(spark, path, pointer, depth):
    row = (spark.createDataFrame([(path,)], "p string")
           .select(json_pointer(F.col("p")).alias("ptr"),
                   path_depth(F.col("p")).alias("d")).first())
    assert row["ptr"] == pointer
    if depth is not None:
        assert row["d"] == depth


def test_image_quality_names_configured_columns(spark):
    df = spark.createDataFrame(
        [("i0", 20000, 16, bytearray(8))],
        "image_id string, width int, h int, blob binary")
    cfg = {"w_col": "width", "bytes_col": "blob", "max_aspect": 20.0,
           "min_bytes": 16}
    got = {(r["keyword"], r["json_path"]) for r in
           image_quality_violations(df, cfg, ["image_id"]).collect()}
    assert got == {("imageQuality:aspect", "$.width"),
                   ("imageQuality:bytes", "$.blob")}


def test_location_outputs_plan_no_python(spark):
    df = spark.createDataFrame([(1, 1, "a")], "id int, n int, s string")
    v = CompiledValidator({"properties": {"n": {"minimum": 5},
                                          "s": {"title": "t"}}}, df)
    for out in (standard_output(v.violations(df)),
                v.annotation_units(df, ["id"])):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("scope", ["row", "struct"])
def test_unexpected_properties_are_one_error_at_the_object(spark, scope):
    """additionalProperties/unevaluatedProperties false report ONE error
    at the object naming every present unexpected member, as the
    reference does; (keyword, json_path, message) per row equal to the
    installed jsonschema, at row scope and for a struct member."""
    df = spark.createDataFrame(
        [(1, None, None, None), (2, 5, None, None), (3, 5, 6, None),
         (4, None, 1, 2)], "a int, z int, b int, x1 int")
    if scope == "struct":
        df = df.selectExpr(
            "a", "named_struct('a', a, 'z', z, 'b', b, 'x1', x1) AS s")
    schemas = [
        {"properties": {"a": {}}, "additionalProperties": False},
        {"properties": {"a": {}}, "patternProperties": {"^x": {}, "^q": {}},
         "additionalProperties": False},
        {"properties": {"a": {}}, "unevaluatedProperties": False},
        {"properties": {"a": {}}, "unevaluatedProperties": {"maximum": 5}},
    ]
    for schema in schemas:
        spec = schema if scope == "row" else {"properties": {"s": schema}}
        got = sorted((r["a"], r["keyword"], r["json_path"], r["message"])
                     for r in CompiledValidator(spec, df).violations(
                         df, ["a"]).collect())
        ref = jsonschema.Draft202012Validator(spec)
        want = []
        for r in df.collect():
            inst = {k: v for k, v in r.asDict(recursive=True).items()
                    if v is not None}
            if "s" in inst:
                inst["s"] = {k: v for k, v in inst["s"].items()
                             if v is not None}
            want += [(r["a"], e.validator, e.json_path, e.message)
                     for e in ref.iter_errors(inst)]
        assert got == sorted(want), schema
        assert want, schema
