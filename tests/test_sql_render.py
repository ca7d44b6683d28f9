"""The compiled Spark SQL text against the installed reference.

Every literal, string, pattern and name a schema carries is rendered
into the validator's SQL text and parsed back by Spark.  Each case here
compares the per-row (keyword, json_path) sets of ``violations()`` with
``jsonschema``'s ``iter_errors`` on the same instances (a NULL cell is
an absent property), under ANSI off and on.
"""

from __future__ import annotations

import jsonschema
import pytest
from pyspark.sql import types as T

from jsonschema_spark import CompiledValidator


@pytest.fixture(params=["ansi_off", "ansi_on"])
def spark_mode(request, spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled",
                   "true" if request.param == "ansi_on" else "false")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", old)


def _agree(spark, fields, rows, schema):
    """`rows` are dicts over `fields` (name -> Spark type); None is an
    absent property."""
    st = T.StructType([T.StructField("_row", T.IntegerType())]
                      + [T.StructField(n, t) for n, t in fields.items()])
    df = spark.createDataFrame(
        [(i, *[r.get(n) for n in fields]) for i, r in enumerate(rows)], st)
    v = CompiledValidator(schema, df)
    got = {i: set() for i in range(len(rows))}
    for r in v.violations(df, ["_row"]).collect():
        got[r["_row"]].add((r["keyword"], r["json_path"]))
    ref = jsonschema.Draft202012Validator(schema)
    want = {i: {(e.validator, e.json_path) for e in ref.iter_errors(
                {k: x for k, x in r.items() if x is not None})}
            for i, r in enumerate(rows)}
    assert got == want, v.sql()[0]
    assert v.counts(df) == (sum(not w for w in want.values()),
                            sum(bool(w) for w in want.values()))


DOUBLES = [0.5, 1e308, 1e-7, -0.0, 0.0, 1.0, 2.5, -1e308, 1.5e-7, None]
DOUBLE_SCHEMAS = [
    {"const": 0.5}, {"const": 1e308}, {"const": 1e-7}, {"const": -0.0},
    {"enum": [0.5, 1e308, 1e-7, -0.0]},
    {"minimum": 1e-7}, {"maximum": -0.0}, {"exclusiveMinimum": 0.5},
    {"exclusiveMaximum": 1e308}, {"minimum": -1e308},
    {"multipleOf": 0.5}, {"multipleOf": 1e-7}, {"multipleOf": 1e308},
]


@pytest.mark.parametrize("sub", DOUBLE_SCHEMAS, ids=repr)
def test_double_literals(spark_mode, sub):
    _agree(spark_mode, {"x": T.DoubleType()},
           [{"x": d} for d in DOUBLES], {"properties": {"x": sub}})


LONGS = [0, 7, 2 ** 31, 2 ** 31 - 1, -2 ** 31, 2 ** 62, 2 ** 63 - 1,
         -2 ** 63, 10 ** 18, None]
INT_SCHEMAS = [
    {"const": 2 ** 31}, {"const": 2 ** 63}, {"const": 10 ** 30},
    {"const": -2 ** 63},
    {"enum": [2 ** 31, 2 ** 63, 10 ** 30, 7]},
    {"minimum": 2 ** 31}, {"minimum": 2 ** 63}, {"maximum": 10 ** 30},
    {"minimum": -2 ** 63 - 1}, {"exclusiveMaximum": 2 ** 63 - 1},
    {"multipleOf": 7}, {"multipleOf": 2 ** 31}, {"multipleOf": 2 ** 63},
    {"multipleOf": 10 ** 30},
]


@pytest.mark.parametrize("sub", INT_SCHEMAS, ids=repr)
def test_integer_literals(spark_mode, sub):
    _agree(spark_mode, {"x": T.LongType()},
           [{"x": n} for n in LONGS], {"properties": {"x": sub}})


@pytest.mark.parametrize("sub", [
    {"const": 2 ** 63}, {"enum": [2 ** 31, 2 ** 63]}, {"minimum": 2 ** 31},
    {"multipleOf": 2 ** 31}, {"multipleOf": 10 ** 30},
    # integers no double equals: compared exactly, as the reference does
    {"exclusiveMinimum": 10 ** 30}, {"exclusiveMaximum": 10 ** 30},
    {"minimum": 10 ** 30}, {"maximum": 10 ** 30},
    {"minimum": 2 ** 53 + 1}, {"maximum": 2 ** 53 + 1},
    {"exclusiveMinimum": 2 ** 53 + 1}, {"exclusiveMaximum": 2 ** 53 + 1},
    {"const": 10 ** 30}, {"enum": [10 ** 30, 2 ** 53 + 1, 3]},
    {"minimum": 10 ** 400}, {"maximum": -10 ** 400}, {"const": 10 ** 400}],
    ids=lambda sub: repr(sub)[:40])
def test_integer_literals_on_doubles(spark_mode, sub):
    _agree(spark_mode, {"x": T.DoubleType()},
           [{"x": d} for d in (2.0 ** 31, 2.0 ** 63, 1e30, 0.5, 3.0,
                               2.0 ** 53, 2.0 ** 53 + 2, None)],
           {"properties": {"x": sub}})


STRINGS = ["it's", "back\\slash", "new\nline", "é ü 中 𝄞", "plain", "",
           "a1", "x'y", "'", "\\", "${x}", "${HOME}", "$\\{x}", None]
STRING_SCHEMAS = [
    {"const": "it's"}, {"const": "back\\slash"}, {"const": "new\nline"},
    {"const": "é ü 中 𝄞"}, {"const": "'"}, {"const": "\\"},
    {"enum": ["it's", "back\\slash", "new\nline", "é ü 中 𝄞"]},
    {"maxLength": 4}, {"minLength": 7},
    {"pattern": "\\d"}, {"pattern": "\\\\"}, {"pattern": "\\'"},
    {"pattern": "^it's$"}, {"pattern": "new\\nline"}, {"pattern": "中"},
    # Spark substitutes ${...} in the text it parses
    {"const": "${x}"}, {"enum": ["${HOME}", "$\\{x}"]},
    {"pattern": "^\\$\\{[a-z]+}$"}, {"pattern": "\\${"},
    {"pattern": "^\\${[a-z]+}$"},
    # a `{` Python reads as a literal, and a repeat with no lower bound
    {"pattern": "x{"}, {"pattern": "^.{,3}$"},
]


@pytest.mark.parametrize("sub", STRING_SCHEMAS, ids=repr)
def test_string_literals_and_patterns(spark_mode, sub):
    _agree(spark_mode, {"x": T.StringType()},
           [{"x": s} for s in STRINGS], {"properties": {"x": sub}})


#: a dot, a backtick, a quote, a space and a leading digit
NAMES = ["a.b", "a`b", "a'b", "a b", "1a"]
#: struct fields are named by string subscripts, so ``${`` is fine
FIELD_NAMES = NAMES + ["${x}"]


def test_property_names(spark_mode):
    fields = {n: T.IntegerType() for n in NAMES}
    rows = [dict.fromkeys(NAMES, 1), dict.fromkeys(NAMES, 9),
            dict.fromkeys(NAMES), {"a.b": 1, "1a": 9}]
    _agree(spark_mode, fields, rows,
           {"required": NAMES, "properties": {n: {"minimum": 5}
                                              for n in NAMES}})


def test_struct_field_names(spark_mode):
    inner = T.StructType([T.StructField(n, T.IntegerType())
                          for n in FIELD_NAMES])
    rows = [{"s": dict.fromkeys(FIELD_NAMES, 1)},
            {"s": dict.fromkeys(FIELD_NAMES, 9)},
            {"s": {"a.b": 1}}, {"s": None}]
    schema = {"properties": {"s": {
        "required": ["a`b", "${x}"],
        "properties": {n: {"minimum": 5} for n in FIELD_NAMES}}}}
    st = T.StructType([T.StructField("_row", T.IntegerType()),
                       T.StructField("s", inner)])
    df = spark_mode.createDataFrame(
        [(i, None if r["s"] is None
          else tuple(r["s"].get(n) for n in FIELD_NAMES))
         for i, r in enumerate(rows)], st)
    v = CompiledValidator(schema, df)
    got = sorted((r["_row"], r["keyword"], r["json_path"])
                 for r in v.violations(df, ["_row"]).collect())
    ref = jsonschema.Draft202012Validator(schema)
    want = sorted(
        (i, e.validator, e.json_path) for i, r in enumerate(rows)
        if r["s"] is not None
        for e in ref.iter_errors({"s": {k: x for k, x in r["s"].items()
                                        if x is not None}}))
    assert got == want


def test_one_null_guard_per_binding(spark):
    """A check reached through ``$ref`` is NULL-guarded once for its
    binding, not once per schema level it surfaces through."""
    df = spark.createDataFrame([(1, "a")], "x int, s string")
    v = CompiledValidator({
        "$defs": {"d": {"minimum": 0, "maximum": 9}, "e": {"pattern": "^a"}},
        "properties": {"x": {"$ref": "#/$defs/d"},
                       "s": {"allOf": [{"$ref": "#/$defs/e"}]}}}, df)
    _, checks = v.sql()
    assert len(checks) == 3
    for path, pred in checks:
        col = "`s`" if path.startswith("properties/s") else "`x`"
        assert pred.count(f"isnull({col})") == 1, (path, pred)


def test_sql_text_depends_only_on_content(spark):
    """Two compiles of one schema against one DataFrame schema give the
    same text, lambda variable names included."""
    df = spark.createDataFrame([([1, 2], {"k": 1})],
                               "a array<int>, m map<string,int>")
    schema = {"properties": {
        "a": {"items": {"maximum": 5}, "contains": {"minimum": 2}},
        "m": {"additionalProperties": {"minimum": 0}}}}
    first = CompiledValidator(schema, df).sql()
    second = CompiledValidator(schema, df).sql()
    assert first == second
    assert "_x1 ->" in first[0]
    assert [p for p, _ in first[1]] == [
        "properties/a/items", "properties/a/contains",
        "properties/m/additionalProperties"]
