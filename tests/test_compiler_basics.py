"""Unit tests for the keyword compilers over typed columns.

Each case mirrors reference semantics from
/root/reference/jsonschema/_keywords.py (see docstrings in
jsonschema_spark/compiler/keywords.py).
"""

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import CompiledValidator, SchemaCompileError, check_schema
from jsonschema_spark.compiler import sql


def _valid_flags(spark, ddl, rows, schema, **kw):
    df = spark.createDataFrame(rows, ddl)
    v = CompiledValidator(schema, df, **kw)
    return [r["valid"] for r in
            v.with_valid(df).orderBy("_i").select("valid").collect()]


def test_range_keywords(spark):
    ddl = "_i int, x double"
    rows = [(0, 1.0), (1, 5.0), (2, 10.0), (3, None)]
    schema = {"properties": {"x": {"minimum": 1, "exclusiveMaximum": 10}}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, True, False, True]


def test_multiple_of_float_parity(spark):
    # reference float fast path: quotient = instance / dB (exact IEEE)
    ddl = "_i int, x double"
    # NaN excluded: not JSON-representable (the reference raises on it)
    rows = [(0, 0.0075), (1, 0.00751), (2, 4.5), (3, 123.4567)]
    schema = {"properties": {"x": {"multipleOf": 0.0001}}}
    import jsonschema
    expected = [jsonschema.Draft202012Validator(
        {"multipleOf": 0.0001}).is_valid(r[1]) for r in rows]
    assert _valid_flags(spark, ddl, rows, schema) == expected


def test_string_keywords(spark):
    ddl = "_i int, s string"
    rows = [(0, "abc"), (1, ""), (2, "x" * 10), (3, None), (4, "abd")]
    schema = {"properties": {"s": {"minLength": 1, "maxLength": 5,
                                   "pattern": "ab[cz]"}}}
    # None = absent property -> passes (properties not applied)
    assert _valid_flags(spark, ddl, rows, schema) == [
        True, False, False, True, False]


def test_enum_bool_is_not_int(spark):
    # bool != int for enum (_types.py:34-38, _utils.py:151-159)
    ddl = "_i int, b boolean"
    rows = [(0, True), (1, False)]
    schema = {"properties": {"b": {"enum": [0, 1]}}}
    assert _valid_flags(spark, ddl, rows, schema) == [False, False]
    schema = {"properties": {"b": {"enum": [True]}}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, False]


def test_integer_valued_float_is_integer(spark):
    # draft6+: 1.0 is an integer (_types.py:195-201)
    ddl = "_i int, x double"
    rows = [(0, 1.0), (1, 1.5)]
    schema = {"properties": {"x": {"type": "integer"}}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, False]


def test_required_and_dependent_required(spark):
    ddl = "_i int, a string, b string"
    rows = [(0, "x", "y"), (1, "x", None), (2, None, None)]
    schema = {"required": ["a"], "dependentRequired": {"a": ["b"]}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, False, False]


def test_array_keywords(spark):
    ddl = "_i int, a array<int>"
    rows = [(0, [1, 2, 3]), (1, [1, 1]), (2, []), (3, [1, 2, 3, 4, 5, 6])]
    schema = {"properties": {"a": {"minItems": 1, "maxItems": 5,
                                   "uniqueItems": True}}}
    assert _valid_flags(spark, ddl, rows, schema) == [
        True, False, False, False]


def test_items_and_contains(spark):
    ddl = "_i int, a array<int>"
    rows = [(0, [1, 2, 3]), (1, [1, 2, 300]), (2, [5, 6])]
    schema = {"properties": {"a": {
        "items": {"maximum": 100},
        "contains": {"minimum": 3}, "maxContains": 2}}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, False, True]


def test_prefix_items(spark):
    ddl = "_i int, a array<int>"
    rows = [(0, [1, 50]), (1, [99, 50]), (2, [1])]
    schema = {"properties": {"a": {"prefixItems": [{"maximum": 10},
                                                   {"minimum": 10}]}}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, False, True]


def test_composition(spark):
    ddl = "_i int, x int"
    rows = [(0, 5), (1, 15), (2, 25)]
    schema = {"properties": {"x": {"anyOf": [{"maximum": 10},
                                             {"minimum": 20}]}}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, False, True]
    schema = {"properties": {"x": {"oneOf": [{"maximum": 20},
                                             {"minimum": 10}]}}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, False, True]
    schema = {"properties": {"x": {"not": {"minimum": 10}}}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, False, False]


def test_if_then_else(spark):
    ddl = "_i int, x int, y string"
    rows = [(0, 5, "small"), (1, 5, "big"), (2, 50, "big"), (3, 50, "small")]
    schema = {"if": {"properties": {"x": {"maximum": 10}}},
              "then": {"properties": {"y": {"const": "small"}}},
              "else": {"properties": {"y": {"const": "big"}}}}
    assert _valid_flags(spark, ddl, rows, schema) == [
        True, False, True, False]


def test_ref_defs(spark):
    ddl = "_i int, x int, y int"
    rows = [(0, 5, 5), (1, 5, 500)]
    schema = {"$defs": {"small": {"maximum": 100}},
              "properties": {"x": {"$ref": "#/$defs/small"},
                             "y": {"$ref": "#/$defs/small"}}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, False]


def test_nested_struct(spark):
    ddl = "_i int, meta struct<author:string, stars:int>"
    rows = [(0, ("alice", 5)), (1, ("bob", 50)), (2, None)]
    schema = {"properties": {"meta": {
        "type": "object", "required": ["author"],
        "properties": {"stars": {"maximum": 10}}}}}
    assert _valid_flags(spark, ddl, rows, schema) == [True, False, True]


def test_boolean_schema_false(spark):
    ddl = "_i int, x int"
    rows = [(0, 1), (1, None)]
    schema = {"properties": {"x": False}}
    # present -> fails, absent -> passes
    assert _valid_flags(spark, ddl, rows, schema) == [False, True]


def test_violation_rows_shape(spark):
    df = spark.createDataFrame([("a", 0), ("b", 5)], "id string, x int")
    v = CompiledValidator(
        {"properties": {"x": {"minimum": 1}}}, df)
    out = v.violations(df, ["id"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id"], r["keyword"], r["json_path"]) == ("a", "minimum", "$.x")
    assert r["schema_path"] == "properties/x/minimum"

    # NULL-bearing rows under a Python-fallback pattern (the comment
    # group forces the pandas UDF), a numeric bound and `required`:
    # violations() must equal the per-check definition row for row
    df = spark.createDataFrame(
        [("a", "1x", 5), ("b", "2x", 50), ("c", None, 50), ("d", "1y", None),
         ("e", None, None), ("f", "9", 7)], "id string, s string, x int")
    v = CompiledValidator(
        {"required": ["x"],
         "properties": {"s": {"pattern": "(?#c)^1"},
                        "x": {"maximum": 10}}}, df)
    fields = ["keyword", "json_path", "schema_path", "message",
              "failing_value", "type_match"]
    want = []
    for c in v.checks:
        bad = ~F.coalesce(sql.column(c.pred), F.lit(True))
        want += df.filter(bad).select(
            "id", F.lit(c.keyword), F.lit(c.json_path),
            F.lit(c.schema_path), sql.column(c.message).cast("string"),
            sql.column(c.failing_value).cast("string"),
            sql.column(c.type_match)).collect()
    got = v.violations(df, ["id"])
    assert sorted(map(tuple, got.select("id", *fields).collect())) \
        == sorted(map(tuple, want))
    assert sorted(r[0] for r in want) == ["b", "b", "c", "d", "e", "f"]
    plan = got._jdf.queryExecution().executedPlan().toString()
    # one pandas UDF: at most one Python node below the validity filter
    # plus one above it
    assert plan.count("EvalPython") <= 2, plan


def test_wide_contract_validity_chain(spark):
    """800 checks over 400 columns: the validity AND chain is a
    balanced tree, so Catalyst's recursive walks stay shallow (a
    left-deep chain this long overflowed the JVM stack)."""
    cols = [f"c{i}" for i in range(400)]
    df = spark.range(8).select(*[(F.col("id") + i).cast("int").alias(c)
                                 for i, c in enumerate(cols)])
    v = CompiledValidator(
        {"properties": {c: {"minimum": 0, "maximum": 400} for c in cols}},
        df)
    assert len(v.checks) == 800
    # row k fails `maximum` on the k-1 columns c(401-k)..c399
    assert v.counts(df) == (2, 6)
    assert v.violations(df).count() == sum(range(1, 7))


def test_check_schema_rejects_malformed():
    with pytest.raises(SchemaCompileError):
        check_schema({"minimum": "ten"})
    with pytest.raises(SchemaCompileError):
        check_schema({"pattern": "["})
    with pytest.raises(SchemaCompileError):
        check_schema({"required": "name"})
    with pytest.raises(SchemaCompileError):
        check_schema({"type": "strng"})
    check_schema({"minimum": 1, "pattern": "^a$", "required": ["x"]})


def test_unknown_keyword_warns(spark):
    df = spark.createDataFrame([("a",)], "s string")
    v = CompiledValidator({"properties": {"s": {"frobnicate": 1}}}, df)
    assert any("frobnicate" in w for w in v.warnings)
    assert v.with_valid(df).first()["valid"] is True


def test_format_keywords(spark):
    ddl = "_i int, s string"
    fc = {"format_checker": True}
    schema = {"properties": {"s": {"format": "ipv4"}}}
    rows = [(0, "1.2.3.4"), (1, "256.1.1.1"), (2, "01.1.1.1"), (3, "x")]
    assert _valid_flags(spark, ddl, rows, schema, **fc) == [
        True, False, False, False]
    # annotation-only by default, like the reference without a
    # FormatChecker (_keywords.py:223-228)
    assert _valid_flags(spark, ddl, rows, schema) == [True] * 4
    schema = {"properties": {"s": {"format": "uuid"}}}
    rows = [(0, "12345678-1234-5678-1234-567812345678"), (1, "not-a-uuid")]
    assert _valid_flags(spark, ddl, rows, schema, **fc) == [True, False]
    # unknown format always passes (_format.py:133-134)
    schema = {"properties": {"s": {"format": "no-such-format"}}}
    assert _valid_flags(spark, ddl, rows, schema, **fc) == [True, True]


def test_register_format_with_a_column_function(spark):
    """A custom format written over PySpark Columns is brought into the
    compiled text as the SQL of its expression."""
    from jsonschema_spark import register_format
    register_format("even-length", lambda c: F.length(c) % 2 == 0)
    ddl = "_i int, s string"
    rows = [(0, "ab"), (1, "abc"), (2, None)]
    schema = {"properties": {"s": {"format": "even-length"}}}
    assert _valid_flags(spark, ddl, rows, schema, format_checker=True) \
        == [True, False, True]


def test_redefine_type(spark):
    """TypeChecker.redefine analogue (_types.py:122-154): a registry
    copy with a custom/overridden type predicate."""
    from pyspark.sql import functions as F
    from jsonschema_spark.compiler.registry import default_registry

    # new type name: "even_int"
    reg = default_registry().redefine_type(
        "even_int", lambda ctx: (ctx.target % 2 == 0)
        if ctx.is_integral() else F.lit(False))
    ddl = "_i int, x int"
    rows = [(0, 2), (1, 3), (2, None)]
    schema = {"properties": {"x": {"type": "even_int"}}}
    assert _valid_flags(spark, ddl, rows, schema, registry=reg) == [
        True, False, True]
    # overriding a built-in: "string" now also requires non-empty
    reg2 = default_registry().redefine_type(
        "string", lambda ctx: (F.length(ctx.target) > 0)
        if ctx.is_string() else F.lit(False))
    ddl = "_i int, s string"
    rows = [(0, "a"), (1, "")]
    schema = {"properties": {"s": {"type": "string"}}}
    assert _valid_flags(spark, ddl, rows, schema, registry=reg2) == [
        True, False]
    # the default registry is untouched
    assert _valid_flags(spark, ddl, rows, schema) == [True, True]


def test_extension_columns_with_udfs_lambdas_and_variables(spark):
    """Extension Columns that call a pandas or Python UDF, hold a lambda
    or a ``${...}`` literal are brought into the compiled text, and
    `extend` compilers see the target as a PySpark Column."""
    import pandas as pd
    from jsonschema_spark import register_format
    from jsonschema_spark.compiler.registry import (default_registry,
                                                    fmt_message, make_check)

    @F.pandas_udf("boolean")
    def even_length(s: pd.Series) -> pd.Series:
        return s.str.len() % 2 == 0

    register_format("even-length-pandas", even_length)
    ddl = "_i int, s string"
    rows = [(0, "ab"), (1, "abc"), (2, None), (3, "${HOME}!")]
    schema = {"properties": {"s": {"format": "even-length-pandas"}}}
    assert _valid_flags(spark, ddl, rows, schema, format_checker=True) \
        == [True, False, True, True]

    shouty = F.udf(lambda s: s is not None and s.isupper(), "boolean")
    reg = default_registry().redefine_type(
        "shouty", lambda ctx: shouty(ctx.target) | (ctx.target == "${HOME}!")
        if ctx.is_string() else F.lit(False))
    rows = [(0, "AB"), (1, "ab"), (2, None), (3, "${HOME}!")]
    schema = {"properties": {"s": {"type": "shouty"}}}
    assert _valid_flags(spark, ddl, rows, schema, registry=reg) == [
        True, False, True, True]

    def c_starts_with(ctx, value, schema):
        if not ctx.is_string():
            return None
        return make_check(ctx, "startsWith", ctx.target.startswith(value),
                          fmt_message(ctx, f"%s does not start with {value}"))

    def c_all_positive(ctx, value, schema):
        if not ctx.is_array():
            return None
        return make_check(ctx, "allPositive",
                          F.forall(ctx.target, lambda x: x > 0),
                          "an item is not positive")

    reg = default_registry().extend({"startsWith": c_starts_with,
                                     "allPositive": c_all_positive})
    df = spark.createDataFrame(
        [(0, "${x}y", [1]), (1, "zz", [1, -1]), (2, None, None)],
        "_i int, s string, a array<int>")
    v = CompiledValidator({"properties": {
        "s": {"startsWith": "${x}"}, "a": {"allPositive": True}}},
        df, registry=reg)
    assert sorted(tuple(r) for r in v.violations(df, ["_i"]).select(
        "_i", "keyword", "message", "failing_value").collect()) == [
        (1, "allPositive", "an item is not positive", "[1,-1]"),
        (1, "startsWith", "zz does not start with ${x}", "zz")]


def test_dollar_brace_column_names_cannot_be_bound(spark):
    """The parser substitutes ``${...}`` inside a quoted identifier, so a
    schema that binds such a column is refused at compile time; an
    unbound one is left alone."""
    df = spark.createDataFrame([(1, 2)], "`${x}` int, y int")
    with pytest.raises(SchemaCompileError, match="cannot be named"):
        CompiledValidator({"properties": {"${x}": {"minimum": 0}}}, df)
    v = CompiledValidator({"properties": {"y": {"minimum": 5}}}, df)
    assert v.counts(df) == (0, 1)


def test_draft4_legacy_anchor_via_public_api(spark):
    """ADVICE-r2 regression: CompiledValidator must build its Resolver
    with the schema's OWN draft semantics.  A draft4 schema using the
    legacy location-independent identifier {"id": "#foo"} resolves via
    Resolver's draft<=7 `id` rules (referencing's draft<=7 id_of), not
    2020-12's — previously this raised SchemaCompileError through the
    public API while passing under conformance's draft-aware wiring."""
    ddl = "_i int, x int"
    rows = [(0, 1), (1, 200)]
    schema = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "definitions": {"pos": {"id": "#foo", "maximum": 100}},
        "properties": {"x": {"$ref": "#foo"}},
    }
    assert _valid_flags(spark, ddl, rows, schema) == [True, False]
    # draft<=7: $ref siblings (including `id`) are ignored
    schema7 = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "definitions": {"pos": {"minimum": 0}},
        "properties": {"x": {"$ref": "#/definitions/pos",
                             "minimum": 1000}},
    }
    assert _valid_flags(spark, ddl, rows, schema7) == [True, True]


def test_schema_store_per_resource_draft(spark):
    """ADVICE-r3: a schema_store document declaring its own `$schema`
    resolves under THAT draft's identifier rules.  Here a draft4 doc
    uses a legacy location-independent `id: "#big"` anchor — invisible
    under 2020-12 rules — while the root is 2020-12; the $ref through
    the anchor must still bind."""
    from jsonschema_spark import CompiledValidator

    store = {
        "https://example.test/legacy": {
            "$schema": "http://json-schema.org/draft-04/schema#",
            "definitions": {
                "big": {"id": "#big", "minimum": 100},
            },
        },
    }
    schema = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "properties": {
            "n": {"$ref": "https://example.test/legacy#big"},
        },
    }
    df = spark.createDataFrame([(1, 5), (2, 150)], "id int, n int")
    v = CompiledValidator(schema, df, schema_store=store)
    bad = {r["id"] for r in
           v.with_valid(df).filter("NOT valid").select("id").collect()}
    assert bad == {1}


def test_boolean_false_schema_violations(spark):
    """Regression (r4 code review): a boolean `False` root schema's
    $falseSchema check bypasses the type_match annotation pass; the
    violation array must still build (type_match=False, the reference's
    TypeError -> False for error.schema=False)."""
    from jsonschema_spark import CompiledValidator
    df = spark.createDataFrame([(1,)], "x int")
    v = CompiledValidator(False, df)
    rows = v.violations(df, ["x"]).collect()
    assert len(rows) == 1 and rows[0]["keyword"] == "$falseSchema"
    assert rows[0]["type_match"] is False
    assert v.violations_with_context(df, ["x"]).count() == 1


def test_annotation_units_property_level(spark):
    """Annotation units from a property subschema: emitted only for
    valid rows where the property is present, with pointer locations
    and the JSON-encoded value."""
    from jsonschema_spark import CompiledValidator
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "toolong")],
        "id int, s string")
    schema = {"properties": {
        "s": {"maxLength": 3, "title": "short code",
              "deprecated": True}}}
    v = CompiledValidator(schema, df)
    units = v.annotation_units(df, ["id"]).collect()
    by_row = {}
    for r in units:
        by_row.setdefault(r["id"], []).append(
            (r["keyword"], r["keywordLocation"], r["instanceLocation"],
             r["annotation_json"]))
    # row 1: present + valid -> both annotations
    assert sorted(by_row[1]) == [
        ("deprecated", "/properties/s/deprecated", "/s", "true"),
        ("title", "/properties/s/title", "/s", '"short code"'),
    ]
    # row 2: property absent -> no units; row 3: invalid row -> none
    assert 2 not in by_row and 3 not in by_row


def test_empty_composition_lists(spark):
    """`anyOf: []` / `oneOf: []` violate the meta-schema (minItems 1);
    the engine rejects them up front with SchemaCompileError — the
    eager analogue of the reference's `check_schema` (the reference's
    *validator* lazily tolerates them and fails every instance; our
    compile step surfaces the malformed spec instead, never an
    IndexError from the branch-OR fold)."""
    ddl = "_i int, x int"
    df = spark.createDataFrame([(0, 1)], ddl)
    for kw in ("anyOf", "oneOf", "allOf"):
        with pytest.raises(SchemaCompileError, match="non-empty"):
            CompiledValidator({"properties": {"x": {kw: []}}}, df)


def test_retrieve_hook_fetches_and_caches(spark):
    """Resolver(retrieve=) — the referencing.Registry(retrieve=...) /
    RefResolver.resolve_remote analogue: called once per unregistered
    absolute URI, result indexed under both the retrieval URI and its
    own $id, transitive $refs inside retrieved documents retrieved in
    turn."""
    from jsonschema_spark import CompiledValidator

    calls = []
    docs = {
        "https://example.test/range": {
            "$id": "https://example.test/range",
            "properties": {"n": {"$ref": "limits#pos"}},
        },
        "https://example.test/limits": {
            "$anchor_holder": None,  # unknown keyword: data, not schema
            "$defs": {"pos": {"$anchor": "pos", "minimum": 10}},
        },
    }

    def retrieve(uri):
        calls.append(uri)
        return docs[uri]

    schema = {
        "properties": {
            "a": {"$ref": "https://example.test/range"},
            "b": {"$ref": "https://example.test/range"},
        },
    }
    df = spark.createDataFrame(
        [(1, (5,), (50,)), (2, (50,), (5,))],
        "id int, a struct<n:int>, b struct<n:int>")
    v = CompiledValidator(schema, df, retrieve=retrieve)
    flags = [r["valid"] for r in
             v.with_valid(df).orderBy("id").select("valid").collect()]
    assert flags == [False, False]
    ok = spark.createDataFrame([(1, (50,), (50,))],
                               "id int, a struct<n:int>, b struct<n:int>")
    assert v.with_valid(ok).head()["valid"] is True
    # each URI retrieved exactly once despite two $refs + anchor hops
    assert sorted(calls) == ["https://example.test/limits",
                             "https://example.test/range"]


def test_retrieve_hook_errors(spark):
    from jsonschema_spark import CompiledValidator
    from jsonschema_spark.compiler.registry import SchemaCompileError

    df = spark.createDataFrame([(1,)], "n int")

    def boom(uri):
        raise KeyError(uri)

    with pytest.raises(SchemaCompileError, match="retrieve.*failed"):
        CompiledValidator({"$ref": "https://missing.test/x"}, df,
                          retrieve=boom)
    with pytest.raises(SchemaCompileError, match="unresolvable"):
        CompiledValidator({"$ref": "https://missing.test/x"}, df,
                          retrieve=lambda uri: None)
    # no hook at all: unchanged behavior
    with pytest.raises(SchemaCompileError, match="unresolvable"):
        CompiledValidator({"$ref": "https://missing.test/x"}, df)


def test_python_literal_operands_build_the_same_predicates(spark):
    """The keyword compilers hand Python literals straight to expression
    operators; the rendered text types them as ``F.lit`` would, so every
    predicate analyzes to exactly the Catalyst expression the Column
    operators build."""
    import pyspark.sql.types as T

    from jsonschema_spark.compiler.context import CompileContext
    from jsonschema_spark.compiler.keywords import (_numeric_kw,
                                                    c_multiple_of,
                                                    typed_literal_eq)
    from jsonschema_spark.compiler.registry import default_registry

    df = spark.createDataFrame([(1,)], "x int")

    def analyzed(c):
        return (df.select(c.alias("p"))._jdf.queryExecution().analyzed()
                .expressions().head().child().sql())

    def same(e, want):
        assert analyzed(sql.column(e)) == analyzed(want), str(e)

    x, sx = F.col("x"), sql.col("x")
    for value in (5, 2 ** 40, 0.5, -3.25):
        for op in (lambda c, v: c >= v, lambda c, v: c < v,
                   lambda c, v: c % v, lambda c, v: c == v):
            same(op(sx, value), op(x, F.lit(value)))

    def ctx_for(dtype):
        return CompileContext(registry=default_registry(), target=sx,
                              dtype=dtype)

    same(_numeric_kw(ctx_for(T.DoubleType()), "minimum", 5,
                     lambda c, v: c >= v).checks[0].pred, x >= F.lit(5))
    same(c_multiple_of(ctx_for(T.IntegerType()), 3, {}).checks[0].pred,
         (x % F.lit(3)) == 0)
    q = x.cast("double") / F.lit(0.5)
    same(c_multiple_of(ctx_for(T.DoubleType()), 0.5, {}).checks[0].pred,
         ((q % F.lit(1.0)) == 0.0) | ((x.cast("double") % F.lit(0.5)) == 0.0))
    for dtype, v, want in (
            (T.StringType(), "a", x == F.lit("a")),
            (T.BooleanType(), True, x == F.lit(True)),
            (T.LongType(), 7, x == F.lit(7)),
            (T.DoubleType(), 7, x.cast("double") == F.lit(7.0))):
        same(typed_literal_eq(sx, dtype, v), x.isNotNull() & want)


def _wide_ref_contract(ncols: int):
    """`ncols` columns, each reaching its rules through ``$ref``."""
    defs = {
        "code": {"type": "string", "pattern": "^[A-Z]{2}[0-9]{3}$"},
        "pct": {"type": "number", "minimum": 0, "maximum": 100,
                "multipleOf": 0.5},
        "level": {"enum": ["low", "mid", "high"],
                  "not": {"enum": ["mid"]}},
        "qty": {"type": "integer", "if": {"minimum": 500},
                "then": {"multipleOf": 2}},
        "tag": {"type": "string", "minLength": 2, "maxLength": 8},
    }
    i = F.col("id")
    exprs = {
        "code": F.when(i == 5, "bad").otherwise("AB123"),
        "pct": F.when(i == 4, 101.0).otherwise(i * 0.5),
        "level": F.element_at(F.array(*map(F.lit, ["low", "mid", "high"])),
                              (i % 3 + 1).cast("int")),
        "qty": F.when(i == 3, 601).otherwise(i * 200).cast("int"),
        "tag": F.when(i == 2, F.lit(None)).otherwise("tag"),
    }
    kinds = list(defs)
    cols = [(f"c{n:03d}", kinds[n % len(kinds)]) for n in range(ncols)]
    contract = {"$defs": defs, "type": "object",
                "required": [c for c, k in cols if k == "tag"],
                "properties": {c: {"$ref": f"#/$defs/{k}"}
                               for c, k in cols}}
    return contract, [exprs[k].alias(c) for c, k in cols]


def test_violation_rows_of_a_ref_contract(spark):
    """Violation rows of the 60-column ``$ref`` contract: one per failed
    check, with the message and failing value of the offending cell."""
    contract, cols = _wide_ref_contract(60)
    df = spark.range(6).select("id", *cols)
    v = CompiledValidator(contract, df)
    assert len(v.checks) >= 60
    assert v.counts(df) == (1, 5)
    assert v.valid_column is v.valid_column
    rows = v.violations(df, ["id"]).collect()
    assert sorted({r["id"] for r in rows}) == [1, 2, 3, 4, 5]
    assert {r["message"] for r in rows if r["keyword"] == "multipleOf"} \
        == {"601 is not a multiple of 2"}


def test_compile_and_counts_round_trip_budget(spark, monkeypatch):
    """Compiling a contract and counting it cost a small number of py4j
    round trips that does not grow with the contract: the compile builds
    SQL text in Python, and each validator output crosses to the JVM as
    one expression.  py4j's detach commands are not counted: they
    release references the set-up dropped, whenever the finalizer runs."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def recording(command, *a, **kw):
        sent.append(command)
        return send(command, *a, **kw)
    monkeypatch.setattr(client, "send_command", recording)
    calls = {}
    for ncols in (60, 240):
        contract, cols = _wide_ref_contract(ncols)
        df = spark.range(6).select("id", *cols)
        df.schema  # noqa: B018 — fetch the cached schema outside the count
        sent.clear()
        v = CompiledValidator(contract, df)
        assert not sent, "compiling made a JVM call"
        assert v.counts(df) == (1, 5)
        calls[ncols] = len([c for c in sent if not c.startswith("m\nd\n")])
    assert calls[60] == calls[240] <= 60, calls


#: unevaluated* over every sibling applicator the tracking walks follow
#: ($ref, allOf/anyOf/oneOf, if/then/else, dependentSchemas, ...): the
#: official suite files that cover them need the external corpus
UNEVALUATED = [
    ("o", {"properties": {"a": {}}, "unevaluatedProperties": False}),
    ("o", {"allOf": [{"properties": {"a": {}}}],
           "anyOf": [{"properties": {"b": {"type": "string"}}},
                     {"properties": {"c": {"minimum": 5}}}],
           "unevaluatedProperties": False}),
    ("o", {"if": {"properties": {"a": {"minimum": 1}}},
           "then": {"properties": {"b": {}}},
           "else": {"properties": {"c": {}}},
           "unevaluatedProperties": False}),
    ("o", {"dependentSchemas": {"a": {"properties": {"b": {}}}},
           "properties": {"a": {}},
           "unevaluatedProperties": {"type": "integer"}}),
    ("o", {"$ref": "#/$defs/ab", "unevaluatedProperties": False}),
    ("o", {"patternProperties": {"^[ab]$": {}},
           "unevaluatedProperties": False}),
    ("o", {"oneOf": [{"properties": {"a": {"minimum": 1}}},
                     {"properties": {"c": {}}}],
           "unevaluatedProperties": False}),
    ("o", {"anyOf": [{"additionalProperties": {"type": "integer"}},
                     {"properties": {"b": {}}}],
           "unevaluatedProperties": False}),
    ("arr", {"prefixItems": [{}], "unevaluatedItems": False}),
    ("arr", {"prefixItems": [{}], "unevaluatedItems": {"minimum": 2}}),
    ("arr", {"contains": {"minimum": 5}, "unevaluatedItems": False}),
    ("arr", {"anyOf": [{"prefixItems": [{}, {}]},
                       {"items": {"minimum": 3}}],
             "unevaluatedItems": False}),
    ("arr", {"if": {"prefixItems": [{"minimum": 1}]},
             "then": {"prefixItems": [{}, {}]},
             "else": {"contains": {"minimum": 9}},
             "unevaluatedItems": False}),
    ("arr", {"allOf": [{"$ref": "#/$defs/p1"}], "unevaluatedItems": False}),
    ("arr", {"oneOf": [{"prefixItems": [{"minimum": 3}]},
                       {"contains": {"maximum": 0}}],
             "unevaluatedItems": False}),
]


def test_unevaluated_keywords_match_reference(spark):
    """Per-row verdicts of unevaluatedProperties/unevaluatedItems equal
    the installed reference's, NULL struct fields read as absent."""
    import jsonschema

    objs = [{"a": 1, "b": "x", "c": 7}, {"a": 0, "b": None, "c": 3},
            {"a": None, "b": "y", "c": None}, {"a": 2, "b": None, "c": None},
            None, {"a": 1, "b": None, "c": 9}, {"a": 1, "b": "x", "c": 7}]
    arrs = [[1], [1, 2], [5, 1, 2], [3, 4], [], None, [9, 0, 9]]
    rows = [(i, None if o is None else (o["a"], o["b"], o["c"]), a)
            for i, (o, a) in enumerate(zip(objs, arrs))]
    ddl = "_i int, o struct<a:int,b:string,c:int>, arr array<int>"
    insts = [{k: v for k, v in (("o", None if o is None else {
                 f: x for f, x in o.items() if x is not None}),
                 ("arr", a)) if v is not None}
             for o, a in zip(objs, arrs)]
    defs = {"ab": {"properties": {"a": {}, "b": {}}},
            "p1": {"prefixItems": [{}]}}
    for col, sub in UNEVALUATED:
        schema = {"$defs": defs, "properties": {col: sub}}
        ref = jsonschema.Draft202012Validator(schema)
        assert _valid_flags(spark, ddl, rows, schema) \
            == [ref.is_valid(i) for i in insts], sub


@pytest.mark.parametrize("uri", [
    "http://json-schema.org/draft-04/schema",
    "http://json-schema.org/draft-04/schema#",
    "http://json-schema.org/draft-07/schema",
    "http://json-schema.org/draft-07/schema#",
    "https://json-schema.org/draft/2019-09/schema",
    "https://json-schema.org/draft/2019-09/schema#"])
def test_schema_uri_spellings_pick_the_reference_draft(spark, uri):
    """`$schema` with or without the trailing `#` picks the draft the
    reference's validator_for picks: draft-04 and draft-07 ignore a
    `$ref`'s siblings, 2019-09 applies them."""
    import jsonschema

    from jsonschema_spark.compiler.legacy import draft_of
    df = spark.createDataFrame([("a",)], "x string")
    schema = {"$schema": uri, "definitions": {"d": {}},
              "properties": {"x": {"$ref": "#/definitions/d",
                                   "maxLength": 0}}}
    cls = jsonschema.validators.validator_for(schema)
    assert draft_of(schema) == {
        "Draft4Validator": "draft4", "Draft7Validator": "draft7",
        "Draft201909Validator": "draft2019-09"}[cls.__name__]
    ok, _ = CompiledValidator(schema, df).counts(df)
    assert (ok == 1) == cls(schema).is_valid({"x": "a"})
