"""Official JSON-Schema-Test-Suite guard: the scalar + applicator +
unevaluated* keyword files must execute with zero failures (skips are
documented data-model deltas, counted but not failures).

Full-suite numbers live in CONFORMANCE.md (tools/run_conformance.py).
The corpus-reading tests skip, naming the missing directory, where the
official suite is not checked out; the committed CONFORMANCE*.md files
keep the recorded results.
"""

import os

import pytest

from jsonschema_spark.conformance import OUTPUT_TESTS_DIR, SUITE_DIR, run_suite


def _needs(path):
    return pytest.mark.skipif(
        not os.path.isdir(path),
        reason=f"official JSON-Schema-Test-Suite directory {path} is "
               f"absent; recorded results are in CONFORMANCE*.md")

FILES = [
    "type.json", "enum.json", "const.json", "minimum.json", "maximum.json",
    "exclusiveMinimum.json", "exclusiveMaximum.json", "multipleOf.json",
    "minLength.json", "maxLength.json", "pattern.json", "required.json",
    "allOf.json", "anyOf.json", "oneOf.json", "not.json",
    "if-then-else.json", "contains.json", "uniqueItems.json",
    "prefixItems.json", "items.json", "boolean_schema.json",
    "unevaluatedItems.json", "unevaluatedProperties.json",
]


@pytest.mark.slow
@_needs(SUITE_DIR)
def test_suite_keyword_files_zero_failures(spark):
    rep = run_suite(spark, "draft2020-12", files=FILES)
    fails = rep.failures()
    assert not fails, [f"{r.file}/{r.case}/{r.test}: {r.reason}"
                       for r in fails[:10]]
    c = rep.counts()
    assert c["pass"] > 500  # the corpus actually executed


@pytest.mark.slow
@_needs(SUITE_DIR)
def test_draft7_legacy_keywords_zero_failures(spark):
    rep = run_suite(spark, "draft7", files=[
        "items.json", "additionalItems.json", "dependencies.json",
        "ref.json", "type.json", "exclusiveMinimum.json",
        "exclusiveMaximum.json"])
    fails = rep.failures()
    assert not fails, [f"{r.file}/{r.case}/{r.test}: {r.reason}"
                       for r in fails[:10]]
    assert rep.counts()["pass"] > 100


@pytest.mark.slow
@_needs(SUITE_DIR)
def test_draft4_boolean_exclusive_zero_failures(spark):
    rep = run_suite(spark, "draft4", files=[
        "minimum.json", "maximum.json", "type.json",
        "dependencies.json"])
    assert not rep.failures()
    assert rep.counts()["pass"] > 40


@_needs(OUTPUT_TESTS_DIR)
def test_output_tests_corpus(spark):
    """VERDICT-r3 #2: the official output-tests content suite (basic
    format) passes 100% for both drafts that define it — the engine's
    standard-output object validates against each test's own output
    schema, including RFC 6901-escaped keywordLocations and readOnly
    annotation units."""
    from jsonschema_spark.conformance import run_output_suite
    for draft in ("draft2020-12", "draft2019-09"):
        rep = run_output_suite(spark, draft)
        c = rep.counts()
        assert c["fail"] == 0, rep.failures()
        assert c["pass"] == 4, c


def test_vocabulary_tables_are_era_aware():
    """Regression (r4): 2019-09 places unevaluatedItems/
    unevaluatedProperties in /vocab/applicator (no /vocab/unevaluated
    before 2020-12); applying the 2020-12 vocabulary table to a
    2019-09 meta-schema silently dropped both keywords."""
    from jsonschema_spark.compiler.legacy import (apply_vocabulary,
                                                  registry_for)
    from jsonschema_spark.conformance import base_resolver
    res = base_resolver("draft2019-09")
    reg = registry_for("draft2019-09")
    schema = {"$schema": "https://json-schema.org/draft/2019-09/schema",
              "unevaluatedItems": False}
    reg2 = apply_vocabulary(reg, schema, res)
    assert reg2.get("unevaluatedItems") is not None
    assert reg2.get("unevaluatedProperties") is not None
    # 2020-12 path unaffected
    res12 = base_resolver("draft2020-12")
    reg12 = apply_vocabulary(
        registry_for("draft2020-12"),
        {"$schema": "https://json-schema.org/draft/2020-12/schema"}, res12)
    assert reg12.get("unevaluatedProperties") is not None


def test_document_mode_union_structs_and_absent_policy(spark):
    """DOCUMENT mode (issue232 mirror, tools/run_issue232.py): arrays
    of objects with differing key sets infer to the field-UNION struct
    and, with absent_policy=True, a NULL member INSIDE an array element
    is absent again (the element scope alone is null_is_absent=False).
    Verdict parity asserted against the installed jsonschema on both
    polarities."""
    import jsonschema
    import pyspark.sql.types as T

    from jsonschema_spark.compiler import sql
    from jsonschema_spark.compiler.context import CompileContext
    from jsonschema_spark.compiler.registry import compile_subschema
    from jsonschema_spark.compiler.legacy import registry_for
    from jsonschema_spark.conformance import (_to_row_value, base_resolver,
                                              infer_spark_type_document)

    schema = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "properties": {"tags": {"type": "array", "items": {
            "type": "object",
            "required": ["name"],
            "properties": {"name": {"type": "string"},
                           "desc": {"type": "string"}},
            "additionalProperties": False}}}}
    good = {"tags": [{"name": "a", "desc": "x"}, {"name": "b"}]}
    bad = {"tags": [{"name": "a"}, {"desc": "orphan"}]}   # missing name
    ref = jsonschema.Draft4Validator(schema)
    assert ref.is_valid(good) and not ref.is_valid(bad)

    dtype = infer_spark_type_document(good)
    names = [f.name for f in dtype["tags"].dataType.elementType.fields]
    assert sorted(names) == ["desc", "name"]      # field union

    resolver = base_resolver("draft4")
    verdicts = []
    for inst in (good, bad):
        row_t = T.StructType([T.StructField("value", dtype, True)])
        df = spark.createDataFrame([(_to_row_value(inst, dtype),)], row_t)
        res = resolver.child()
        root_uri = res.add_root(schema)
        ctx = CompileContext(
            registry=registry_for("draft4"),
            target=sql.col("value"), dtype=dtype, root_schema=schema,
            null_is_absent=True, absent_policy=True,
            resolver=res, base_uri=root_uri, dynamic_scope=(root_uri,))
        node = compile_subschema(ctx, schema)
        verdicts.append(bool(df.select(sql.column(
            sql.coalesce(node.ok, False)).alias("ok")).first()["ok"]))
    assert verdicts == [True, False]

    # explicit nulls stay out of the document data model
    import pytest as _pytest
    from jsonschema_spark.conformance import Unrepresentable
    with _pytest.raises(Unrepresentable):
        infer_spark_type_document({"a": None})
    # genuinely mixed-kind arrays still refuse
    with _pytest.raises(Unrepresentable):
        infer_spark_type_document([1, "x"])
