"""Assertion keywords — scalar predicates over one bound expression.

Semantics follow /root/reference/jsonschema/_keywords.py (draft 2020-12):
each keyword applies only when the instance has the relevant JSON type
(e.g. ``minimum`` ignores non-numbers, _keywords.py:149-155).  With a
statically-typed Spark column that type gating happens at compile time:
a compiler returns ``None`` when the keyword can never apply to the bound
Spark type, so no runtime cost is paid.
"""

from __future__ import annotations

import math
import operator
from dataclasses import replace
from typing import Any, Optional

from pyspark.sql import types as T

from . import sql as F
from .context import CompileContext
from .node import Node
from .registry import (KeywordRegistry, SchemaCompileError, fmt_message,
                       make_check)
from .sql import Expr
from ..functions.regex import compile_pattern_predicate
from ..functions.formats import format_predicate

_JSON_TYPES = {"object", "array", "string", "integer", "number", "boolean",
               "null", "any"}


def _row_scope(ctx: CompileContext) -> bool:
    return ctx.target is None


# ---------------------------------------------------------------- type ----

def _type_pred_for(ctx: CompileContext, t: str) -> Optional[Expr]:
    """Predicate for one JSON type name against the bound Spark type.

    Returns ``None`` for a statically-guaranteed match (no runtime check
    needed), or an expression, or ``F.lit(False)`` for a static mismatch.
    bool-is-not-int per _types.py:34-38; draft6+ integer-valued floats per
    _types.py:195-201.  Registry-level redefinitions
    (``KeywordRegistry.redefine_type``, the TypeChecker.redefine
    analogue, _types.py:122-154) take precedence.
    """
    c = ctx.target
    override = getattr(ctx.registry, "type_predicates", {}).get(t)
    if override is not None:
        # the callback builds PySpark Columns over a Column target
        p = override(replace(ctx, target=F.column(c)))
        return p if p is None or isinstance(p, Expr) else F.from_column(p)
    if t == "any":
        return None
    if t == "null":
        return c.isNull()
    if t == "string":
        return None if ctx.is_string() else F.lit(False)
    if t == "boolean":
        return None if ctx.is_boolean() else F.lit(False)
    if t == "integer":
        if ctx.is_integral():
            return None
        if ctx.is_numeric():  # float/double/decimal: zero fractional part
            # modulo stays in the double domain (floor() returns BIGINT
            # and overflows beyond int64 — 1e308 IS a draft6+ integer)
            return (c.cast("double") % 1.0) == 0.0
        return F.lit(False)
    if t == "number":
        return None if ctx.is_numeric() else F.lit(False)
    if t == "array":
        return None if ctx.is_array() else F.lit(False)
    if t == "object":
        return None if (ctx.is_struct() or ctx.is_map()) \
            else F.lit(False)
    raise SchemaCompileError(f"unknown type {t!r}")


def c_type(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`type` (_keywords.py:282-287)."""
    types = value if isinstance(value, list) else [value]
    known = _JSON_TYPES | set(getattr(ctx.registry, "type_predicates", {}))
    bad = [t for t in types if t not in known]
    if bad:
        raise SchemaCompileError(f"invalid type value(s) {bad}")
    if _row_scope(ctx):
        # a row is always an object instance
        if "object" in types or "any" in types:
            return None
        return make_check(ctx, "type", F.lit(False),
                          f"row is not of type {types}")
    preds = [_type_pred_for(ctx, t) for t in types]
    if any(p is None for p in preds):  # statically satisfied by some type
        # non-null values of this Spark type always satisfy; NULL handling
        # is the binding guard's job (absent) or fails for array elements.
        if not ctx.null_is_absent and "null" not in types:
            return make_check(ctx, "type", ctx.target.isNotNull(),
                              f"None is not of type {_fmt_types(types)}")
        return None
    pred = preds[0]
    for p in preds[1:]:
        pred = pred | p
    if not ctx.null_is_absent and "null" not in types:
        pred = ctx.target.isNotNull() & pred
    template = "%s is not of type " + _fmt_types(types).replace("%", "%%")
    if all(_is_static_false(p) for p in preds):
        ctx.warn(f"type {types} can never match Spark type "
                 f"{ctx.dtype.simpleString() if ctx.dtype else '?'}")
    return make_check(ctx, "type", pred,
                      fmt_message(ctx, template))


def _fmt_types(types: list[str]) -> str:
    return ", ".join(f"'{t}'" for t in types)


def _is_static_false(p: Optional[Expr]) -> bool:
    return p is not None and p.text == "false"


# ------------------------------------------------------------ enum/const --

def typed_literal_eq(c: Expr, dtype: Optional[T.DataType],
                     v: Any) -> Expr:
    """Structural equality of a typed expression against a JSON literal,
    per the reference's ``equal`` (_utils.py:133-148): bool is never
    equal to 0/1, numeric equality is mathematical (1 == 1.0), object
    equality is key-order-insensitive, absent member == NULL field.
    Static type mismatches fold to ``lit(False)`` ("can never equal").
    """
    def never() -> Expr:
        return F.lit(False)

    if v is None:
        return c.isNull()
    present = c.isNotNull()
    if isinstance(v, bool):
        if not isinstance(dtype, T.BooleanType):
            return never()
        return present & (c == v)
    if isinstance(v, (int, float)):
        if not isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                                  T.LongType, T.FloatType, T.DoubleType,
                                  T.DecimalType)):
            return never()
        if isinstance(v, int) and isinstance(dtype, (T.ByteType, T.ShortType,
                                                     T.IntegerType, T.LongType)):
            return present & (c == v)
        if not _may_equal_float(dtype, v):
            return never()
        return present & (c.cast("double") == float(v))
    if isinstance(v, str):
        if not isinstance(dtype, T.StringType):
            return never()
        return present & (c == v)
    if isinstance(v, list):
        if not isinstance(dtype, T.ArrayType):
            return never()
        pred = present & (F.size(c) == len(v))
        for i, e in enumerate(v):
            pred = pred & typed_literal_eq(
                F.element_at(c, i + 1), dtype.elementType, e)
        return pred
    if isinstance(v, dict):
        if isinstance(dtype, T.StructType):
            names = {f.name: f.dataType for f in dtype.fields}
            pred = present
            for k, val in v.items():
                if k not in names:
                    return never()
                pred = pred & typed_literal_eq(c.getField(k), names[k], val)
            for f in dtype.fields:      # extra non-null field -> not equal
                if f.name not in v:
                    pred = pred & c.getField(f.name).isNull()
            return pred
        if isinstance(dtype, T.MapType):
            pred = present & (F.size(c) == len(v))
            for k, val in v.items():
                pred = pred & typed_literal_eq(
                    F.element_at(c, F.lit(k)), dtype.valueType, val)
            return pred
        return never()
    return never()


def _doubles_around(v: int) -> tuple[float, float]:
    """The greatest double <= `v` and the least double >= `v` (one
    double when `v` is exact, an infinity past the largest finite one)."""
    try:
        f = float(v)
    except OverflowError:
        f = math.inf if v > 0 else -math.inf
    if f == v:
        return f, f
    return ((f, math.nextafter(f, math.inf)) if f < v
            else (math.nextafter(f, -math.inf), f))


def _may_equal_float(dtype: Optional[T.DataType], v: Any) -> bool:
    """False for an integer no FLOAT/DOUBLE value equals: the reference
    compares ints with floats exactly, where Spark would first round the
    integer to a double."""
    return not (isinstance(v, int)
                and isinstance(dtype, (T.FloatType, T.DoubleType))
                and len(set(_doubles_around(v))) > 1)


def _literal_eq(ctx: CompileContext, v: Any) -> Optional[Expr]:
    """Typed equality of the bound target against a literal; None when
    the literal can never equal a value of the bound Spark type (dropped
    from enum disjunctions — same truth value as lit(False))."""
    pred = typed_literal_eq(ctx.target, ctx.dtype, v)
    if _is_static_false(pred):
        return None
    return pred


def _scalar_isin_values(ctx: CompileContext, value: list) -> Optional[list]:
    """Values compatible with one `isin` call on the bound scalar type,
    or None when the structural path is required.  bool/number literal
    partitioning preserves the reference's `equal` semantics because the
    column's Spark type already excludes cross-type equality."""
    out = []
    for v in value:
        if v is None or isinstance(v, (list, dict)):
            return None
        if isinstance(v, bool):
            if not ctx.is_boolean():
                continue  # can never equal; drop from the disjunction
        elif isinstance(v, (int, float)):
            if not ctx.is_numeric() or not _may_equal_float(ctx.dtype, v):
                continue
        elif isinstance(v, str):
            if not ctx.is_string():
                continue
        else:
            return None
        out.append(v)
    return out


def c_enum(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`enum` (_keywords.py:269-271): scalar enums compile to ONE
    `isin` (one hash lookup regardless of enum size — the
    const-vs-enum guard); structural members fall back to
    typed equality."""
    if _row_scope(ctx):
        ctx.warn("enum at row scope unsupported; ignored")
        return None
    scalars = _scalar_isin_values(ctx, value)
    if scalars is not None:
        pred = ctx.target.isin(*scalars) if scalars else F.lit(False)
        if scalars and not ctx.null_is_absent:
            # a null element is present and no scalar member equals it
            pred = F.coalesce(pred, F.lit(False))
    else:
        eqs = [e for e in (_literal_eq(ctx, v) for v in value)
               if e is not None]
        if not eqs:
            pred = F.lit(False)
        else:
            pred = eqs[0]
            for e in eqs[1:]:
                pred = pred | e
    return make_check(ctx, "enum", pred, fmt_message(
        ctx, "%s is not one of the permitted values"))


def c_const(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`const` (_keywords.py:85-87)."""
    if _row_scope(ctx):
        ctx.warn("const at row scope unsupported; ignored")
        return None
    eq = _literal_eq(ctx, value)
    pred = eq if eq is not None else F.lit(False)
    return make_check(ctx, "const", pred, fmt_message(
        ctx, "%s was expected to equal the const value"))


# ------------------------------------------------------------- numerics ---

def _numeric_kw(ctx: CompileContext, keyword: str, value: Any,
                op) -> Optional[Node]:
    if _row_scope(ctx) or not ctx.is_numeric():
        return None  # non-numbers ignored (_keywords.py:149-164)
    if not isinstance(value, (int, float)) or isinstance(value, bool):
        raise SchemaCompileError(f"{keyword} value must be a number")
    bound = value
    if not _may_equal_float(ctx.dtype, value):
        # compare exactly where Spark would round `value` to a double:
        # x >= v and x < v against the least double >= v, x > v and
        # x <= v against the greatest double <= v
        below, above = _doubles_around(value)
        bound = above if op in (operator.ge, operator.lt) else below
    pred = op(ctx.target, bound)
    return make_check(ctx, keyword, pred, fmt_message(
        ctx, f"%s violates {keyword} {value}"))


def c_minimum(ctx, value, schema):
    """`minimum` (_keywords.py:158-164)."""
    return _numeric_kw(ctx, "minimum", value, operator.ge)


def c_maximum(ctx, value, schema):
    """`maximum` (_keywords.py:149-155)."""
    return _numeric_kw(ctx, "maximum", value, operator.le)


def c_exclusive_minimum(ctx, value, schema):
    """`exclusiveMinimum` (_keywords.py:127-135)."""
    return _numeric_kw(ctx, "exclusiveMinimum", value, operator.gt)


def c_exclusive_maximum(ctx, value, schema):
    """`exclusiveMaximum` (_keywords.py:138-146)."""
    return _numeric_kw(ctx, "exclusiveMaximum", value, operator.lt)


def c_multiple_of(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`multipleOf` (_keywords.py:167-191).

    Integer divisor over integral column -> exact modulo.  Float divisor
    mirrors the reference's float fast path (``quotient = instance / dB;
    int(quotient) == quotient``): IEEE-754 double division on both sides,
    so results agree bit-for-bit with CPython.
    """
    if _row_scope(ctx) or not ctx.is_numeric():
        return None
    if not isinstance(value, (int, float)) or isinstance(value, bool) or value <= 0:
        raise SchemaCompileError("multipleOf value must be a positive number")
    c = ctx.target
    if ctx.is_integral() and isinstance(value, int):
        pred = (c % value) == 0
    else:
        q = c.cast("double") / float(value)
        # quotient-integrality fast path (reference _keywords.py:171-180,
        # via double-domain modulo — floor() overflows past int64)
        # OR exact-zero remainder — covers the overflow case (q = inf)
        # where the reference falls back to Fraction (:181-186).  The
        # remainder disjunct IS the Fraction check: IEEE fmod (Spark's
        # double `%`) is computed exactly, so fmod(x, dB) == 0 iff
        # (Fraction(x)/Fraction(dB)).denominator == 1 — proven bit-equal
        # by the float-boundary differential fuzz
        # (tests/test_property_differential.py, 0/612k disagreements)
        pred = ((q % 1.0) == 0.0) \
            | ((c.cast("double") % float(value)) == 0.0)
    return make_check(ctx, "multipleOf", pred, fmt_message(
        ctx, f"%s is not a multiple of {value}"))


# --------------------------------------------------------------- strings --

def c_min_length(ctx: CompileContext, value, schema) -> Optional[Node]:
    """`minLength` (_keywords.py:231-234). Spark length() = codepoints."""
    if _row_scope(ctx) or not ctx.is_string():
        return None
    return make_check(ctx, "minLength", F.length(ctx.target) >= int(value),
                      fmt_message(ctx, "%s is too short"))


def c_max_length(ctx: CompileContext, value, schema) -> Optional[Node]:
    """`maxLength` (_keywords.py:237-240)."""
    if _row_scope(ctx) or not ctx.is_string():
        return None
    return make_check(ctx, "maxLength", F.length(ctx.target) <= int(value),
                      fmt_message(ctx, "%s is too long"))


def c_pattern(ctx: CompileContext, value, schema) -> Optional[Node]:
    """`pattern` — unanchored ``re.search`` (_keywords.py:215-220).

    Safe subset compiles to native ``rlike`` (Java regex find(), also
    unanchored); dialect-divergent patterns fall back to an Arrow-batched
    pandas UDF wrapping ``re.search``.
    """
    if _row_scope(ctx) or not ctx.is_string():
        return None
    pred = compile_pattern_predicate(ctx.target, value, warn=ctx.warn)
    template = "%s does not match " + value.replace("%", "%%")
    return make_check(ctx, "pattern", pred,
                      fmt_message(ctx, template))


def c_format(ctx: CompileContext, value, schema) -> Optional[Node]:
    """`format` (_keywords.py:223-228 + _format.py:112-143).

    Annotation-only by default, exactly like the reference: format is
    asserted only when a format checker is opted in
    (_keywords.py:224 ``if format_checker is not None``) — via
    ``CompiledValidator(..., format_checker=True)`` or a registry with
    ``assert_formats=True``.  Unknown formats always pass
    (_format.py:133-134); non-strings pass.
    """
    if not getattr(ctx.registry, "assert_formats", False):
        return None
    if _row_scope(ctx) or not ctx.is_string():
        return None
    pred = format_predicate(ctx.target, value)
    if pred is None:
        return None
    template = "%s is not a " + str(value).replace("%", "%%")
    return make_check(ctx, "format", pred,
                      fmt_message(ctx, template))


# ------------------------------------------------------- object keywords --

def _row_field_names(ctx: CompileContext) -> list[str]:
    if ctx.row_fields is None:
        return []
    return [f.name for f in ctx.row_fields]


def _member(ctx: CompileContext, name: str) -> Optional[Expr]:
    """Expression for object member `name`, or None if statically
    absent (flat table without that column)."""
    if _row_scope(ctx):
        return ctx.member(name) if name in _row_field_names(ctx) else None
    if ctx.is_struct():
        names = [f.name for f in ctx.dtype.fields]
        return ctx.target.getField(name) if name in names else None
    if ctx.is_map():
        return F.element_at(ctx.target, F.lit(name))
    return None


def c_required(ctx: CompileContext, value, schema) -> Optional[Node]:
    """`required` (_keywords.py:304-309): absent == NULL in a table."""
    if not (_row_scope(ctx) or ctx.is_struct() or ctx.is_map()):
        return None
    out = Node()
    for name in value:
        m = _member(ctx, name)
        pred = F.lit(False) if m is None else m.isNotNull()
        if m is None:
            ctx.warn(f"required property {name!r} not in schema — always fails")
        sub = make_check(ctx, "required", pred,
                         f"'{name}' is a required property")
        sub.checks[0].failing_value = F.null_string()
        out.checks.extend(sub.checks)
    return out


def c_dependent_required(ctx: CompileContext, value, schema) -> Optional[Node]:
    """`dependentRequired` (_keywords.py:243-254)."""
    if not (_row_scope(ctx) or ctx.is_struct() or ctx.is_map()):
        return None
    out = Node()
    for prop, deps in value.items():
        p = _member(ctx, prop)
        if p is None:
            continue  # trigger property statically absent -> vacuous
        for dep in deps:
            d = _member(ctx, dep)
            dep_present = F.lit(False) if d is None else d.isNotNull()
            pred = p.isNull() | dep_present
            sub = make_check(ctx, "dependentRequired", pred,
                             f"'{dep}' is a dependency of '{prop}'")
            out.checks.extend(sub.checks)
    return out


def _property_count(ctx: CompileContext) -> Optional[Expr]:
    if _row_scope(ctx):
        names = _row_field_names(ctx)
        if not names:
            return None
        return sum((ctx.member(n).isNotNull().cast("int") for n in names),
                   F.lit(0))
    if ctx.is_map():
        return F.size(F.map_keys(ctx.target))
    if ctx.is_struct():
        return sum((ctx.target.getField(f.name).isNotNull().cast("int")
                    for f in ctx.dtype.fields), F.lit(0))
    return None


def c_min_properties(ctx, value, schema) -> Optional[Node]:
    """`minProperties` (_keywords.py:312-318)."""
    n = _property_count(ctx)
    if n is None:
        return None
    return make_check(ctx, "minProperties", n >= int(value),
                      f"object does not have enough properties (< {value})")


def c_max_properties(ctx, value, schema) -> Optional[Node]:
    """`maxProperties` (_keywords.py:321-329)."""
    n = _property_count(ctx)
    if n is None:
        return None
    return make_check(ctx, "maxProperties", n <= int(value),
                      f"object has too many properties (> {value})")


# -------------------------------------------------------- array keywords --

def c_min_items(ctx, value, schema) -> Optional[Node]:
    """`minItems` (_keywords.py:194-197)."""
    if _row_scope(ctx) or not ctx.is_array():
        return None
    return make_check(ctx, "minItems", F.size(ctx.target) >= int(value),
                      fmt_message(ctx, "%s is too short"))


def c_max_items(ctx, value, schema) -> Optional[Node]:
    """`maxItems` (_keywords.py:200-203)."""
    if _row_scope(ctx) or not ctx.is_array():
        return None
    return make_check(ctx, "maxItems", F.size(ctx.target) <= int(value),
                      fmt_message(ctx, "%s is too long"))


def c_unique_items(ctx: CompileContext, value, schema) -> Optional[Node]:
    """`uniqueItems` (_keywords.py:206-212, equality per _utils.py:162-237).

    Typed arrays make bool-vs-int confusion impossible; Spark's
    ``array_distinct`` hashes natively (the reference's fast path).
    """
    if _row_scope(ctx) or not ctx.is_array() or value is not True:
        return None
    c = ctx.target
    pred = F.size(c) == F.size(F.array_distinct(c))
    return make_check(ctx, "uniqueItems", pred,
                      fmt_message(ctx, "%s has non-unique elements"))


def register_all(reg: KeywordRegistry) -> None:
    reg.register("type", c_type)
    reg.register("enum", c_enum)
    reg.register("const", c_const)
    reg.register("minimum", c_minimum)
    reg.register("maximum", c_maximum)
    reg.register("exclusiveMinimum", c_exclusive_minimum)
    reg.register("exclusiveMaximum", c_exclusive_maximum)
    reg.register("multipleOf", c_multiple_of)
    reg.register("minLength", c_min_length)
    reg.register("maxLength", c_max_length)
    reg.register("pattern", c_pattern)
    reg.register("format", c_format)
    reg.register("required", c_required)
    reg.register("dependentRequired", c_dependent_required)
    reg.register("minProperties", c_min_properties)
    reg.register("maxProperties", c_max_properties)
    reg.register("minItems", c_min_items)
    reg.register("maxItems", c_max_items)
    reg.register("uniqueItems", c_unique_items)
