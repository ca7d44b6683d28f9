"""Keyword registry + the subschema compile loop.

The reference generates validator classes from a ``keyword -> callable``
mapping via ``create()`` (/root/reference/jsonschema/validators.py:136-513)
and supports extension via ``extend()`` (validators.py:516-598).  Ours maps
``keyword -> compiler function`` where a compiler returns a :class:`Node`
of boolean SQL predicates (or ``None`` when the keyword is statically
inapplicable to the bound Spark type — the vectorized analogue of the
reference ignoring e.g. ``minimum`` on a string instance).

Compiler signature::

    fn(ctx: CompileContext, value: Any, schema: dict) -> Node | None
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any, Callable, Optional, Union

from . import sql
from .context import CompileContext, schema_path_join
from .node import Check, Node
from .sql import Expr

CompilerFn = Callable[[CompileContext, Any, dict], Optional[Node]]

#: annotation keywords whose values surface as output units (2020-12
#: core §7.7 / output "basic" format annotation units)
ANNOTATION_VALUE_KEYWORDS = frozenset({
    "title", "description", "default", "deprecated", "readOnly",
    "writeOnly", "examples",
})

#: keywords that are annotations / handled structurally, never compiled
ANNOTATION_KEYWORDS = frozenset({
    "$schema", "$id", "id", "$comment", "$defs", "definitions", "$anchor",
    "$dynamicAnchor", "$recursiveAnchor", "$vocabulary", "title",
    "description", "default",
    "examples", "deprecated", "readOnly", "writeOnly",
    "contentMediaType", "contentEncoding", "contentSchema",
    # handled by sibling compilers, not standalone:
    "then", "else", "minContains", "maxContains",
    # engine extension block (dataset-level checks), handled by runner:
    "x-spark",
})


class KeywordRegistry:
    """Mutable keyword->compiler mapping; ``extend()`` mirrors the
    reference's validator-extension API (validators.py:516-598)."""

    #: pre-2019 drafts drop sibling keywords next to $ref
    ref_ignores_siblings: bool = False
    #: format is annotation-only unless opted in — the reference's
    #: ``format_checker is not None`` gate (_keywords.py:223-228)
    assert_formats: bool = False

    def __init__(self, compilers: Optional[dict[str, CompilerFn]] = None):
        self._compilers: dict[str, CompilerFn] = dict(compilers or {})
        #: custom `type` predicates: name -> fn(ctx) -> Column|None
        #: (None = statically satisfied) — see redefine_type
        self.type_predicates: dict[str, Any] = {}

    def register(self, keyword: str, fn: CompilerFn) -> None:
        self._compilers[keyword] = fn

    def get(self, keyword: str) -> Optional[CompilerFn]:
        return self._compilers.get(keyword)

    def extend(self, compilers: dict[str, CompilerFn]) -> "KeywordRegistry":
        """A copy with `compilers` added or overriding.  An extension
        compiler sees ``ctx.target`` as a PySpark Column, and the checks
        it returns may hold Columns: they are brought into the compiled
        text as the SQL of their expressions (:func:`sql.from_column`).
        A compiler that recurses with :func:`compile_subschema` works on
        the text and is added with :meth:`register` instead."""
        return self._merged({kw: _column_compiler(fn)
                             for kw, fn in compilers.items()})

    def _merged(self, compilers: dict[str, CompilerFn]) -> "KeywordRegistry":
        merged = dict(self._compilers)
        merged.update(compilers)
        out = KeywordRegistry(merged)
        out.ref_ignores_siblings = self.ref_ignores_siblings
        out.assert_formats = self.assert_formats
        out.type_predicates = dict(self.type_predicates)
        return out

    def redefine_type(self, name: str, fn: Any) -> "KeywordRegistry":
        """TypeChecker.redefine analogue (_types.py:122-154): returns a
        copy where JSON type `name` compiles via `fn(ctx) -> Column |
        None` (None = statically satisfied for the bound Spark type).
        `fn` sees ``ctx.target`` as a PySpark Column, and its Column is
        brought into the compiled text as the SQL of its expression.
        Redefining a built-in name overrides it; new names extend the
        vocabulary accepted by `type`."""
        out = self._merged({})
        out.type_predicates[name] = fn
        return out

    def without(self, *keywords: str) -> "KeywordRegistry":
        """Copy minus `keywords` — drafts that predate a keyword must
        *ignore* it (the reference builds each draft class from an
        explicit keyword subset, validators.py:601-857; anything else is
        an unknown keyword and validates nothing)."""
        out = self._merged({})
        for kw in keywords:
            out._compilers.pop(kw, None)
        return out

    def keywords(self) -> set[str]:
        return set(self._compilers)


def _column_compiler(fn: CompilerFn) -> CompilerFn:
    def compile_kw(ctx: CompileContext, value: Any,
                   schema: dict) -> Optional[Node]:
        if ctx.target is not None:
            ctx = replace(ctx, target=sql.column(ctx.target))
        return fn(ctx, value, schema)
    return compile_kw


def fmt_message(ctx: CompileContext, template: str) -> Expr:
    """``format_string(template, stringify(ctx))`` — the standard
    one-value violation message."""
    return sql.format_string(template, stringify(ctx))


def stringify(ctx: CompileContext) -> Expr:
    """Stringified failing value for the violation row."""
    if ctx.target is None:
        return sql.null_string()
    if ctx.is_array() or ctx.is_struct() or ctx.is_map():
        return sql.to_json(ctx.target)
    if ctx.is_binary():
        return sql.base64(ctx.target)
    return ctx.target.cast("string")


#: keywords that judge a JSON null instead of skipping it: every other
#: keyword applies to one instance type only and so passes a null
_NULL_KEYWORDS = frozenset({"type", "enum", "const", "not", "anyOf",
                            "oneOf", "$falseSchema", "$schema", "disallow"})


def guard(ctx: CompileContext, pred: Expr, keyword: str) -> Expr:
    """NULL-at-binding = property absent: every bound check passes on NULL
    (the reference never applies a property subschema to a missing key —
    jsonschema/_keywords.py:290-301 iterates only present properties).
    Array elements set ``null_is_absent=False`` because a JSON null
    *element* is a present null instance: there only `_NULL_KEYWORDS`
    judge it, and every other keyword passes it, as the reference skips
    a keyword whose instance type does not match.  A predicate already
    OR-guarded for the same target (a check that surfaces through a
    ``$ref`` or an applicator at the same binding) is returned as is.
    """
    if ctx.target is None or (not ctx.null_is_absent
                              and keyword in _NULL_KEYWORDS):
        return pred
    absent = ctx.target.isNull()
    if pred.op == "OR" and any(t.text == absent.text for t in pred.terms):
        return pred
    return absent | pred


def type_match_column(ctx: CompileContext, schema: Any) -> Expr:
    """``ValidationError._matches_type()`` (exceptions.py:184-197) as a
    compile-time expression: True when `schema`'s ``type`` matches the
    runtime JSON type of the bound instance.  No ``type`` keyword (or a
    non-string form) folds to False, mirroring the reference's
    KeyError/TypeError -> False.  NULL targets match only a declared
    "null" type (array-element scope); absent-property NULLs never
    surface because their checks are guard-passed."""
    expected = schema.get("type") if isinstance(schema, dict) else None
    if not isinstance(expected, (str, list)):
        return sql.lit(False)
    types = [expected] if isinstance(expected, str) else expected
    if ctx.target is None:  # row scope: the instance is an object
        return sql.lit(any(t in ("object", "any")
                           for t in types if isinstance(t, str)))
    from .keywords import _type_pred_for
    preds: list[Expr] = []
    static = False
    for t in types:
        if not isinstance(t, str):  # draft3 type-as-schema entries
            continue
        try:
            p = _type_pred_for(ctx, t)
        except SchemaCompileError:
            continue
        if p is None:
            static = True  # non-null values of this Spark type match
        else:
            preds.append(p)
    if static:
        preds.insert(0, ctx.target.isNotNull())
    return sql.coalesce(sql.any_of(preds), False) if preds else sql.lit(False)


def compile_subschema(ctx: CompileContext, schema: Any) -> Node:
    """Compile one (sub)schema against the bound target expression.

    Boolean schemas short-circuit like the reference
    (validators.py:369-379): ``True`` accepts everything, ``False``
    rejects any *present* instance.
    """
    if schema is True or schema == {}:
        return Node()
    if schema is False:
        n = Node()
        pred = sql.lit(False)
        n.checks.append(Check(
            keyword="$falseSchema", json_path=ctx.json_path,
            schema_path=ctx.schema_path or "$falseSchema",
            pred=guard(ctx, pred, "$falseSchema"),
            message=sql.lit("False schema does not allow any value"),
            failing_value=stringify(ctx),
        ))
        return n
    if not isinstance(schema, dict):
        raise SchemaCompileError(
            f"schema at {ctx.schema_path or '<root>'} must be a dict or bool, "
            f"got {type(schema).__name__}")

    # $id-embedded resource entry: rebase refs and extend the dynamic
    # scope (the compile-time image of validators.py:1070-1095's
    # resolver.in_scope / descend push).
    if ctx.resolver is not None:
        nb = ctx.resolver.node_base.get(id(schema))
        if nb is not None and nb != ctx.base_uri:
            ctx = ctx.child()
            ctx.base_uri = nb
            ctx.dynamic_scope = ctx.dynamic_scope + (nb,)
            # a referenced resource declaring a different $schema is
            # processed under that draft's keyword semantics — the
            # reference gets this from referencing's per-resource
            # specification (suite optional/cross-draft.json)
            root = ctx.resolver.documents.get(nb)
            if isinstance(root, dict):
                from .legacy import draft_named, registry_for
                draft = draft_named(root.get("$schema"))
                if draft:
                    reg2 = registry_for(draft)._merged({})
                    reg2.assert_formats = ctx.registry.assert_formats
                    ctx.registry = reg2

    # pre-2019 drafts ignore $ref siblings (_legacy_keywords.py:9-21,
    # applicable_validators wiring at validators.py:632-760); 2020-12
    # evaluates them alongside.  Profile registries set the flag.
    if "$ref" in schema and getattr(ctx.registry, "ref_ignores_siblings",
                                    False):
        schema = {"$ref": schema["$ref"]}
    out = Node()

    for keyword, value in schema.items():
        fn = ctx.registry.get(keyword)
        if fn is None:
            if keyword in ANNOTATION_KEYWORDS:
                continue
            # unknown keywords are ignored by the reference (filtered at
            # precompile, validators.py:293-297); we warn once.
            ctx.warn(f"unknown keyword {keyword!r} ignored")
            continue
        node = fn(ctx.child(schema_fragment=None), value, schema)
        if node is None:
            continue
        for chk in node.checks + node.context:
            # an extension's Columns become text
            chk.pred, chk.message, chk.failing_value = map(
                sql.lit, (chk.pred, chk.message, chk.failing_value))
            if not chk.skip_null_guard:
                chk.pred = guard(ctx, chk.pred, chk.keyword)
        out.checks.extend(node.checks)
        out.context.extend(node.context)
    # _matches_type annotation (exceptions.py:184-197,421): checks
    # surfacing at THIS level have error.schema == `schema`; descendant
    # checks were annotated at their own level (type_match already set)
    unmatched = [c for c in out.checks + out.context if c.type_match is None]
    if unmatched:
        tm = type_match_column(ctx, schema)
        for chk in unmatched:
            chk.type_match = tm

    # annotation keywords produce output units (2020-12 "basic" format)
    # when the owning subschema successfully applies to a present
    # instance — collected compile-time into ctx.annotations
    present = set(schema) & ANNOTATION_VALUE_KEYWORDS
    if present:
        from .node import AnnotationUnit
        applies = out.ok
        if ctx.target is not None and ctx.null_is_absent:
            applies = ctx.target.isNotNull() & applies
        for kw in sorted(present):
            ctx.annotations.append(AnnotationUnit(
                keyword=kw, json_path=ctx.json_path,
                schema_path=schema_path_join(ctx.schema_path, kw),
                value=schema[kw], pred=applies))
    return out


def make_check(ctx: CompileContext, keyword: str, pred: Expr,
               message: Union[Expr, str],
               schema_suffix: Optional[str] = None) -> Node:
    """A one-check Node.  `message` is an expression such as
    ``fmt_message(ctx, template)`` or a plain string (a literal
    message)."""
    n = Node()
    sp = schema_path_join(ctx.schema_path, schema_suffix or keyword)
    n.checks.append(Check(
        keyword=keyword, json_path=ctx.json_path, schema_path=sp,
        pred=pred, message=sql.lit(message), failing_value=stringify(ctx),
    ))
    return n


class SchemaCompileError(ValueError):
    """Engine analogue of the reference's ``SchemaError``
    (/root/reference/jsonschema/exceptions.py:209-215)."""


_DEFAULT: Optional[KeywordRegistry] = None


def default_registry() -> KeywordRegistry:
    """The draft-2020-12 profile registry (built lazily)."""
    global _DEFAULT
    if _DEFAULT is None:
        from . import applicators, keywords  # circular-safe: late import
        reg = KeywordRegistry()
        keywords.register_all(reg)
        applicators.register_all(reg)
        # $recursiveRef is 2019-09 only (validators.py:812-857 has no
        # entry for it); `dependencies` is supported as the optional
        # compatibility keyword (suite
        # optional/dependencies-compatibility.json — a superset of the
        # reference, which ignores it)
        from .legacy import c_dependencies
        reg.register("dependencies", c_dependencies)
        _DEFAULT = reg.without("$recursiveRef")
    return _DEFAULT
