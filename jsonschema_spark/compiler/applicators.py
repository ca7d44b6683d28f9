"""Applicator keywords — constraint-DAG combinators.

In the reference these recurse through ``descend()``
(/root/reference/jsonschema/validators.py:396-446); here each subschema
compiles to SQL predicates and composition is boolean algebra that
Catalyst evaluates vectorized — no short-circuiting needed
(SURVEY.md §2.2).
"""

from __future__ import annotations

import re as _re
from dataclasses import replace as _dc_replace
from typing import Any, Optional

from pyspark.sql import types as T

from . import sql as F
from .context import CompileContext, pointer_escape
from .node import Node
from .registry import (KeywordRegistry, SchemaCompileError, compile_subschema,
                       fmt_message, make_check)
from .sql import Expr

STRING = T.StringType()


def _row_scope(ctx: CompileContext) -> bool:
    return ctx.target is None


def _element_ok(ctx: CompileContext, subschema: Any, elem: Expr,
                dtype: T.DataType, fragment: str) -> Expr:
    """Validity of one array element / map value under `subschema`."""
    child = ctx.child(target=elem, dtype=dtype, schema_fragment=fragment,
                      null_is_absent=False, row_fields=None)
    return compile_subschema(child, subschema).ok


# ----------------------------------------------------------- composition --

def c_all_of(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`allOf` (_keywords.py:332-334): children's errors propagate
    individually with indexed schema paths."""
    out = Node()
    for i, sub in enumerate(value):
        child = compile_subschema(ctx.child(schema_fragment=f"allOf/{i}"), sub)
        out.checks.extend(child.checks)
        out.context.extend(child.context)
    return out


def _with_context(ctx: CompileContext, node: Node, keyword: str,
                  children: list[Node], composite_ok: Expr) -> Node:
    """Attach each child branch's checks as *context* of the composite
    error (ValidationError.context, exceptions.py:120-131): they fire
    only when the composite fails, never affect validity, and carry the
    composite's schema_path for best_match descent."""
    parent_sp = node.checks[0].schema_path
    for child in children:
        for chk in child.checks + child.context:
            chk.pred = composite_ok | chk.pred
            chk.context_of = chk.context_of or parent_sp
            node.context.append(chk)
    return node


def c_any_of(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`anyOf` (_keywords.py:337-348): one aggregated error on failure;
    branch errors attach as context."""
    children = [compile_subschema(ctx.child(schema_fragment=f"anyOf/{i}"),
                                  sub) for i, sub in enumerate(value)]
    oks = [c.ok for c in children]
    # seed False: `anyOf: []` (meta-schema-invalid but tolerated, like
    # the reference's any() over no branches) fails every instance
    pred = F.lit(False)
    for o in oks:
        pred = pred | o
    node = make_check(ctx, "anyOf", pred, fmt_message(
        ctx, "%s is not valid under any of the given schemas"))
    return _with_context(ctx, node, "anyOf", children, pred)


def c_one_of(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`oneOf` (_keywords.py:351-373): exactly-one-match; branch errors
    attach as context."""
    children = [compile_subschema(ctx.child(schema_fragment=f"oneOf/{i}"),
                                  sub) for i, sub in enumerate(value)]
    oks = [c.ok for c in children]
    n = sum((o.cast("int") for o in oks), F.lit(0))
    node = make_check(ctx, "oneOf", n == 1, fmt_message(
        ctx, "%s is not valid under exactly one of the given schemas"))
    # context (branch errors) attaches ONLY when NO branch matched —
    # the reference's too-many-matches error ("valid under each of")
    # carries no context (_keywords.py:360-373), so best_match must not
    # descend into branch errors there (caught by the r4 by_relevance
    # differential fuzz)
    any_ok = F.lit(False)  # seed False: tolerate `oneOf: []` (fails all)
    for o in oks:
        any_ok = any_ok | o
    return _with_context(ctx, node, "oneOf", children, any_ok)


def c_not(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`not` (_keywords.py:376-379)."""
    child = compile_subschema(ctx.child(schema_fragment="not"), value)
    return make_check(ctx, "not", ~child.ok, fmt_message(
        ctx, "%s should not be valid under the given schema"))


def c_if(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`if`/`then`/`else` (_keywords.py:382-389): `if` itself yields no
    errors; then/else checks are conditioned on the if outcome and keep
    their own identity (schema_path prefixing mirrors
    validators.py:392-393,440-441)."""
    if_ok = compile_subschema(ctx.child(schema_fragment="if"), value).ok
    out = Node()
    if "then" in schema:
        child = compile_subschema(ctx.child(schema_fragment="then"),
                                  schema["then"])
        for chk in child.checks:
            chk.pred = (~if_ok) | chk.pred
            out.checks.append(chk)
        for chk in child.context:
            chk.pred = (~if_ok) | chk.pred
            out.context.append(chk)
    if "else" in schema:
        child = compile_subschema(ctx.child(schema_fragment="else"),
                                  schema["else"])
        for chk in child.checks:
            chk.pred = if_ok | chk.pred
            out.checks.append(chk)
        for chk in child.context:
            chk.pred = if_ok | chk.pred
            out.context.append(chk)
    return out


# ------------------------------------------------------------------ $ref --

def _json_pointer(doc: Any, pointer: str) -> Any:
    node = doc
    if pointer in ("", "#"):
        return node
    from urllib.parse import unquote
    for part in pointer.lstrip("#").lstrip("/").split("/"):
        # URI fragment percent-decoding, then JSON-pointer ~-escapes
        part = unquote(part).replace("~1", "/").replace("~0", "~")
        if isinstance(node, list):
            node = node[int(part)]
        elif isinstance(node, dict):
            if part not in node:
                raise SchemaCompileError(f"$ref pointer {pointer!r}: "
                                         f"{part!r} not found")
            node = node[part]
        else:
            raise SchemaCompileError(f"$ref pointer {pointer!r} walks into "
                                     f"a leaf")
    return node


def _find_anchor(doc: Any, name: str) -> Optional[dict]:
    """BFS for $anchor/$dynamicAnchor == name (validators.py:1236-1262)."""
    queue = [doc]
    while queue:
        node = queue.pop(0)
        if isinstance(node, dict):
            if node.get("$anchor") == name or node.get("$dynamicAnchor") == name:
                return node
            # pre-2019 location-independent identifiers: id/$id == "#name"
            if node.get("$id") == f"#{name}" or node.get("id") == f"#{name}":
                return node
            queue.extend(node.values())
        elif isinstance(node, list):
            queue.extend(node)
    return None


def _resolve_ref(ctx: CompileContext, ref: str) -> Any:
    """Legacy root-document-only resolution, used when no Resolver is
    attached (node, base) — the URI-aware path is `_resolve2`."""
    root = ctx.root_schema if ctx.root_schema is not None else {}
    if ref.startswith("#/") or ref in ("#", ""):
        return _json_pointer(root, ref)
    if ref.startswith("#"):
        target = _find_anchor(root, ref[1:])
        if target is None:
            raise SchemaCompileError(f"anchor {ref!r} not found")
        return target
    raise SchemaCompileError(
        f"non-local $ref {ref!r} unresolvable without a schema registry "
        f"(pass a Resolver / pre-register the document)")


def _resolve2(ctx: CompileContext, ref: str) -> tuple[Any, str]:
    """(referent, resource base URI) via the URI resolver when present
    (compiler/resolver.py — the referencing-registry analogue of
    validators.py:1070-1095), else the legacy root-document path."""
    if ctx.resolver is not None:
        return ctx.resolver.resolve(ref, ctx.base_uri)
    return _resolve_ref(ctx, ref), ctx.base_uri


def _resolve_for_tracking(ctx: CompileContext, schema: dict,
                          kw: str) -> Any:
    """Resolve `schema[kw]` for evaluated-key/-item tracking, honoring
    the dynamic scope for $dynamicRef/$recursiveRef (the tracking
    walks sibling schemas whose refs must resolve exactly as the
    compiler would).  Raises SchemaCompileError when unresolvable."""
    ref = schema[kw]
    if ctx.resolver is None:
        return _resolve_ref(ctx, ref)
    base = ctx.resolver.base_of(schema, ctx.base_uri)
    node, rbase = ctx.resolver.resolve(ref, base)
    if kw == "$dynamicRef":
        frag = ref.split("#", 1)[1] if "#" in ref else ""
        if frag and not frag.startswith("/") \
                and ctx.resolver.is_dynamic_anchor(rbase, frag):
            hit = ctx.resolver.dynamic_resolve(
                frag, ctx.dynamic_scope + (rbase,))
            if hit is not None:
                node, _ = hit
    elif kw == "$recursiveRef" and rbase in ctx.resolver.recursive:
        hit = ctx.resolver.recursive_resolve(ctx.dynamic_scope + (rbase,))
        if hit is not None:
            node, _ = hit
    return node


def _rebase_sp(sp: Optional[str], p0: str, p1: str) -> Optional[str]:
    """Re-prefix a schema path recorded under call-site prefix `p0` for
    a memo replay at call-site prefix `p1`.  Returns None when `sp`
    doesn't descend from `p0` (entry is then not reusable)."""
    if sp is None:
        return None
    if sp == p0:
        return p1
    if p0:
        if not sp.startswith(p0 + "/"):
            return None
        tail = sp[len(p0) + 1:]
    else:
        tail = sp
    return f"{p1}/{tail}" if p1 else tail


def _memo_store(ctx: CompileContext, mkey: tuple, child: Node,
                n_ann: int, n_warn: int) -> None:
    """Snapshot a completed referent compile.  Clones every Check /
    AnnotationUnit NOW: callers mutate the returned originals in place
    (guard-wrapping and type_match in compile_subschema, pred rewrites
    in _with_context / c_if), and those mutations must not leak into
    the memo."""
    p0 = ctx.schema_path
    for chk in child.checks + child.context:
        if _rebase_sp(chk.schema_path, p0, p0) is None or (
                chk.context_of is not None
                and _rebase_sp(chk.context_of, p0, p0) is None):
            return  # schema path escapes the call-site prefix: skip
    ann = ctx.annotations[n_ann:]
    if any(_rebase_sp(a.schema_path, p0, p0) is None for a in ann):
        return
    ctx.ref_memo[mkey] = (
        p0,
        [_dc_replace(c) for c in child.checks],
        [_dc_replace(c) for c in child.context],
        [_dc_replace(a) for a in ann],
        list(ctx.warnings[n_warn:]),
    )


def _memo_replay(ctx: CompileContext, entry: tuple) -> Node:
    """Rebuild a Node from a memo snapshot, rebasing every recorded
    schema path from the stored call-site prefix to this one.  Fresh
    Check clones each time — see _memo_store."""
    p0, checks, context, ann, warns = entry
    p1 = ctx.schema_path
    out = Node()
    for chk in checks:
        out.checks.append(_dc_replace(
            chk, schema_path=_rebase_sp(chk.schema_path, p0, p1),
            context_of=_rebase_sp(chk.context_of, p0, p1)))
    for chk in context:
        out.context.append(_dc_replace(
            chk, schema_path=_rebase_sp(chk.schema_path, p0, p1),
            context_of=_rebase_sp(chk.context_of, p0, p1)))
    for a in ann:
        ctx.annotations.append(_dc_replace(
            a, schema_path=_rebase_sp(a.schema_path, p0, p1)))
    for w in warns:
        head, sep, tail = w.partition(": ")
        if sep:
            # ctx.warn renders an empty schema path as '<root>'
            moved = _rebase_sp("" if head == "<root>" else head, p0, p1)
            if moved is not None:
                ctx.warnings.append(f"{moved or '<root>'}{sep}{tail}")
                continue
        ctx.warnings.append(w)
    return out


def _compile_referent(ctx: CompileContext, referent: Any, rbase: str,
                      ref: str) -> Optional[Node]:
    """Shared tail of $ref/$dynamicRef/$recursiveRef: loop detection,
    resource-scope bookkeeping, then compile-time inlining.

    Expansions are memoized per root compile: the compiled expressions
    depend only on (referent identity, bound expression, dtype,
    NULL policy, resource base, dynamic scope), and the bound
    expression is identified by its SQL text — so a
    second occurrence of the same key replays the first compile's
    snapshot with schema paths rebased to the new call site.  Real
    corpora hit this hard: the issue232 Swagger meta-schema compile
    re-expands 38% of its $refs verbatim.  Entries are stored only on
    completed compiles, so infinite-recursion detection (`ref_stack`)
    is unaffected — a schema that recurses without consuming instance
    depth still raises before anything is memoized."""
    key = (id(referent), ctx.json_path)
    if ctx.statically_absent:
        # the bound instance is statically absent: every value check is
        # vacuous, so cutting recursion as a pass is *correct*, not a
        # soundness hole (presence assertions never need the recursion)
        if len(ctx.ref_stack) > 8 or any(k[0] == id(referent)
                                         for k in ctx.ref_stack):
            return None
    elif key in ctx.ref_stack:
        raise SchemaCompileError(
            f"$ref {ref!r} recurses at instance location "
            f"{ctx.json_path!r} without consuming instance depth — "
            f"infinite schema recursion")
    if len(ctx.ref_stack) >= ctx.max_ref_depth:
        raise SchemaCompileError(
            f"$ref {ref!r} exceeded max inline depth {ctx.max_ref_depth}")
    mkey = None
    if ctx.target is not None and ctx.dtype is not None \
            and not ctx.statically_absent:
        # statically-absent scopes are excluded: their depth-8 recursion
        # cutoff depends on the incoming ref_stack, which is not keyed.
        # str(target) pins the exact bound expression: lambda variables
        # carry names unique within the compile (_x1, _x2, ...), so an
        # entry whose expressions reference a lambda variable can only
        # ever hit inside that same lambda body, while closed
        # expressions (field chains) hit across every route that binds
        # the same column — and a hypothetically wrong reuse of an open
        # expression fails the analyzer loudly (unresolved _xN), never
        # silently.
        mkey = (id(referent), ctx.json_path, str(ctx.target),
                ctx.dtype.simpleString(), ctx.null_is_absent,
                ctx.absent_policy, ctx.base_uri, ctx.dynamic_scope,
                id(ctx.registry))
        hit = ctx.ref_memo.get(mkey)
        if hit is not None:
            return _memo_replay(ctx, hit)
    n_ann, n_warn = len(ctx.annotations), len(ctx.warnings)
    child_ctx = ctx.child()
    child_ctx.ref_stack = ctx.ref_stack | {key}
    # indexed referents rebase inside compile_subschema (which also
    # switches the keyword profile when the target resource declares a
    # different $schema); only unindexed targets (e.g. pointers into
    # non-schema positions) need the base set here
    indexed = (ctx.resolver is not None and isinstance(referent, dict)
               and id(referent) in ctx.resolver.node_base)
    if not indexed:
        child_ctx.base_uri = rbase
        if rbase != ctx.base_uri:
            child_ctx.dynamic_scope = ctx.dynamic_scope + (rbase,)
    child = compile_subschema(child_ctx, referent)
    if mkey is not None:
        _memo_store(ctx, mkey, child, n_ann, n_warn)
    # $ref does not prefix the schema path (validators.py:392-393)
    out = Node()
    out.checks.extend(child.checks)
    out.context.extend(child.context)
    return out


def c_ref(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`$ref` (_keywords.py:274-275 + validators.py:459-483): compile-time
    inlining of the referent, resolved against the current resource base
    URI (including $id-embedded resources and registered remote docs)."""
    referent, rbase = _resolve2(ctx, value)
    return _compile_referent(ctx, referent, rbase, value)


def c_dynamic_ref(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`$dynamicRef` (_keywords.py:278-279 + referencing's
    lookup_recursive_ref): resolve normally first; if the target was
    created by `$dynamicAnchor`, re-resolve to the *outermost* resource
    in the dynamic scope defining the same `$dynamicAnchor` (2020-12 core
    §8.2.3.2).  The dynamic scope is the compile stack of entered
    resources — fully known at compile time under inlining."""
    referent, rbase = _resolve2(ctx, value)
    frag = value.split("#", 1)[1] if "#" in value else ""
    if (frag and not frag.startswith("/") and ctx.resolver is not None
            and ctx.resolver.is_dynamic_anchor(rbase, frag)):
        hit = ctx.resolver.dynamic_resolve(
            frag, ctx.dynamic_scope + (rbase,))
        if hit is not None:
            referent, rbase = hit
    return _compile_referent(ctx, referent, rbase, value)


def c_recursive_ref(ctx: CompileContext, value: Any,
                    schema: dict) -> Optional[Node]:
    """`$recursiveRef: "#"` (2019-09, _legacy_keywords.py:233-239): if the
    current resource root has `$recursiveAnchor: true`, resolve to the
    outermost dynamic-scope resource that also sets it."""
    referent, rbase = _resolve2(ctx, value)
    if ctx.resolver is not None and rbase in ctx.resolver.recursive:
        hit = ctx.resolver.recursive_resolve(ctx.dynamic_scope + (rbase,))
        if hit is not None:
            referent, rbase = hit
    return _compile_referent(ctx, referent, rbase, value)


# ------------------------------------------------------- object applicators

def _struct_members(ctx: CompileContext) -> list[T.StructField]:
    if _row_scope(ctx):
        return list(ctx.row_fields or [])
    if ctx.is_struct():
        return list(ctx.dtype.fields)
    return []


def _bind_member(ctx: CompileContext, field: T.StructField,
                 fragment: str) -> CompileContext:
    target = ctx.member(field.name)
    # member bindings reset null_is_absent to the data-model policy
    # (None = inherit): see CompileContext.absent_policy
    return ctx.child(target=target, dtype=field.dataType,
                     path_fragment=field.name, schema_fragment=fragment,
                     null_is_absent=ctx.absent_policy, row_fields=None)


def c_properties(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`properties` (_keywords.py:290-301): bind each subschema to its
    column / struct field / map value; statically-absent members pass."""
    out = Node()
    if _row_scope(ctx) or ctx.is_struct():
        fields = {f.name: f for f in _struct_members(ctx)}
        for name, sub in value.items():
            fld = fields.get(name)
            if fld is None:
                # statically-absent property: value checks pass vacuously,
                # but presence assertions (draft3 `required: true` inside
                # the subschema, _legacy_keywords.py:170-192) must still
                # fail — bind to a NULL literal so only skip_null_guard
                # checks survive
                child_ctx = ctx.child(
                    target=F.lit(None), dtype=T.NullType(),
                    path_fragment=name,
                    schema_fragment=f"properties/{pointer_escape(name)}", row_fields=None)
                child_ctx.statically_absent = True
                child = compile_subschema(child_ctx, sub)
                out.checks.extend(c for c in child.checks
                                  if c.skip_null_guard)
                continue
            child_ctx = _bind_member(ctx, fld, f"properties/{pointer_escape(name)}")
            child = compile_subschema(child_ctx, sub)
            out.checks.extend(child.checks)
            out.context.extend(child.context)
        return out
    if ctx.is_map():
        vtype = ctx.dtype.valueType
        for name, sub in value.items():
            member = F.try_element_at(ctx.target, F.lit(name))
            child_ctx = ctx.child(target=member, dtype=vtype,
                                  path_fragment=name,
                                  schema_fragment=f"properties/{pointer_escape(name)}",
                                  null_is_absent=ctx.absent_policy,
                                  row_fields=None)
            child = compile_subschema(child_ctx, sub)
            out.checks.extend(child.checks)
        return out
    return None


def c_pattern_properties(ctx: CompileContext, value: Any,
                         schema: dict) -> Optional[Node]:
    """`patternProperties` (_keywords.py:16-25): static field names are
    matched with the real Python ``re.search`` at compile time."""
    out = Node()
    if _row_scope(ctx) or ctx.is_struct():
        for pattern, sub in value.items():
            rx = _re.compile(pattern)
            for fld in _struct_members(ctx):
                if rx.search(fld.name):
                    child_ctx = _bind_member(
                        ctx, fld, f"patternProperties/{pointer_escape(pattern)}")
                    child = compile_subschema(child_ctx, sub)
                    out.checks.extend(child.checks)
        return out
    if ctx.is_map():
        from ..functions.regex import _to_java
        for pattern, sub in value.items():
            jrx = _to_java(pattern)
            if jrx is None:
                ctx.warn(f"patternProperties {pattern!r} not Java-safe over "
                         f"MapType; skipped")
                continue
            matching = F.map_filter(ctx.target, lambda k, v: k.rlike(jrx))
            ok = F.forall(F.map_values(matching),
                          lambda v: _element_ok(
                              ctx, sub, v, ctx.dtype.valueType,
                              f"patternProperties/{pointer_escape(pattern)}"))
            n = make_check(ctx, "patternProperties", ok,
                           f"a value under a key matching {pattern!r} "
                           f"failed its subschema",
                           schema_suffix=f"patternProperties/{pointer_escape(pattern)}")
            out.checks.extend(n.checks)
        return out
    return None


def _pattern_matched_names(value_pp: dict, names: list[str]) -> set[str]:
    hit = set()
    for pattern in value_pp:
        rx = _re.compile(pattern)
        hit.update(n for n in names if rx.search(n))
    return hit


def c_additional_properties(ctx: CompileContext, value: Any,
                            schema: dict) -> Optional[Node]:
    """`additionalProperties` (_keywords.py:36-56 + _utils.py:75-91):
    compile-time set difference against properties/patternProperties."""
    return _extras_keyword(ctx, value, schema, "additionalProperties",
                           known=set(schema.get("properties", {})),
                           patterns=list(schema.get("patternProperties", {})))


def _extras_keyword(ctx: CompileContext, value: Any, schema: dict,
                    keyword: str, known: set[str],
                    patterns: list[str]) -> Optional[Node]:
    out = Node()
    if _row_scope(ctx) or ctx.is_struct():
        names = [f.name for f in _struct_members(ctx)]
        matched = _pattern_matched_names({p: None for p in patterns}, names)
        extras = [f for f in _struct_members(ctx)
                  if f.name not in known and f.name not in matched]
        if value is False:
            bad = [(f.name, ctx.member(f.name).isNotNull()) for f in extras]
            if "patternProperties" not in schema:
                return _naming_error(
                    ctx, keyword, bad, "Additional properties are not "
                    "allowed (", (" was", " were"), " unexpected)")
            regexes = ", ".join(map(repr, sorted(schema["patternProperties"])))
            return _naming_error(
                ctx, keyword, bad, "", (" does", " do"),
                f" not match any of the regexes: {regexes}")
        for fld in extras:
            if value is not True:
                child_ctx = _bind_member(ctx, fld, keyword)
                child = compile_subschema(child_ctx, value)
                out.checks.extend(child.checks)
        return out
    if ctx.is_map():
        from ..functions.regex import _to_java
        jrx = [_to_java(p) for p in patterns]
        if any(j is None for j in jrx):
            ctx.warn(f"{keyword} over MapType with non-Java-safe "
                     f"patternProperties; skipped")
            return None

        def is_extra(k: Expr) -> Expr:
            cond = ~k.isin(*known) if known else F.lit(True)
            for j in jrx:
                cond = cond & ~k.rlike(j)
            return cond

        if value is False:
            bad = F.size(F.filter(F.map_keys(ctx.target), is_extra))
            return make_check(ctx, keyword, bad == 0,
                              "Additional properties are not allowed")
        if value is True:
            return None
        extras_map = F.map_filter(ctx.target, lambda k, v: is_extra(k))
        ok = F.forall(F.map_values(extras_map),
                      lambda v: _element_ok(ctx, value, v,
                                            ctx.dtype.valueType, keyword))
        return make_check(ctx, keyword, ok,
                          "an additional property failed its subschema")
    return None


def _naming_error(ctx: CompileContext, keyword: str,
                  bad: list[tuple[str, Expr]], head: str,
                  verbs: tuple[str, str], tail: str,
                  ordered: bool = True) -> Optional[Node]:
    """One check at the object that fails when a member is unexpected
    (its predicate in `bad` holds), the reference's one error naming
    them all (extras_msg, _utils.py): `head`, the repr of each
    unexpected name, sorted when `ordered`, then `verbs`' singular or
    plural and `tail`."""
    if not bad:
        return None
    if ordered:
        bad = sorted(bad, key=lambda b: b[0])
    names = F.filter(F.array(*[F.when(b, repr(n)) for n, b in bad]),
                     lambda n: n.isNotNull())
    verb = F.coalesce(F.when(F.size(names) == 1, verbs[0]), verbs[1])
    return make_check(ctx, keyword, ~F.any_of(b for _, b in bad),
                      F.concat(head, F.array_join(names, ", "), verb, tail))


def c_property_names(ctx: CompileContext, value: Any,
                     schema: dict) -> Optional[Node]:
    """`propertyNames` (_keywords.py:28-33)."""
    if _row_scope(ctx) or ctx.is_struct():
        # static names: evaluate the name subschema on literal strings and
        # condition on presence; Catalyst constant-folds the literals.
        out = Node()
        for fld in _struct_members(ctx):
            name_ok = _element_ok(ctx, value, F.lit(fld.name), STRING,
                                  "propertyNames")
            target = ctx.member(fld.name)
            n = make_check(ctx, "propertyNames", target.isNull() | name_ok,
                           f"property name '{fld.name}' fails "
                           f"propertyNames")
            out.checks.extend(n.checks)
        return out
    if ctx.is_map():
        ok = F.forall(F.map_keys(ctx.target),
                      lambda k: _element_ok(ctx, value, k, STRING,
                                            "propertyNames"))
        return make_check(ctx, "propertyNames", ok,
                          "a property name fails propertyNames")
    return None


def c_dependent_schemas(ctx: CompileContext, value: Any,
                        schema: dict) -> Optional[Node]:
    """`dependentSchemas` (_keywords.py:257-266)."""
    out = Node()
    members = {f.name: f for f in _struct_members(ctx)}
    if not (_row_scope(ctx) or ctx.is_struct() or ctx.is_map()):
        return None
    for prop, sub in value.items():
        if ctx.is_map():
            present = F.map_contains_key(ctx.target, F.lit(prop))
        else:
            fld = members.get(prop)
            if fld is None:
                continue  # trigger statically absent -> vacuous
            present = ctx.member(prop).isNotNull()
        child = compile_subschema(
            ctx.child(schema_fragment=f"dependentSchemas/{pointer_escape(prop)}"), sub)
        for chk in child.checks:
            chk.pred = (~present) | chk.pred
            out.checks.append(chk)
        for chk in child.context:
            chk.pred = (~present) | chk.pred
            out.context.append(chk)
    return out


# -------------------------------------------------------- array applicators

def c_prefix_items(ctx: CompileContext, value: Any,
                   schema: dict) -> Optional[Node]:
    """`prefixItems` (_keywords.py:439-449)."""
    if _row_scope(ctx) or not ctx.is_array():
        return None
    out = Node()
    elem_t = ctx.dtype.elementType
    for i, sub in enumerate(value):
        elem = F.get(ctx.target, i)  # null when out of bounds
        ok = _element_ok(ctx.child(path_fragment=i), sub, elem, elem_t,
                         f"prefixItems/{i}")
        pred = (F.size(ctx.target) <= i) | ok
        n = make_check(ctx.child(path_fragment=i, row_fields=None),
                       "prefixItems", pred,
                       f"item {i} fails prefixItems/{i}",
                       schema_suffix=f"prefixItems/{i}")
        n.checks[0].failing_value = F.get(ctx.target, i).cast("string")
        out.checks.extend(n.checks)
    return out


def c_items(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`items` 2020-12 (_keywords.py:59-82): applies past prefixItems."""
    if _row_scope(ctx) or not ctx.is_array():
        return None
    prefix = len(schema.get("prefixItems", []))
    c = ctx.target
    if value is False:
        pred = F.size(c) <= prefix
        return make_check(ctx, "items", pred,
                          f"array has items beyond the {prefix} "
                          f"allowed prefix items")
    if value is True:
        return None
    rest = F.slice(c, prefix + 1,
                   F.greatest(F.size(c) - prefix, F.lit(0)))
    ok = F.forall(rest, lambda x: _element_ok(ctx, value, x,
                                              ctx.dtype.elementType, "items"))
    return make_check(ctx, "items", ok, fmt_message(
        ctx, "%s has items failing the items subschema"))


def c_contains(ctx: CompileContext, value: Any, schema: dict) -> Optional[Node]:
    """`contains` + `minContains`/`maxContains` (_keywords.py:90-124)."""
    if _row_scope(ctx) or not ctx.is_array():
        return None
    min_c = schema.get("minContains", 1)
    max_c = schema.get("maxContains")
    n = F.size(F.filter(ctx.target,
                        lambda x: _element_ok(ctx, value, x,
                                              ctx.dtype.elementType,
                                              "contains")))
    out = Node()
    node = make_check(ctx, "contains", n >= min_c, fmt_message(
        ctx, "%s does not contain enough matching items"))
    out.checks.extend(node.checks)
    if max_c is not None:
        node = make_check(ctx, "maxContains", n <= max_c, fmt_message(
            ctx, "%s contains too many matching items"))
        out.checks.extend(node.checks)
    return out


# ------------------------------ unevaluated* (dynamic predicate tracking)
#
# The reference computes evaluated keys/indexes at runtime by re-running
# sibling applicators (_utils.py:240-406).  In the vectorized engine the
# candidate key set is static (struct fields) and array elements carry a
# position, so the *conditions* under which each key/index is evaluated
# compile to predicates: "anyOf branch i evaluated key k" becomes
# `branch_i_ok & eval_cond(branch_i, k)`.  Exact per-row semantics, no
# approximation — Catalyst CSE dedups repeated branch predicates.

def _or_conds(conds: list[Any]) -> Any:
    """OR of static bools and predicates; True short-circuits statically."""
    cols = []
    for c in conds:
        if c is True:
            return True
        if c is False:
            continue
        cols.append(c)
    if not cols:
        return False
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


def _sub_ok(ctx: CompileContext, sub: Any, fragment: str) -> Any:
    """Validity (static bool or Expr) of the bound instance under a
    sibling subschema — the `is_valid(descend(...))` of _utils.py."""
    if sub is True or sub == {}:
        return True
    if sub is False:
        return False
    node = compile_subschema(ctx.child(schema_fragment=fragment), sub)
    return node.ok if node.checks else True


def _member_ok(ctx: CompileContext, sub: Any, member: Expr,
               dtype: T.DataType, fragment: str) -> Any:
    """Validity of one member value under `sub` (bool or Expr)."""
    if sub is True or sub == {}:
        return True
    if sub is False:
        return False
    return _element_ok(ctx, sub, member, dtype, fragment)


def _evaluated_prop_cond(ctx: CompileContext, schema: Any,
                         fld: T.StructField, member: Expr,
                         depth: int = 0) -> Any:
    """Condition under which struct member `fld` is *evaluated* by
    `schema` — the predicate lift of find_evaluated_property_keys_by_schema
    (_utils.py:317-406).  Consulted only for present (non-null) members.
    Returns True/False statically or a boolean Expr."""
    if not isinstance(schema, dict) or depth > 12:
        return False
    conds: list[Any] = []
    for kw in ("$ref", "$dynamicRef", "$recursiveRef"):
        if kw in schema and isinstance(schema[kw], str):
            try:
                resolved = _resolve_for_tracking(ctx, schema, kw)
            except SchemaCompileError:
                resolved = None
            conds.append(_evaluated_prop_cond(ctx, resolved, fld, member,
                                              depth + 1))
    props = schema.get("properties")
    if isinstance(props, dict) and fld.name in props:
        conds.append(True)
    for kw in ("additionalProperties", "unevaluatedProperties"):
        if kw in schema:
            conds.append(_member_ok(ctx, schema[kw], member, fld.dataType,
                                    kw))
    pp = schema.get("patternProperties")
    if isinstance(pp, dict) and _pattern_matched_names(pp, [fld.name]):
        conds.append(True)
    ds = schema.get("dependentSchemas")
    if isinstance(ds, dict):
        names = [f.name for f in _struct_members(ctx)]
        for prop, sub in ds.items():
            if prop not in names:
                continue  # trigger statically absent -> never applies
            trigger = ctx.member(prop).isNotNull()
            rec = _evaluated_prop_cond(ctx, sub, fld, member, depth + 1)
            if rec is False:
                continue
            conds.append(trigger if rec is True else trigger & rec)
    for kw in ("allOf", "oneOf", "anyOf"):
        for i, sub in enumerate(schema.get(kw) or []):
            rec = _evaluated_prop_cond(ctx, sub, fld, member, depth + 1)
            if rec is False:
                continue
            ok = _sub_ok(ctx, sub, f"{kw}/{i}")
            if ok is False:
                continue
            if ok is True:
                conds.append(rec)
            else:
                conds.append(ok if rec is True else ok & rec)
    if "if" in schema:
        if_ok = _sub_ok(ctx, schema["if"], "if")
        branches = [(if_ok, schema["if"])]
        if "then" in schema:
            branches.append((if_ok, schema["then"]))
        if "else" in schema:
            neg = (not if_ok) if isinstance(if_ok, bool) else ~if_ok
            branches.append((neg, schema["else"]))
        for gate, sub in branches:
            rec = _evaluated_prop_cond(ctx, sub, fld, member, depth + 1)
            if rec is False or gate is False:
                continue
            if gate is True:
                conds.append(rec)
            else:
                conds.append(gate if rec is True else gate & rec)
    return _or_conds(conds)


def c_unevaluated_properties(ctx: CompileContext, value: Any,
                             schema: dict) -> Optional[Node]:
    """`unevaluatedProperties` (_keywords.py:407-436): a present member
    violates iff no sibling applicator evaluated it AND it fails the
    unevaluatedProperties subschema (False = always fails)."""
    if _row_scope(ctx) or ctx.is_struct():
        unexpected = []
        for fld in _struct_members(ctx):
            member = ctx.member(fld.name)
            evaluated = _evaluated_prop_cond(ctx, schema, fld, member)
            if evaluated is True:
                continue
            sub_ok = _member_ok(ctx, value, member, fld.dataType,
                                "unevaluatedProperties")
            bad = member.isNotNull()
            if evaluated is not False:
                bad = bad & ~evaluated
            if sub_ok is True:
                continue
            if sub_ok is not False:
                bad = bad & ~sub_ok
            unexpected.append((fld.name, bad))
        if value is False:
            return _naming_error(
                ctx, "unevaluatedProperties", unexpected,
                "Unevaluated properties are not allowed (",
                (" was", " were"), " unexpected)")
        # the reference lists these in instance order
        return _naming_error(
            ctx, "unevaluatedProperties", unexpected,
            "Unevaluated properties are not valid under the given schema (",
            (" was", " were"), " unevaluated and invalid)", ordered=False)
    if ctx.is_map():
        # fall back to the static key approximation for map payloads:
        # collect keys/patterns evaluated by *any* sibling applicator,
        # recursing through composition keywords like the reference's
        # find_evaluated_property_keys_by_schema (_utils.py:317-406) —
        # branch outcomes are not consulted, so this over-approximates
        ctx.warn("unevaluatedProperties over MapType uses the static "
                 "evaluated-key approximation (branch outcomes ignored)")
        known, patterns = _static_evaluated_keys(ctx, schema)
        return _extras_keyword(ctx, value, schema, "unevaluatedProperties",
                               known=known, patterns=patterns)
    return None


def _static_evaluated_keys(ctx: CompileContext, schema: Any,
                           depth: int = 0) -> tuple[set[str], list[str]]:
    """All property names / patterns any sibling applicator could
    evaluate, recursing through allOf/anyOf/oneOf/if-then-else/
    dependentSchemas/$ref — the static projection of
    _utils.py:317-406."""
    names: set[str] = set()
    pats: list[str] = []
    if not isinstance(schema, dict) or depth > 12:
        return names, pats
    names |= set(schema.get("properties") or {})
    pats += list(schema.get("patternProperties") or {})
    subs: list[Any] = []
    for kw in ("allOf", "anyOf", "oneOf"):
        subs.extend(schema.get(kw) or [])
    for kw in ("if", "then", "else"):
        if kw in schema:
            subs.append(schema[kw])
    ds = schema.get("dependentSchemas")
    if isinstance(ds, dict):
        subs.extend(ds.values())
    for kw in ("$ref", "$dynamicRef", "$recursiveRef"):
        if isinstance(schema.get(kw), str):
            try:
                subs.append(_resolve_for_tracking(ctx, schema, kw))
            except SchemaCompileError:
                pass
    for sub in subs:
        n, p = _static_evaluated_keys(ctx, sub, depth + 1)
        names |= n
        pats += p
    return names, pats


def _evaluated_item_cond(ctx: CompileContext, schema: Any, x: Expr,
                         i: Expr, depth: int = 0) -> Any:
    """Condition under which element `x` at 0-based index `i` is
    evaluated — the predicate lift of find_evaluated_item_indexes_by_schema
    (_utils.py:240-313)."""
    if not isinstance(schema, dict) or depth > 12:
        return False
    if "items" in schema and not isinstance(schema["items"], list):
        return True  # _utils.py:251-252: items evaluates every index
    conds: list[Any] = []
    if isinstance(schema.get("items"), list):
        # 2019-09 positional form evaluates the prefix only
        # (_legacy_keywords.py:255-256); additionalItems covers the rest
        conds.append(i < F.lit(len(schema["items"])))
        if "additionalItems" in schema:
            conds.append(_member_ok(ctx, schema["additionalItems"], x,
                                    ctx.dtype.elementType,
                                    "additionalItems"))
    for kw in ("$ref", "$dynamicRef", "$recursiveRef"):
        if kw in schema and isinstance(schema[kw], str):
            try:
                resolved = _resolve_for_tracking(ctx, schema, kw)
            except SchemaCompileError:
                resolved = None
            conds.append(_evaluated_item_cond(ctx, resolved, x, i,
                                              depth + 1))
    prefix = schema.get("prefixItems")
    if isinstance(prefix, list) and prefix:
        conds.append(i < F.lit(len(prefix)))
    if "if" in schema:
        if_ok = _sub_ok(ctx, schema["if"], "if")
        branches = [(if_ok, schema["if"])]
        if "then" in schema:
            branches.append((if_ok, schema["then"]))
        if "else" in schema:
            neg = (not if_ok) if isinstance(if_ok, bool) else ~if_ok
            branches.append((neg, schema["else"]))
        for gate, sub in branches:
            rec = _evaluated_item_cond(ctx, sub, x, i, depth + 1)
            if rec is False or gate is False:
                continue
            if gate is True:
                conds.append(rec)
            else:
                conds.append(gate if rec is True else gate & rec)
    for kw in ("contains", "unevaluatedItems"):
        if kw in schema:
            conds.append(_member_ok(ctx, schema[kw], x,
                                    ctx.dtype.elementType, kw))
    for kw in ("allOf", "oneOf", "anyOf"):
        for bi, sub in enumerate(schema.get(kw) or []):
            rec = _evaluated_item_cond(ctx, sub, x, i, depth + 1)
            if rec is False:
                continue
            ok = _sub_ok(ctx, sub, f"{kw}/{bi}")
            if ok is False:
                continue
            if ok is True:
                conds.append(rec)
            else:
                conds.append(ok if rec is True else ok & rec)
    return _or_conds(conds)


def c_unevaluated_items(ctx: CompileContext, value: Any,
                        schema: dict) -> Optional[Node]:
    """`unevaluatedItems` (_keywords.py:392-404): fails iff some element
    is neither evaluated by a sibling applicator nor valid under the
    unevaluatedItems subschema."""
    if _row_scope(ctx) or not ctx.is_array():
        return None
    c = ctx.target

    def bad_elem(x: Expr, i: Expr) -> Expr:
        evaluated = _evaluated_item_cond(ctx, schema, x, i)
        if evaluated is True:
            return F.lit(False)
        sub_ok = _member_ok(ctx, value, x, ctx.dtype.elementType,
                            "unevaluatedItems")
        bad = F.lit(True) if evaluated is False else ~evaluated
        if sub_ok is True:
            return F.lit(False)
        if sub_ok is not False:
            bad = bad & ~sub_ok
        return bad

    pred = F.size(F.filter(c, bad_elem)) == 0
    return make_check(ctx, "unevaluatedItems", pred,
                      "Unevaluated items are not allowed")


def register_all(reg: KeywordRegistry) -> None:
    reg.register("allOf", c_all_of)
    reg.register("anyOf", c_any_of)
    reg.register("oneOf", c_one_of)
    reg.register("not", c_not)
    reg.register("if", c_if)
    reg.register("$ref", c_ref)
    reg.register("$dynamicRef", c_dynamic_ref)
    reg.register("$recursiveRef", c_recursive_ref)
    reg.register("properties", c_properties)
    reg.register("patternProperties", c_pattern_properties)
    reg.register("additionalProperties", c_additional_properties)
    reg.register("propertyNames", c_property_names)
    reg.register("dependentSchemas", c_dependent_schemas)
    reg.register("prefixItems", c_prefix_items)
    reg.register("items", c_items)
    reg.register("contains", c_contains)
    reg.register("unevaluatedProperties", c_unevaluated_properties)
    reg.register("unevaluatedItems", c_unevaluated_items)
