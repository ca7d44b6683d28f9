"""Legacy-draft keyword compilers + profile registries.

Mirrors /root/reference/jsonschema/_legacy_keywords.py and the per-draft
validator definitions (validators.py:601-761).  A profile is just a
KeywordRegistry variant: the same compile loop with draft-specific
compilers swapped in — exactly how the reference builds Draft4/6/7
classes from the same ``create()`` factory.

Differences handled:

- ``items`` (draft4-2019): list -> positional subschemas, else
  all-elements subschema (_legacy_keywords.py:92-135)
- ``additionalItems``: extras beyond a positional ``items`` list
  (_legacy_keywords.py:106-121)
- ``dependencies`` (draft4-7): array -> dependentRequired, else
  dependentSchemas (_legacy_keywords.py:47-74)
- draft4 ``minimum``/``maximum`` with boolean ``exclusiveMinimum``/
  ``exclusiveMaximum`` sibling modifiers (_legacy_keywords.py:138-167)
- draft4 ``type: integer`` excludes integer-valued floats
  (_types.py:194, draft6+ relaxation at _types.py:195-201)
- pre-2019 ``$ref`` ignores sibling keywords
  (_legacy_keywords.py:9-21, wired at validators.py:632-760)
"""

from __future__ import annotations

import operator
from typing import Any, Optional
from urllib.parse import urlsplit

from . import sql as F
from .context import CompileContext
from .node import Node
from .registry import (KeywordRegistry, SchemaCompileError, compile_subschema,
                       default_registry, fmt_message, make_check)
from . import applicators, keywords


def c_items_legacy(ctx: CompileContext, value: Any,
                   schema: dict) -> Optional[Node]:
    """draft4-2019 `items` (_legacy_keywords.py:92-135)."""
    if applicators._row_scope(ctx) or not ctx.is_array():
        return None
    if isinstance(value, list):
        # positional — identical to 2020-12 prefixItems
        return applicators.c_prefix_items(ctx, value, schema)
    out = Node()
    ok = F.forall(ctx.target,
                  lambda x: applicators._element_ok(
                      ctx, value, x, ctx.dtype.elementType, "items"))
    n = make_check(ctx, "items", ok, fmt_message(
        ctx, "%s has items failing the subschema"))
    out.checks.extend(n.checks)
    return out


def c_additional_items(ctx: CompileContext, value: Any,
                       schema: dict) -> Optional[Node]:
    """`additionalItems` (_legacy_keywords.py:106-121): applies only when
    the sibling `items` is positional."""
    if applicators._row_scope(ctx) or not ctx.is_array():
        return None
    items = schema.get("items")
    if not isinstance(items, list):
        return None  # items-as-schema evaluates everything
    prefix = len(items)
    c = ctx.target
    if value is False:
        return make_check(
            ctx, "additionalItems", F.size(c) <= prefix,
            f"Additional items are not allowed (beyond index {prefix})")
    if value is True or value == {}:
        return None
    rest = F.slice(c, prefix + 1, F.greatest(F.size(c) - prefix, F.lit(0)))
    ok = F.forall(rest, lambda x: applicators._element_ok(
        ctx, value, x, ctx.dtype.elementType, "additionalItems"))
    return make_check(ctx, "additionalItems", ok,
                      "an additional item fails its subschema")


def c_dependencies(ctx: CompileContext, value: Any,
                   schema: dict) -> Optional[Node]:
    """draft4-7 `dependencies` (_legacy_keywords.py:47-74)."""
    if not isinstance(value, dict):
        raise SchemaCompileError("dependencies must be an object")
    out = Node()
    req: dict[str, list] = {}
    schemas: dict[str, Any] = {}
    for prop, dep in value.items():
        if isinstance(dep, list):
            req[prop] = dep
        else:
            schemas[prop] = dep
    if req:
        n = keywords.c_dependent_required(ctx, req, schema)
        if n is not None:
            for chk in n.checks:
                chk.keyword = "dependencies"
            out.checks.extend(n.checks)
    if schemas:
        n = applicators.c_dependent_schemas(ctx, schemas, schema)
        if n is not None:
            out.checks.extend(n.checks)
    return out


def c_minimum_draft4(ctx: CompileContext, value: Any,
                     schema: dict) -> Optional[Node]:
    """draft4 `minimum` with boolean `exclusiveMinimum` sibling
    (_legacy_keywords.py:138-151)."""
    if schema.get("exclusiveMinimum") is True:
        return keywords._numeric_kw(ctx, "minimum", value, operator.gt)
    return keywords.c_minimum(ctx, value, schema)


def c_maximum_draft4(ctx: CompileContext, value: Any,
                     schema: dict) -> Optional[Node]:
    """draft4 `maximum` with boolean `exclusiveMaximum` sibling
    (_legacy_keywords.py:154-167)."""
    if schema.get("exclusiveMaximum") is True:
        return keywords._numeric_kw(ctx, "maximum", value, operator.lt)
    return keywords.c_maximum(ctx, value, schema)


def c_type_draft4(ctx: CompileContext, value: Any,
                  schema: dict) -> Optional[Node]:
    """draft4 `type`: integer excludes integer-valued floats
    (_types.py:194)."""
    types = value if isinstance(value, list) else [value]
    if "integer" in types and not ctx.is_integral() and ctx.is_numeric() \
            and ctx.target is not None:
        # float column can never be a draft4 integer
        rest = [t for t in types if t != "integer"]
        if not rest:
            return make_check(
                ctx, "type", F.lit(False),
                fmt_message(ctx, "%s is not of type 'integer'"))
        return keywords.c_type(ctx, rest, schema)
    return keywords.c_type(ctx, value, schema)


_IGNORE = lambda ctx, value, schema: None  # noqa: E731


# ------------------------------------------------------------- draft3 -----

def _type_or_schema_pred(ctx: CompileContext, t: Any):
    """draft3 type union member: a type name or a whole schema
    (_legacy_keywords.py:195-217).  Returns (pred_or_None, static_bool)."""
    from .keywords import _type_pred_for
    if isinstance(t, str):
        # draft3, like draft4, has the strict integer rule: an
        # integer-valued float is NOT an integer (_types.py:182-193)
        if t == "integer" and not ctx.is_integral() and ctx.is_numeric():
            return F.lit(False)
        return _type_pred_for(ctx, t)
    node = compile_subschema(ctx.child(schema_fragment="type"), t)
    if not node.checks:
        return None  # True schema: statically satisfied
    return node.ok


def c_type_draft3(ctx: CompileContext, value: Any,
                  schema: dict) -> Optional[Node]:
    """draft3 `type`: names and/or schemas (_legacy_keywords.py:195-217)."""
    types = value if isinstance(value, list) else [value]
    if ctx.target is None:
        return None  # row scope is always an object
    preds = [_type_or_schema_pred(ctx, t) for t in types]
    if any(p is None for p in preds):
        return None  # statically satisfied member
    pred = preds[0]
    for p in preds[1:]:
        pred = pred | p
    return make_check(ctx, "type", pred, fmt_message(
        ctx, "%s is not of the permitted types"))


def c_disallow(ctx: CompileContext, value: Any,
               schema: dict) -> Optional[Node]:
    """draft3 `disallow`: negated type union (_legacy_keywords.py:77-81)."""
    types = value if isinstance(value, list) else [value]
    if ctx.target is None:
        bad = "object" in types or "any" in types
        if bad:
            return make_check(ctx, "disallow", F.lit(False),
                              "row matches a disallowed type")
        return None
    preds = [_type_or_schema_pred(ctx, t) for t in types]
    if any(p is None for p in preds):   # statically matched -> always fails
        return make_check(ctx, "disallow",
                          ctx.target.isNull() if ctx.null_is_absent
                          else F.lit(False),
                          "value matches a disallowed type")
    pred = preds[0]
    for p in preds[1:]:
        pred = pred | p
    return make_check(ctx, "disallow", ~pred, fmt_message(
        ctx, "%s matches a disallowed type"))


def c_extends(ctx: CompileContext, value: Any,
              schema: dict) -> Optional[Node]:
    """draft3 `extends`: proto-allOf (_legacy_keywords.py:84-89)."""
    subs = value if isinstance(value, list) else [value]
    return applicators.c_all_of(ctx, subs, schema)


def c_required_draft3(ctx: CompileContext, value: Any,
                      schema: dict) -> Optional[Node]:
    """draft3 `required: true` inside a property subschema
    (_legacy_keywords.py:170-192 wires it via properties)."""
    if value is not True or ctx.target is None:
        return None
    n = make_check(ctx, "required", ctx.target.isNotNull(),
                   "property is required")
    n.checks[0].skip_null_guard = True
    n.checks[0].failing_value = F.null_string()
    return n


def c_dependencies_draft3(ctx: CompileContext, value: Any,
                          schema: dict) -> Optional[Node]:
    """draft3 `dependencies`: string | [string] | schema forms
    (_legacy_keywords.py:24-44)."""
    norm: dict[str, Any] = {}
    for prop, dep in value.items():
        norm[prop] = [dep] if isinstance(dep, str) else dep
    return c_dependencies(ctx, norm, schema)


#: keywords introduced in 2019-09 — unknown (ignored) in drafts ≤7
#: (reference builds draft classes from explicit subsets,
#: validators.py:601-761)
_KW_2019 = ("dependentRequired", "dependentSchemas", "unevaluatedItems",
            "unevaluatedProperties", "$recursiveRef")
#: keywords introduced in 2020-12 — unknown in 2019-09 and earlier
_KW_2020 = ("prefixItems", "$dynamicRef")


def c_format_draft3(ctx: CompileContext, value: Any,
                    schema: dict) -> Optional[Node]:
    """draft3 `time` is a bare HH:MM:SS wall-clock (no RFC 3339 offset
    — reference _format.py is_draft3_time via strptime %H:%M:%S)."""
    if value == "time" and ctx.target is not None and ctx.is_string() \
            and getattr(ctx.registry, "assert_formats", False):
        pred = ctx.target.rlike(
            r"\A([01][0-9]|2[0-3]):[0-5][0-9]:([0-5][0-9]|60)\z")
        return make_check(ctx, "format", pred,
                          fmt_message(ctx, "%s is not a time"))
    return keywords.c_format(ctx, value, schema)


def draft3_registry() -> KeywordRegistry:
    reg = KeywordRegistry()
    keywords.register_all(reg)
    applicators.register_all(reg)
    reg = reg._merged({
        "items": c_items_legacy,
        "additionalItems": c_additional_items,
        "dependencies": c_dependencies_draft3,
        "type": c_type_draft3,
        "disallow": c_disallow,
        "extends": c_extends,
        "required": c_required_draft3,
        "divisibleBy": keywords.c_multiple_of,
        "minimum": c_minimum_draft4,
        "maximum": c_maximum_draft4,
        "exclusiveMinimum": _IGNORE,
        "exclusiveMaximum": _IGNORE,
        "format": c_format_draft3,
    }).without(*_KW_2019, *_KW_2020,
               "allOf", "anyOf", "oneOf", "not", "if", "const", "contains",
               "propertyNames", "minProperties", "maxProperties",
               "multipleOf")
    reg.ref_ignores_siblings = True
    return reg


def c_content_encoding_draft7(ctx: CompileContext, value: Any,
                              schema: dict) -> Optional[Node]:
    """draft7 `contentEncoding` asserted (the one draft where content
    keywords validate; 2019+ made them pure annotations).  The reference
    doesn't implement them at all — this is a superset."""
    if ctx.target is None or not ctx.is_string() or value != "base64":
        return None
    pred = F.try_to_binary(ctx.target, F.lit("base64")).isNotNull()
    return make_check(ctx, "contentEncoding", pred,
                      fmt_message(ctx, "%s is not valid base64"))


def c_content_media_type_draft7(ctx: CompileContext, value: Any,
                                schema: dict) -> Optional[Node]:
    """draft7 `contentMediaType` asserted (application/json only; other
    media types pass like unknown formats)."""
    if ctx.target is None or not ctx.is_string() \
            or value != "application/json":
        return None
    target = ctx.target
    if schema.get("contentEncoding") == "base64":
        target = F.try_to_binary(ctx.target, F.lit("base64")).cast("string")
    pred = F.try_parse_json(target).isNotNull()
    return make_check(ctx, "contentMediaType", pred, fmt_message(
        ctx, "%s is not valid application/json"))


def draft7_registry() -> KeywordRegistry:
    """Draft 7 profile: legacy items/additionalItems/dependencies,
    asserted content keywords, $ref ignores siblings, no
    2019-09/2020-12 keywords (validators.py:718-761)."""
    reg = KeywordRegistry()
    keywords.register_all(reg)
    applicators.register_all(reg)
    reg = reg._merged({
        "items": c_items_legacy,
        "additionalItems": c_additional_items,
        "dependencies": c_dependencies,
        "contentEncoding": c_content_encoding_draft7,
        "contentMediaType": c_content_media_type_draft7,
    }).without(*_KW_2019, *_KW_2020)
    reg.ref_ignores_siblings = True
    return reg


def draft6_registry() -> KeywordRegistry:
    """Draft 6 = draft 7 minus if/then/else and the content keywords
    (both arrived in draft 7; validators.py:674-716)."""
    reg = draft7_registry().without("if", "contentEncoding",
                                    "contentMediaType")
    reg.ref_ignores_siblings = True
    return reg


def draft2019_registry() -> KeywordRegistry:
    """Draft 2019-09: legacy items/additionalItems (positional form),
    modern dependent*/$recursiveRef, $ref siblings evaluated, no
    2020-12 prefixItems/$dynamicRef (validators.py:763-810).
    `dependencies` kept as the optional compatibility keyword (suite
    optional/dependencies-compatibility.json)."""
    reg = KeywordRegistry()
    keywords.register_all(reg)
    applicators.register_all(reg)
    return reg._merged({
        "items": c_items_legacy,
        "additionalItems": c_additional_items,
        "dependencies": c_dependencies,
    }).without(*_KW_2020)


def draft4_registry() -> KeywordRegistry:
    """Draft 4 profile: boolean exclusive bounds, strict integer type
    (validators.py:635-672)."""
    reg = draft7_registry()
    reg = reg._merged({
        "minimum": c_minimum_draft4,
        "maximum": c_maximum_draft4,
        "exclusiveMinimum": _IGNORE,   # boolean modifier, read by minimum
        "exclusiveMaximum": _IGNORE,
        "type": c_type_draft4,
    }).without("const", "contains", "propertyNames", "if",
               "contentEncoding", "contentMediaType")
    reg.ref_ignores_siblings = True
    return reg


#: 2020-12 vocabulary URI suffix -> the keywords it contributes
#: (core §8.1; core itself cannot be disabled)
_VOCABULARIES = {
    "/vocab/validation": (
        "type", "enum", "const", "multipleOf", "maximum",
        "exclusiveMaximum", "minimum", "exclusiveMinimum", "maxLength",
        "minLength", "pattern", "maxItems", "minItems", "uniqueItems",
        "maxContains", "minContains", "maxProperties", "minProperties",
        "required", "dependentRequired"),
    "/vocab/applicator": (
        "allOf", "anyOf", "oneOf", "not", "if", "then", "else",
        "dependentSchemas", "prefixItems", "items", "contains",
        "properties", "patternProperties", "additionalProperties",
        "propertyNames"),
    "/vocab/unevaluated": ("unevaluatedItems", "unevaluatedProperties"),
}

#: 2019-09 assigns the unevaluated* keywords to the APPLICATOR
#: vocabulary (there is no /vocab/unevaluated before 2020-12 — 2019-09
#: core §8.1 + its meta/applicator schema), and the positional array
#: form is items/additionalItems rather than prefixItems.  Using the
#: 2020-12 table against a 2019-09 meta-schema silently dropped
#: unevaluatedItems/unevaluatedProperties (r4 regen caught it).
_VOCABULARIES_2019 = {
    "/vocab/validation": _VOCABULARIES["/vocab/validation"],
    "/vocab/applicator": (
        "allOf", "anyOf", "oneOf", "not", "if", "then", "else",
        "dependentSchemas", "items", "additionalItems", "contains",
        "properties", "patternProperties", "additionalProperties",
        "propertyNames", "unevaluatedItems", "unevaluatedProperties"),
}


def apply_vocabulary(registry: KeywordRegistry, schema: Any,
                     resolver: Any) -> KeywordRegistry:
    """Vocabulary-aware profile (2020-12 core §8.1): when the schema's
    `$schema` resolves to a registered meta-schema declaring
    `$vocabulary`, keywords of absent vocabularies are dropped (they
    become unknown, hence ignored); unrecognized optional vocabularies
    are themselves ignored.  format-assertion is handled separately
    (the assert_formats flag)."""
    if not isinstance(schema, dict) or resolver is None:
        return registry
    from urllib.parse import urldefrag
    meta = resolver.documents.get(urldefrag(schema.get("$schema", ""))[0])
    if not isinstance(meta, dict):
        return registry
    voc = meta.get("$vocabulary")
    if not isinstance(voc, dict):
        return registry
    declared = {u.rstrip("/") for u in voc}
    # pick the vocabulary->keyword table of the meta-schema's ERA: the
    # same keyword belongs to different vocabularies across drafts
    tables = (_VOCABULARIES_2019
              if any("/draft/2019-09/" in u for u in declared)
              else _VOCABULARIES)
    for suffix, kws in tables.items():
        if not any(u.endswith(suffix) for u in declared):
            registry = registry.without(*kws)
    return registry


#: draft name -> (`$schema` URI, keyword-registry factory): the
#: engine's validator_for table (validators.py:1335-1410).  The name is
#: also the Resolver's draft, so URI resolution follows the schema's
#: own draft (draft<=7 `id`, $ref-ignores-siblings, legacy `#anchor`
#: identifiers)
DRAFTS = {
    "draft2020-12": ("https://json-schema.org/draft/2020-12/schema",
                     default_registry),
    "draft2019-09": ("https://json-schema.org/draft/2019-09/schema",
                     draft2019_registry),
    "draft7": ("http://json-schema.org/draft-07/schema", draft7_registry),
    "draft6": ("http://json-schema.org/draft-06/schema", draft6_registry),
    "draft4": ("http://json-schema.org/draft-04/schema", draft4_registry),
    "draft3": ("http://json-schema.org/draft-03/schema", draft3_registry),
}
_DRAFT_OF_URI = {uri: name for name, (uri, _) in DRAFTS.items()}


def draft_named(uri: Any) -> Optional[str]:
    """The draft a `$schema` URI names, None for any other value.  URIs
    compare as the reference's ``URIDict`` compares them, after
    ``urlsplit(uri).geturl()``, which drops an empty fragment or query:
    ``.../draft-07/schema#`` and ``.../draft-07/schema`` are one draft."""
    if not isinstance(uri, str):
        return None
    return _DRAFT_OF_URI.get(urlsplit(uri).geturl())


def draft_of(schema: Any) -> str:
    """The draft of a schema's `$schema` (2020-12 default, like
    validator_for's default_validator — validators.py:1376-1384)."""
    return ((isinstance(schema, dict) and draft_named(schema.get("$schema")))
            or "draft2020-12")


def registry_for(draft: str) -> KeywordRegistry:
    """The keyword registry of `draft`, a draft name or a suite
    directory under one (``draft7/optional``); 2020-12 for any other."""
    _, factory = DRAFTS.get(draft.split("/", 1)[0], DRAFTS["draft2020-12"])
    return factory()
