"""Constraint-spec meta-validation — the ``check_schema`` analogue.

The reference validates every schema against its meta-schema before use
(``Validator.check_schema``, /root/reference/jsonschema/validators.py:306-316)
and raises ``SchemaError``.  We run a structural meta-check of the keyword
vocabulary the engine compiles, driver-side, before any Spark plan is
built — fail fast, no cluster time wasted on a malformed spec.
"""

from __future__ import annotations

import re
from typing import Any

from .compiler.registry import SchemaCompileError

_TYPES = {"object", "array", "string", "integer", "number", "boolean",
          "null", "any"}

_NUMBER_KW = ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum")
_NONNEG_INT_KW = ("minLength", "maxLength", "minItems", "maxItems",
                  "minProperties", "maxProperties", "minContains",
                  "maxContains")
_SCHEMA_KW = ("not", "if", "then", "else", "items", "contains",
              "additionalProperties", "propertyNames", "unevaluatedItems",
              "unevaluatedProperties")
_SCHEMA_LIST_KW = ("allOf", "anyOf", "oneOf", "prefixItems")
_SCHEMA_MAP_KW = ("properties", "patternProperties", "dependentSchemas",
                  "$defs", "definitions")


def _is_number(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


#: rule keys accepted per stats column (operators/stats.stats_violations)
_X_SPARK_STATS_RULES = frozenset(
    {"max_null_rate", "min", "max", "min_distinct"})
_X_SPARK_DRIFT_KEYS = frozenset(
    {"baseline", "numeric", "categorical", "max_ks", "max_l1", "by"})
#: blocks where JSON null means "all defaults", with their known keys
_X_SPARK_NULLABLE = {"pixel_invariant": frozenset({"min_psnr", "decode"}),
                     "phash_integrity": frozenset({"max_hamming"}),
                     "near_dup_phash": frozenset({"max_hamming", "max_pairs"})}
#: image_quality threshold keys (operators/quality.py) — the block also
#: admits w_col/h_col/bytes_col column-name overrides
_X_SPARK_IMGQ_THRESHOLDS = frozenset(
    {"min_aspect", "max_aspect", "min_pixels", "max_pixels",
     "min_bytes", "max_bytes", "min_bytes_per_pixel",
     "max_bytes_per_pixel"})
_X_SPARK_IMGQ_COLS = frozenset({"w_col", "h_col", "bytes_col"})


def _check_x_spark(xs: Any, path: str) -> None:
    """Meta-check of the engine's ``x-spark`` dataset-check block (the
    grammar is dataset.py's module docstring): a config mistake fails
    driver-side with a pointed SchemaCompileError instead of an opaque
    error deep inside a running Spark job.  Unknown top-level block
    names are tolerated (forward compatibility, like unknown JSON-Schema
    keywords); unknown keys INSIDE a known block are rejected — they are
    silently ignored at runtime, i.e. a typo would disable the check."""
    def bad(where: str, why: str) -> SchemaCompileError:
        return SchemaCompileError(f"{path}{where}: {why}")
    if not isinstance(xs, dict):
        raise bad("", "must be an object")
    if "unique" in xs:
        v = xs["unique"]
        if (not isinstance(v, list)
                or not all(isinstance(k, str) and k for k in v)):
            raise bad("/unique", "must be an array of column names")
    if "referential" in xs:
        v = xs["referential"]
        if not isinstance(v, list):
            raise bad("/referential", "must be an array of objects")
        for i, r in enumerate(v):
            ref = r.get("ref") if isinstance(r, dict) else None
            if (not isinstance(r, dict)
                    or not isinstance(r.get("column"), str)
                    or not isinstance(ref, dict)
                    or not isinstance(ref.get("table"), str)
                    or not isinstance(ref.get("key"), str)):
                raise bad(f"/referential/{i}",
                          'must be {"column": str, "ref": '
                          '{"table": str, "key": str}}')
    if "stats" in xs:
        v = xs["stats"]
        if not isinstance(v, dict):
            raise bad("/stats", "must map column names to rule objects")
        for col, rule in v.items():
            if not isinstance(rule, dict):
                raise bad(f"/stats/{col}", "must be a rule object")
            unknown = set(rule) - _X_SPARK_STATS_RULES
            if unknown:
                raise bad(f"/stats/{col}",
                          f"unknown rule(s) {sorted(unknown)}; known: "
                          f"{sorted(_X_SPARK_STATS_RULES)}")
            for k, val in rule.items():
                if k == "min_distinct":
                    if not isinstance(val, int) or isinstance(val, bool):
                        raise bad(f"/stats/{col}/{k}", "must be an integer")
                elif k in ("min", "max"):
                    # bounds compare against the column's own ordering —
                    # strings/dates are as valid as numbers
                    if not (_is_number(val) or isinstance(val, str)):
                        raise bad(f"/stats/{col}/{k}",
                                  "must be a number or string")
                elif not _is_number(val):
                    raise bad(f"/stats/{col}/{k}", "must be a number")
    if "drift" in xs:
        d = xs["drift"]
        if not isinstance(d, dict) or not isinstance(d.get("baseline"), str):
            raise bad("/drift", 'must be an object with a "baseline" path')
        unknown = set(d) - _X_SPARK_DRIFT_KEYS
        if unknown:
            raise bad("/drift", f"unknown key(s) {sorted(unknown)}; known: "
                                f"{sorted(_X_SPARK_DRIFT_KEYS)}")
        num = d.get("numeric") or {}
        if not isinstance(num, dict):
            raise bad("/drift/numeric", "must map columns to [lo, hi, bins]")
        for col, bounds in num.items():
            if (not isinstance(bounds, (list, tuple)) or len(bounds) != 3
                    or not all(_is_number(x) for x in bounds)):
                raise bad(f"/drift/numeric/{col}",
                          "must be [lo, hi, bins] (three numbers)")
            lo, hi, bins = bounds
            if (not isinstance(bins, int) or isinstance(bins, bool)
                    or bins < 1):
                raise bad(f"/drift/numeric/{col}",
                          "bins must be a positive integer")
            if not lo < hi:
                raise bad(f"/drift/numeric/{col}", "needs lo < hi")
        cat = d.get("categorical") or ()
        if (not isinstance(cat, (list, tuple))
                or not all(isinstance(c, str) for c in cat)):
            raise bad("/drift/categorical",
                      "must be an array of column names")
        for k in ("max_ks", "max_l1"):
            if d.get(k) is not None and not _is_number(d[k]):
                raise bad(f"/drift/{k}", "must be a number")
        if "by" in d:
            if not isinstance(d["by"], str) or not d["by"]:
                raise bad("/drift/by", "must be a partition column name")
            if not num and not cat:
                raise bad("/drift/by", "per-partition drift needs at "
                          "least one numeric or categorical column to "
                          "profile (the check would otherwise be a "
                          "silent no-op)")
    if "repetition" in xs and xs["repetition"] is not None:
        r = xs["repetition"]
        if not isinstance(r, dict):
            raise bad("/repetition", "must be an object or null")
        unknown = set(r) - {"column", "max_top", "max_dup"}
        if unknown:
            raise bad("/repetition", f"unknown key(s) {sorted(unknown)}; "
                                     "known: ['column', 'max_dup', "
                                     "'max_top']")
        if "column" in r and not (isinstance(r["column"], str)
                                  and r["column"]):
            raise bad("/repetition/column", "must be a column name")
        for fam in ("max_top", "max_dup"):
            m = r.get(fam)
            if m is None:
                continue
            if not isinstance(m, dict):
                raise bad(f"/repetition/{fam}",
                          'must map n (as a JSON string, e.g. "2") to a '
                          "max fraction")
            for k, val in m.items():
                if not (isinstance(k, str) and k.isdigit() and int(k) >= 2):
                    raise bad(f"/repetition/{fam}/{k}",
                              "n must be an integer string >= 2")
                if not _is_number(val) or not 0 <= val <= 1:
                    raise bad(f"/repetition/{fam}/{k}",
                              "max fraction must be a number in [0, 1]")
    if "pii" in xs and xs["pii"] is not None:
        p = xs["pii"]
        if not isinstance(p, dict):
            raise bad("/pii", "must be an object or null")
        unknown = set(p) - {"column", "max_hits"}
        if unknown:
            raise bad("/pii", f"unknown key(s) {sorted(unknown)}; known: "
                              "['column', 'max_hits']")
        if "column" in p and not (isinstance(p["column"], str)
                                  and p["column"]):
            raise bad("/pii/column", "must be a column name")
        mh = p.get("max_hits")
        if mh is not None and (not isinstance(mh, int)
                               or isinstance(mh, bool) or mh < 0):
            raise bad("/pii/max_hits", "must be a non-negative integer")
    if "contamination" in xs:
        c = xs["contamination"]
        if not isinstance(c, dict) or not isinstance(c.get("ref_table"),
                                                     str):
            raise bad("/contamination",
                      'must be an object with a "ref_table" name')
        unknown = set(c) - {"column", "ref_table", "ref_column", "n",
                            "max_frac", "on_hash"}
        if unknown:
            raise bad("/contamination",
                      f"unknown key(s) {sorted(unknown)}; known: "
                      "['column', 'max_frac', 'n', 'on_hash', "
                      "'ref_column', 'ref_table']")
        for k in ("column", "ref_column"):
            if k in c and not (isinstance(c[k], str) and c[k]):
                raise bad(f"/contamination/{k}", "must be a column name")
        if "n" in c and (not isinstance(c["n"], int)
                         or isinstance(c["n"], bool) or c["n"] < 1):
            raise bad("/contamination/n", "must be a positive integer")
        mf = c.get("max_frac")
        if mf is not None and (not _is_number(mf) or not 0 <= mf <= 1):
            raise bad("/contamination/max_frac",
                      "must be a number in [0, 1]")
        if "on_hash" in c and not isinstance(c["on_hash"], bool):
            raise bad("/contamination/on_hash", "must be a boolean")
    if "image_quality" in xs:
        q = xs["image_quality"]
        if not isinstance(q, dict):
            raise bad("/image_quality", "must be an object")
        unknown = set(q) - _X_SPARK_IMGQ_THRESHOLDS - _X_SPARK_IMGQ_COLS
        if unknown:
            raise bad("/image_quality",
                      f"unknown key(s) {sorted(unknown)}; known: "
                      f"{sorted(_X_SPARK_IMGQ_THRESHOLDS)} + "
                      f"{sorted(_X_SPARK_IMGQ_COLS)}")
        if not set(q) & _X_SPARK_IMGQ_THRESHOLDS:
            raise bad("/image_quality",
                      "needs at least one threshold key (the check "
                      "would otherwise be a silent no-op)")
        for k, val in q.items():
            if k in _X_SPARK_IMGQ_COLS:
                if not (isinstance(val, str) and val):
                    raise bad(f"/image_quality/{k}",
                              "must be a column name")
            elif not _is_number(val):
                raise bad(f"/image_quality/{k}", "must be a number")
        for lo_k, hi_k in (("min_aspect", "max_aspect"),
                           ("min_pixels", "max_pixels"),
                           ("min_bytes", "max_bytes"),
                           ("min_bytes_per_pixel",
                            "max_bytes_per_pixel")):
            if (lo_k in q and hi_k in q and not q[lo_k] <= q[hi_k]):
                raise bad(f"/image_quality/{lo_k}",
                          f"must be <= {hi_k}")
    if "image_quality_decoded" in xs:
        q = xs["image_quality_decoded"]
        if not isinstance(q, dict):
            raise bad("/image_quality_decoded", "must be an object")
        known = {"min_luma", "max_luma", "min_contrast"}
        unknown = set(q) - known
        if unknown:
            raise bad("/image_quality_decoded",
                      f"unknown key(s) {sorted(unknown)}; known: "
                      f"{sorted(known)}")
        if not q:
            raise bad("/image_quality_decoded",
                      "needs at least one threshold key (the check "
                      "would otherwise be a silent no-op)")
        for k, val in q.items():
            if not _is_number(val):
                raise bad(f"/image_quality_decoded/{k}",
                          "must be a number")
        if ("min_luma" in q and "max_luma" in q
                and not q["min_luma"] <= q["max_luma"]):
            raise bad("/image_quality_decoded/min_luma",
                      "must be <= max_luma")
    if "alignment" in xs:
        a = xs["alignment"]
        if not isinstance(a, dict):
            raise bad("/alignment", "must be an object")
        unknown = set(a) - {"image_col", "text_col", "min_cosine",
                            "method"}
        if unknown:
            raise bad("/alignment",
                      f"unknown key(s) {sorted(unknown)}; known: "
                      "['image_col', 'method', 'min_cosine', "
                      "'text_col']")
        if "method" in a and a["method"] not in ("native", "arrow"):
            raise bad("/alignment/method",
                      'must be "native" or "arrow"')
        for k in ("image_col", "text_col"):
            if not (isinstance(a.get(k), str) and a.get(k)):
                raise bad(f"/alignment/{k}",
                          "must be an embedding column name")
        mc = a.get("min_cosine")
        if mc is not None and (not _is_number(mc) or not -1 <= mc <= 1):
            raise bad("/alignment/min_cosine",
                      "must be a number in [-1, 1]")
    for block, keys in _X_SPARK_NULLABLE.items():
        if block not in xs or xs[block] is None:  # null == all defaults
            continue
        cfg = xs[block]
        if not isinstance(cfg, dict):
            raise bad(f"/{block}", "must be an object or null")
        unknown = set(cfg) - keys
        if unknown:
            raise bad(f"/{block}", f"unknown key(s) {sorted(unknown)}; "
                                   f"known: {sorted(keys)}")
        for k, val in cfg.items():
            if k == "decode":
                if val not in ("stub", "real", "auto"):
                    raise bad(f"/{block}/decode",
                              'must be "stub", "real" or "auto"')
            elif k == "min_psnr":
                if not _is_number(val):
                    raise bad(f"/{block}/{k}", "must be a number")
            elif not isinstance(val, int) or isinstance(val, bool):
                raise bad(f"/{block}/{k}", "must be an integer")
            elif k == "max_hamming" and block == "near_dup_phash" \
                    and not 0 <= val <= 3:
                # the bit-flip enumeration's 2-block single-flip
                # regime caps at 3 — reject at compile time (dedup.py
                # enforces the same bound with ValueError at the
                # operator seam)
                raise bad(f"/{block}/max_hamming",
                          "must be 0..3 (the exact-recall regime of "
                          "the bit-flip enumeration)")
            elif k == "max_hamming" and block == "phash_integrity" \
                    and not 0 <= val <= 64:
                raise bad(f"/{block}/max_hamming",
                          "must be 0..64 (64-bit phash)")


def check_schema(schema: Any, path: str = "#",
                 extra_types: frozenset = frozenset()) -> None:
    """Raise :class:`SchemaCompileError` if the spec is malformed.
    `extra_types` admits registry-redefined type names
    (KeywordRegistry.redefine_type, the TypeChecker.redefine
    analogue)."""
    if isinstance(schema, bool):
        return
    if not isinstance(schema, dict):
        raise SchemaCompileError(f"{path}: schema must be an object or "
                                 f"boolean, got {type(schema).__name__}")

    def bad(kw: str, why: str) -> SchemaCompileError:
        return SchemaCompileError(f"{path}/{kw}: {why}")

    if "type" in schema:
        v = schema["type"]
        vals = v if isinstance(v, list) else [v]
        for t in vals:
            if isinstance(t, dict):          # draft3: type may be a schema
                check_schema(t, f"{path}/type", extra_types)
            elif not (isinstance(t, str) and (t in _TYPES
                                              or t in extra_types)):
                raise bad("type", f"invalid type value {v!r}")
    if "enum" in schema:
        if not isinstance(schema["enum"], list) or not schema["enum"]:
            raise bad("enum", "must be a non-empty array")
    for kw in _NUMBER_KW:
        if kw in schema and not _is_number(schema[kw]):
            # draft4 spells exclusiveMinimum/Maximum as boolean modifiers
            # of minimum/maximum (_legacy_keywords.py:138-167)
            if kw.startswith("exclusive") and isinstance(schema[kw], bool):
                continue
            raise bad(kw, "must be a number")
    if "multipleOf" in schema:
        v = schema["multipleOf"]
        if not _is_number(v) or v <= 0:
            raise bad("multipleOf", "must be a positive number")
    for kw in _NONNEG_INT_KW:
        if kw in schema:
            v = schema[kw]
            if not isinstance(v, int) or isinstance(v, bool) or v < 0:
                raise bad(kw, "must be a non-negative integer")
    if "pattern" in schema:
        if not isinstance(schema["pattern"], str):
            raise bad("pattern", "must be a string")
        try:
            re.compile(schema["pattern"])
        except re.error as e:
            raise bad("pattern", f"invalid regex: {e}")
    if "required" in schema:
        v = schema["required"]
        if not isinstance(v, bool):          # draft3: boolean form
            if (not isinstance(v, list)
                    or not all(isinstance(x, str) for x in v)):
                raise bad("required", "must be an array of strings")
    if "dependentRequired" in schema:
        v = schema["dependentRequired"]
        if not isinstance(v, dict) or not all(
                isinstance(deps, list)
                and all(isinstance(d, str) for d in deps)
                for deps in v.values()):
            raise bad("dependentRequired",
                      "must map property names to arrays of strings")
    if "uniqueItems" in schema and not isinstance(schema["uniqueItems"], bool):
        raise bad("uniqueItems", "must be a boolean")
    if "format" in schema and not isinstance(schema["format"], str):
        raise bad("format", "must be a string")
    for kw in ("$ref", "$dynamicRef"):
        if kw in schema and not isinstance(schema[kw], str):
            raise bad(kw, "must be a string")

    if "dependencies" in schema:
        v = schema["dependencies"]
        if not isinstance(v, dict):
            raise bad("dependencies", "must be an object")
        for name, dep in v.items():
            if isinstance(dep, list):
                if not all(isinstance(d, str) for d in dep):
                    raise bad("dependencies",
                              f"{name!r}: array form must hold strings")
            else:
                check_schema(dep, f"{path}/dependencies/{name}", extra_types)
    for kw in _SCHEMA_KW:
        if kw in schema:
            v = schema[kw]
            if kw == "items" and isinstance(v, list):
                # draft4-2019 positional form (_legacy_keywords.py:92-103)
                for i, sub in enumerate(v):
                    check_schema(sub, f"{path}/items/{i}", extra_types)
                continue
            check_schema(v, f"{path}/{kw}", extra_types)
    if "additionalItems" in schema:
        check_schema(schema["additionalItems"], f"{path}/additionalItems", extra_types)
    for kw in _SCHEMA_LIST_KW:
        if kw in schema:
            v = schema[kw]
            if not isinstance(v, list) or (kw != "prefixItems" and not v):
                raise bad(kw, "must be a non-empty array of schemas")
            for i, sub in enumerate(v):
                check_schema(sub, f"{path}/{kw}/{i}", extra_types)
    for kw in _SCHEMA_MAP_KW:
        if kw in schema:
            v = schema[kw]
            if not isinstance(v, dict):
                raise bad(kw, "must be an object of schemas")
            for name, sub in v.items():
                if kw == "patternProperties":
                    try:
                        re.compile(name)
                    except re.error as e:
                        raise bad(kw, f"invalid regex key {name!r}: {e}")
                check_schema(sub, f"{path}/{kw}/{name}", extra_types)
    if "x-spark" in schema and path == "#":
        # root only: validate_dataset reads only the document-root block;
        # nested x-spark keys stay inert annotations (ignored like any
        # unknown keyword), so their shape is not this check's business
        _check_x_spark(schema["x-spark"], f"{path}/x-spark")
