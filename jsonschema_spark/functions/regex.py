"""Python-regex -> Spark predicate compilation.

The reference's ``pattern`` keyword is unanchored ``re.search``
(/root/reference/jsonschema/_keywords.py:215-220).  Java's ``rlike`` is
also an unanchored find, so most patterns compile natively (whole-stage
codegen, no Python in the hot path).  Patterns using constructs whose
semantics diverge between the ``re`` and ``java.util.regex`` dialects
fall back to an Arrow-batched pandas UDF wrapping the real ``re`` engine.
"""

from __future__ import annotations

import hashlib
import re
from typing import Callable, Optional

import pandas as pd

from ..compiler import sql
from ..compiler.sql import Expr


def _scan_unsafe(pattern: str) -> Optional[str]:
    """Return a reason string if the pattern must not be handed to Java."""
    if "(?(" in pattern:
        return "conditional group"
    if "(?#" in pattern:
        return "comment group"
    # Java character classes support union/intersection syntax ([a[b]],
    # [a&&[b]]) that Python treats literally — any '[' or '&&' inside a
    # class is dialect-divergent.
    in_class = False
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            i += 2
            continue
        if not in_class and ch == "[":
            in_class = True
        elif in_class and ch == "[":
            return "nested character class"
        elif in_class and ch == "&" and pattern[i:i + 2] == "&&":
            return "class intersection syntax"
        elif in_class and ch == "]":
            in_class = False
        i += 1
    return None


#: a brace group; Python repeats on ``{m}``, ``{m,}``, ``{,n}``,
#: ``{m,n}`` and ``{,}`` and reads any other ``{`` as a literal
_BRACES = re.compile(r"\{(\d*)(,?)(\d*)\}")


def _to_java(pattern: str) -> Optional[str]:
    """Translate a Python regex to an equivalent Java regex, or None."""
    if _scan_unsafe(pattern) is not None:
        return None
    out = []
    i = 0
    in_class = False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            nxt = pattern[i + 1]
            if nxt == "Z":          # Python \Z (absolute end) == Java \z
                out.append("\\z")
                i += 2
                continue
            if nxt == "N" and pattern.startswith("{", i + 2):
                j = pattern.index("}", i) + 1  # \N{name}, the same in Java
                out.append(pattern[i:j])
                i = j
                continue
            out.append(ch + nxt)
            i += 2
            continue
        if ch == "{" and not in_class:
            # Java requires the lower bound and rejects a literal `{`
            m = _BRACES.match(pattern, i)
            if m is not None and (m.group(1) or m.group(2)):
                lo, comma, hi = m.groups()
                out.append("{" + (lo or "0") + comma + hi + "}")
                i = m.end()
            else:
                out.append("\\{")
                i += 1
            continue
        in_class = (in_class or ch == "[") and ch != "]"
        if pattern.startswith("(?P<", i):
            out.append("(?<")
            i += 4
            continue
        if pattern.startswith("(?P=", i):
            j = pattern.index(")", i)
            out.append("\\k<" + pattern[i + 4:j] + ">")
            i = j + 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def compile_pattern_predicate(col: Expr, pattern: str,
                              warn: Optional[Callable[[str], None]] = None
                              ) -> Expr:
    """Boolean Column: True when ``re.search(pattern, value)`` matches."""
    re.compile(pattern)  # schema-time validation; raises re.error
    java = _to_java(pattern)
    if java is not None:
        return col.rlike(java)
    if warn:
        warn(f"pattern {pattern!r} uses Python-only syntax; "
             f"falling back to pandas UDF")
    return python_regex_search(col, pattern)


def python_regex_search(col: Expr, pattern: str) -> Expr:
    """Exact ``re.search`` semantics via an Arrow-batched pandas UDF,
    called by a name derived from the pattern."""

    def build():
        from pyspark.sql import functions as F

        @F.pandas_udf("boolean")
        def _search(s: pd.Series) -> pd.Series:
            return s.str.contains(pattern, regex=True, na=False)
        return _search

    digest = hashlib.sha1(pattern.encode("utf-8", "surrogatepass"))
    return sql.udf_call("_jss_re_" + digest.hexdigest()[:16], build, col)
