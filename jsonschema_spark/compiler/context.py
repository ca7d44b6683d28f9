"""Compile-time context threaded through keyword compilers.

Mirrors what the reference's ``descend()`` carries down the schema tree —
instance path, schema path, and the resolver scope
(/root/reference/jsonschema/validators.py:396-446) — except ours is pure
compile-time state: no data flows through it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace
from typing import TYPE_CHECKING, Any, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sql import Expr, col

if TYPE_CHECKING:
    from .registry import KeywordRegistry

#: ``ValidationError.json_path``'s identifier pattern
_IDENT = re.compile(r"^[a-zA-Z][a-zA-Z0-9_]*$")
#: one rendered component as a Java regex: ``.name`` (Python's ``$`` lets
#: ``_IDENT`` match ``name\n``), ``[i]`` or ``['escaped name']``
_TOKEN = r"\.[a-zA-Z][a-zA-Z0-9_]*\n?|\[[0-9]+\]|\['(?:[^'\\]|\\.)*'\]"


def json_path_join(base: str, fragment: Any) -> str:
    """Render a JSONPath exactly as ``ValidationError.json_path`` does
    (jsonschema/exceptions.py:152-163): ``$`` root, ``.prop`` for keys
    matching ``_IDENT``, ``['odd key']`` with ``\\`` and ``'``
    backslash-escaped otherwise, ``[i]`` for array indexes.  The Column
    functions below parse this grammar back natively."""
    if isinstance(fragment, int):
        return f"{base}[{fragment}]"
    name = str(fragment)
    if _IDENT.match(name):
        return f"{base}.{name}"
    return "%s['%s']" % (base, name.replace("\\", "\\\\").replace("'", "\\'"))


def _path_tokens(json_path: Column) -> Column:
    return F.regexp_extract_all(json_path, F.lit(_TOKEN), 0)


def _token_name(t: Column) -> Column:
    """A token's component: the unescaped name, or the index digits."""
    n = F.length(t)
    return (F.when(t.startswith("['"), F.regexp_replace(
                t.substr(F.lit(3), n - 4), r"\\(.)", "$1"))
            .when(t.startswith("["), t.substr(F.lit(2), n - 2))
            .otherwise(t.substr(F.lit(2), n)))


def path_depth(json_path: Column) -> Column:
    """Component count of a rendered json_path (``len(error.path)``)."""
    return F.size(_path_tokens(json_path))


def path_order(json_path: Column) -> Column:
    """``array<struct<i:long, s:string>>`` that sorts like the reference's
    ``error.path`` deque: indexes as integers, names as strings."""
    return F.transform(_path_tokens(json_path), lambda t: F.struct(
        F.when(t.rlike(r"^\[[0-9]"), _token_name(t).cast("long")).alias("i"),
        F.when(~t.rlike(r"^\[[0-9]"), _token_name(t)).alias("s")))


def json_pointer(json_path: Column) -> Column:
    """RFC 6901 pointer of a rendered json_path: ``$`` -> ``''``, each
    component -> ``/`` + its ``~0``/``~1``-escaped name.  A string that
    is not ``$`` followed by exactly its tokens passes through verbatim."""
    tokens = _path_tokens(json_path)
    pointer = F.array_join(F.transform(tokens, lambda t: F.concat(
        F.lit("/"), F.regexp_replace(F.regexp_replace(
            _token_name(t), "~", "~0"), "/", "~1"))), "")
    return F.when(F.concat(F.lit("$"), F.array_join(tokens, ""))
                  == json_path, pointer).otherwise(json_path)


def pointer_escape(name: Any) -> str:
    """RFC 6901 escaping for ONE pointer segment: ``~`` -> ``~0``,
    ``/`` -> ``~1``.  Applied wherever a *schema-controlled name*
    (property name, pattern, dependency key) is embedded in a schema
    path, so a property called ``~a/b`` renders as ``~0a~1b`` — the
    official output-tests' keywordLocation expectation
    (json/output-tests/draft2020-12/content/escape.json).  Keyword
    fragments themselves (``anyOf``, ``properties``, ...) never contain
    ``/``/``~`` and are joined verbatim."""
    return str(name).replace("~", "~0").replace("/", "~1")


def schema_path_join(base: str, fragment: Any) -> str:
    return f"{base}/{fragment}" if base else str(fragment)


@dataclass
class CompileContext:
    """State for compiling one subschema against one bound expression."""

    registry: "KeywordRegistry"
    target: Optional[Expr]            # bound instance expression (None = row scope)
    dtype: Optional[T.DataType]       # Spark type of `target` (None = row scope)
    json_path: str = "$"
    schema_path: str = ""
    root_schema: Optional[dict] = None   # for $ref / $defs resolution
    row_fields: Optional[list[T.StructField]] = None  # row-scope column list
    #: True when a NULL target means "property absent" (column / struct
    #: field binding); False for array elements, where NULL is a present
    #: JSON null instance.
    null_is_absent: bool = True
    #: Data-model policy for OBJECT-MEMBER bindings: what
    #: ``null_is_absent`` should reset to when binding a struct field /
    #: map value, regardless of the current scope's flag.  ``None``
    #: (default) inherits the current flag — the original behavior,
    #: right for suite mode where every NULL is a present JSON null.
    #: Document/table mode sets True so members of structs INSIDE
    #: ARRAYS go back to NULL==absent after the element scope set
    #: null_is_absent=False (a null *element* is present; a NULL
    #: *member* of that element is absent — how field-union struct
    #: types represent objects with differing key sets).
    absent_policy: Optional[bool] = None
    #: URI-based reference machinery (compiler/resolver.py) — the
    #: referencing-registry analogue.  base_uri is the current schema
    #: resource's base; dynamic_scope the resources entered so far
    #: (outermost first), for $dynamicRef/$recursiveRef.
    resolver: Optional[Any] = None
    base_uri: str = ""
    dynamic_scope: tuple = ()
    #: (id(referent), json_path) pairs currently on the compile stack —
    #: revisiting one means the schema recurses without consuming
    #: instance depth: a genuine infinite loop, raised as a compile error
    #: (never silently passed).
    ref_stack: frozenset = frozenset()
    #: True when the bound target is a statically-absent object member
    #: (NULL literal): value checks pass vacuously, so $ref recursion in
    #: this scope is cut off as a pass, not an error.
    statically_absent: bool = False
    max_ref_depth: int = 64
    #: compile-time $ref expansion memo, shared down the tree (like
    #: `warnings`) and scoped to one root compile.  Keyed by
    #: (referent identity, json_path, target expression text, dtype,
    #: binding flags, resource base, dynamic scope) — everything the
    #: compiled expressions can depend on.  See
    #: applicators._compile_referent.
    ref_memo: dict = field(default_factory=dict)
    warnings: list[str] = field(default_factory=list)
    #: AnnotationUnit rows collected during compile (annotation keywords
    #: like readOnly/title/default with their locations + applicability
    #: predicates) — shared down the tree like `warnings`.
    annotations: list = field(default_factory=list)

    def child(self, *, target: Optional[Expr] = None,
              dtype: Optional[T.DataType] = None,
              path_fragment: Any = None,
              schema_fragment: Any = None,
              null_is_absent: Optional[bool] = None,
              row_fields: Optional[list[T.StructField]] = "KEEP") -> "CompileContext":
        jp = self.json_path if path_fragment is None else json_path_join(self.json_path, path_fragment)
        sp = self.schema_path if schema_fragment is None else schema_path_join(self.schema_path, schema_fragment)
        rf = self.row_fields if row_fields == "KEEP" else row_fields
        nia = self.null_is_absent if null_is_absent is None else null_is_absent
        return replace(self, target=target if target is not None else self.target,
                       dtype=dtype if dtype is not None else self.dtype,
                       json_path=jp, schema_path=sp, row_fields=rf,
                       null_is_absent=nia, warnings=self.warnings)

    def member(self, name: str) -> Expr:
        """Object member `name` of the target: a column at row scope,
        quoted so a dot in the name is not read as struct access."""
        if self.target is None:
            return col(name)
        return self.target.getField(name)

    def warn(self, msg: str) -> None:
        self.warnings.append(f"{self.schema_path or '<root>'}: {msg}")

    # --- static type classification helpers -------------------------------
    def is_string(self) -> bool:
        return isinstance(self.dtype, T.StringType)

    def is_numeric(self) -> bool:
        return isinstance(self.dtype, (T.ByteType, T.ShortType, T.IntegerType,
                                       T.LongType, T.FloatType, T.DoubleType,
                                       T.DecimalType))

    def is_integral(self) -> bool:
        return isinstance(self.dtype, (T.ByteType, T.ShortType, T.IntegerType,
                                       T.LongType))

    def is_boolean(self) -> bool:
        return isinstance(self.dtype, T.BooleanType)

    def is_array(self) -> bool:
        return isinstance(self.dtype, T.ArrayType)

    def is_struct(self) -> bool:
        return isinstance(self.dtype, T.StructType)

    def is_map(self) -> bool:
        return isinstance(self.dtype, T.MapType)

    def is_binary(self) -> bool:
        return isinstance(self.dtype, T.BinaryType)
