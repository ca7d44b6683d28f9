"""Compiled-plan IR: checks and nodes.

The reference precompiles a schema into a list of ``(callable, keyword,
value)`` triples (see /root/reference/jsonschema/validators.py:293-297) and
evaluates them per instance. Our IR is the vectorized analogue: a schema
compiles into a list of :class:`Check` objects, each carrying a boolean
``pred`` SQL expression (True = row passes this keyword) plus the
compile-time error metadata (keyword, json_path, schema_path) that the
reference fills into ``ValidationError`` at runtime
(/root/reference/jsonschema/exceptions.py:50-95).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from . import sql
from .sql import Expr


@dataclass
class Check:
    """One keyword bound to one instance location.

    ``pred`` is an expression evaluating to True when the row satisfies
    the keyword.  NULL-at-binding rows are handled by the caller (a NULL
    column means "property absent", so every property-bound check passes
    except ``required``).

    ``message``, ``failing_value`` and ``type_match`` feed violation rows
    only.  Every field is SQL text built in Python: no JVM round trip.
    """

    keyword: str
    json_path: str        # '$.fmt' style instance path (exceptions.py:152-163)
    schema_path: str      # 'properties/fmt/enum' style keyword location
    pred: Expr
    #: string expression with a reference-style message
    message: Expr
    #: stringified offending value
    failing_value: Expr
    #: presence assertions (draft3 `required: true` inside a property
    #: subschema) must NOT be vacuously satisfied by a NULL binding
    skip_null_guard: bool = False
    #: schema_path of the anyOf/oneOf composite this check is *context*
    #: of (ValidationError.context, exceptions.py:120-131): context
    #: checks never affect validity, they exist for best_match descent
    context_of: Optional[str] = None
    #: ``error._matches_type()`` (exceptions.py:184-197): does the
    #: *containing* subschema's ``type`` match the instance's runtime
    #: type?  Statically derivable per check (the bound Spark type is
    #: known at compile time; only NULL-ness is runtime) — annotated by
    #: ``compile_subschema``; FALSE when that subschema has no ``type``
    #: (the reference's KeyError -> False).  The 5th by_relevance
    #: element (exceptions.py:421).
    type_match: Optional[Expr] = None


@dataclass
class AnnotationUnit:
    """One annotation keyword bound to one instance location — the
    compile-time image of a 2020-12 "basic" output-format annotation
    unit (json/output-tests/*/output-schema.json outputUnit).  `value`
    is the literal annotation value from the schema; `pred` is True for
    rows where the owning subschema successfully applies (its own checks
    pass and the bound instance is present).  Collection is structural:
    subschemas under ``not`` or an inactive conditional branch are not
    subtracted (documented limitation; the official output-tests'
    content suite exercises direct and branch annotations only)."""

    keyword: str
    json_path: str
    schema_path: str
    value: object
    pred: Expr


@dataclass
class Node:
    """A compiled (sub)schema: its checks plus the combined validity."""

    checks: list[Check] = field(default_factory=list)
    #: context checks (see Check.context_of) — propagated up but never
    #: part of .ok
    context: list[Check] = field(default_factory=list)

    @property
    def ok(self) -> Expr:
        return sql.all_of(c.pred for c in self.checks)
