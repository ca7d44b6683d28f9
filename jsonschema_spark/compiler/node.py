"""Compiled-plan IR: checks and nodes.

The reference precompiles a schema into a list of ``(callable, keyword,
value)`` triples (see /root/reference/jsonschema/validators.py:293-297) and
evaluates them per instance. Our IR is the vectorized analogue: a schema
compiles into a list of :class:`Check` objects, each carrying a boolean
``pred`` Column (True = row passes this keyword) plus the compile-time
error metadata (keyword, json_path, schema_path) that the reference fills
into ``ValidationError`` at runtime
(/root/reference/jsonschema/exceptions.py:50-95).
"""

from __future__ import annotations

import copy
from dataclasses import MISSING, dataclass, field
from typing import Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


class _Deferred:
    """A :class:`Check` field that may hold a zero-argument builder in
    place of its Column.  The first read runs the builder and stores the
    Column over it, so every later read returns that same Column."""

    def __init__(self, default=MISSING):
        self.default = default

    def __set_name__(self, owner, name: str) -> None:
        self.slot = "_" + name

    def __get__(self, obj, owner=None):
        if obj is None:  # class access: the dataclass field default
            if self.default is MISSING:
                raise AttributeError(self.slot[1:])
            return self.default
        v = obj.__dict__[self.slot]
        # a Column is callable too (it defines __call__), so test it first
        if callable(v) and not isinstance(v, Column):
            v = obj.__dict__[self.slot] = v()
        return v

    def __set__(self, obj, value) -> None:
        obj.__dict__[self.slot] = value


@dataclass
class Check:
    """One keyword bound to one instance location.

    ``pred`` is a Column evaluating to True when the row satisfies the
    keyword.  NULL-at-binding rows are handled by the caller (a NULL column
    means "property absent", so every property-bound check passes except
    ``required``).

    ``message``, ``failing_value`` and ``type_match`` feed violation rows
    only, so they are deferred: each may be given as a Column or as a
    zero-argument builder of one, and a builder runs on the first read
    of its field (``violations()``, ``best_match``), never during
    compile.  ``counts``, ``with_valid`` and ``manifest`` read only
    ``pred`` and so never pay for them.  :meth:`clone` copies a check
    without running its builders.
    """

    keyword: str
    json_path: str        # '$.fmt' style instance path (exceptions.py:152-163)
    schema_path: str      # 'properties/fmt/enum' style keyword location
    pred: Column
    #: string Column with a reference-style message (deferred)
    message: Column = _Deferred()
    #: stringified offending value (deferred)
    failing_value: Column = _Deferred()
    #: presence assertions (draft3 `required: true` inside a property
    #: subschema) must NOT be vacuously satisfied by a NULL binding
    skip_null_guard: bool = False
    #: schema_path of the anyOf/oneOf composite this check is *context*
    #: of (ValidationError.context, exceptions.py:120-131): context
    #: checks never affect validity, they exist for best_match descent
    context_of: Optional[str] = None
    #: ``error._matches_type()`` (exceptions.py:184-197) as a Column:
    #: does the *containing* subschema's ``type`` match the instance's
    #: runtime type?  Statically derivable per check (the bound Spark
    #: type is known at compile time; only NULL-ness is runtime) —
    #: annotated by ``compile_subschema``; None = no `type` keyword in
    #: the error's schema (the reference's KeyError -> False).  The 5th
    #: by_relevance element (exceptions.py:421).  Deferred.
    type_match: Optional[Column] = _Deferred(None)

    def has_type_match(self) -> bool:
        """Whether ``type_match`` is set (built or not), without
        building it."""
        return self._type_match is not None

    def clone(self, **changes) -> "Check":
        """A copy with `changes` applied.  Deferred fields are copied as
        they stand, builders unrun (``dataclasses.replace`` reads every
        field and would build them)."""
        out = copy.copy(self)
        for name, value in changes.items():
            setattr(out, name, value)
        return out


def null_string() -> Column:
    """A NULL string Column: the failing value of checks that have no
    offending value (``required``, static failures)."""
    return F.lit(None).cast("string")


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
    pred: Column


@dataclass
class Node:
    """A compiled (sub)schema: its checks plus the combined validity."""

    checks: list[Check] = field(default_factory=list)
    #: context checks (see Check.context_of) — propagated up but never
    #: part of .ok
    context: list[Check] = field(default_factory=list)

    @property
    def ok(self) -> Column:
        return all_of([c.pred for c in self.checks])


def all_of(cols: Sequence[Column]) -> Column:
    """Kleene AND of `cols` (True when empty) as a balanced tree that
    keeps their left-to-right order.  A left-deep chain of hundreds of
    terms overflows the JVM stack in Catalyst's recursive tree walks;
    the balanced tree is log-deep and evaluates to the same value."""
    if len(cols) <= 1:
        return cols[0] if cols else F.lit(True)
    mid = len(cols) // 2
    return all_of(cols[:mid]) & all_of(cols[mid:])
