"""Spark SQL text for compiled predicates.

Keyword compilers build predicates as :class:`Expr` text, not PySpark
``Column``s, each of whose operations is a py4j round trip.  This module
mirrors the part of ``pyspark.sql.functions`` and ``Column`` they use,
under the same names; a validator output crosses to the JVM once, as one
``F.expr`` (:func:`column`).  The text parses to the Catalyst expressions
the Column calls build: Python literals keep ``F.lit``'s types (an int
is INT, BIGINT past 32 bits and DECIMAL past 64; a float is a ``D``
DOUBLE; a string is quoted with ``\\`` and ``'`` escaped), identifiers
are backtick-quoted, and a struct field is a ``['name']`` subscript,
which resolves like ``getField``.  Spark's parser replaces ``${name}``
in the text by a configuration value (``spark.sql.variable.substitute``)
before it parses: a string writes ``${`` as ``$\\{``, which the parser
reads back as ``${``, and a column whose name holds ``${`` cannot be
named in the text at all.  AND and OR chains render flat: the
parser builds a balanced tree from them, so no depth of checks nests.

Lambda variables are ``_x1``, ``_x2``, ... in creation order within one
:func:`lambda_names` scope, so a compile's text depends only on its
input.  In a lambda body the variable hides a column of the same name.
"""

from __future__ import annotations

import contextlib
import contextvars
import inspect
import itertools
import math
import re
import weakref
from typing import Any, Callable, Iterable

from py4j.java_gateway import JavaObject
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# precedence levels of the grammar, loosest first
_OR, _AND, _NOT, _CMP, _ADD, _MUL, _ATOM = 1, 2, 3, 4, 6, 7, 9


class Expr:
    """SQL text with its precedence; an AND/OR chain keeps its terms."""

    __slots__ = ("text", "prec", "op", "terms")

    def __init__(self, text: str, prec: int = _ATOM, op: str = "",
                 terms: tuple = ()):
        self.text, self.prec, self.op, self.terms = text, prec, op, terms

    def __str__(self):
        return self.text

    def __repr__(self):
        return f"Expr<{self.text}>"

    def __bool__(self):
        raise TypeError("an Expr has no truth value; use & | ~")

    __hash__ = None
    def __and__(self, o): return _chain("AND", self, o)
    def __rand__(self, o): return _chain("AND", o, self)
    def __or__(self, o): return _chain("OR", self, o)
    def __ror__(self, o): return _chain("OR", o, self)
    def __invert__(self): return Expr(f"NOT {_wrap(self, _ATOM)}", _NOT)
    def __eq__(self, o): return _binary(self, "=", o, _CMP, _ADD)
    def __ne__(self, o): return _binary(self, "!=", o, _CMP, _ADD)
    def __lt__(self, o): return _binary(self, "<", o, _CMP, _ADD)
    def __le__(self, o): return _binary(self, "<=", o, _CMP, _ADD)
    def __gt__(self, o): return _binary(self, ">", o, _CMP, _ADD)
    def __ge__(self, o): return _binary(self, ">=", o, _CMP, _ADD)
    def __add__(self, o): return _binary(self, "+", o, _ADD, _MUL)
    def __sub__(self, o): return _binary(self, "-", o, _ADD, _MUL)
    def __mul__(self, o): return _binary(self, "*", o, _MUL, _ATOM)
    def __truediv__(self, o): return _binary(self, "/", o, _MUL, _ATOM)
    def __mod__(self, o): return _binary(self, "%", o, _MUL, _ATOM)
    def isNull(self): return Expr(f"isnull({self.text})")
    def isNotNull(self): return Expr(f"isnotnull({self.text})")
    def cast(self, ddl: str): return Expr(f"CAST({self.text} AS {ddl})")

    def getField(self, name: str) -> "Expr":
        return Expr(f"{_wrap(self, _ATOM)}[{_string(name)}]")

    def rlike(self, pattern: str) -> "Expr":
        return Expr(f"{_wrap(self, _ADD)} RLIKE {_string(pattern)}", _CMP)

    def isin(self, *values: Any) -> "Expr":
        items = ", ".join(lit(v).text for v in values)
        return Expr(f"{_wrap(self, _ADD)} IN ({items})", _CMP)


def _wrap(e: Expr, min_prec: int) -> str:
    return e.text if e.prec >= min_prec else f"({e.text})"


def _binary(left: Any, op: str, right: Any, prec: int, rmin: int) -> Expr:
    """A left-associative operator: the right operand is parenthesized
    below level `rmin`, the left one below its own level (below `_ADD`
    for a comparison, whose operands are value expressions)."""
    left, right = lit(left), lit(right)
    return Expr(f"{_wrap(left, max(prec, _ADD))} {op} {_wrap(right, rmin)}",
                prec)


def _chain(op: str, *operands: Any) -> Expr:
    terms: list[Expr] = []
    for e in map(lit, operands):
        terms.extend(e.terms if e.op == op else (e,))
    if len(terms) == 1:
        return terms[0]
    return Expr(f" {op} ".join(_wrap(t, _NOT) for t in terms),
                _OR if op == "OR" else _AND, op, tuple(terms))


def all_of(preds: Iterable[Expr]) -> Expr:
    """Kleene AND of `preds`, TRUE when there are none."""
    preds = list(preds)
    return _chain("AND", *preds) if preds else lit(True)


def any_of(preds: Iterable[Expr]) -> Expr:
    """Kleene OR of `preds`, FALSE when there are none."""
    preds = list(preds)
    return _chain("OR", *preds) if preds else lit(False)


def _string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace(
        "${", "$\\{") + "'"


def quote(name: str) -> str:
    """A column or field name as one backtick-quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit(v: Any) -> Expr:
    """A literal of ``F.lit(v)``'s type; an Expr passes through and a
    PySpark Column becomes :func:`from_column`'s text."""
    if isinstance(v, Expr):
        return v
    if isinstance(v, Column):
        return from_column(v)
    if v is None or isinstance(v, bool):
        return Expr({None: "NULL", True: "true", False: "false"}[v])
    if isinstance(v, int):
        return Expr(str(v) if v >= 0 else f"({v})")
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            name = "NaN" if math.isnan(v) else "-Infinity"[v > 0:]
            return Expr(f"CAST('{name}' AS DOUBLE)")
        text = repr(v) + "D"
        return Expr(f"({text})" if text[0] == "-" else text)
    if isinstance(v, str):
        return Expr(_string(v))
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")


def col(name: str) -> Expr:
    """Top-level column `name`: a dot in it is part of the name."""
    if "${" in name:
        _unnameable(name)
    return Expr(quote(name))


def _unnameable(name: str):
    from .registry import SchemaCompileError
    raise SchemaCompileError(
        f"column {name!r} cannot be named in Spark SQL text: the parser "
        "substitutes the '${...}' in it")


def null_string() -> Expr:
    return Expr("CAST(NULL AS STRING)")


def _fn(name: str, *args: Any) -> Expr:
    return Expr(f"{name}({', '.join(lit(a).text for a in args)})")


def size(c): return _fn("size", c)
def length(c): return _fn("length", c)
def coalesce(*cs): return _fn("coalesce", *cs)
def greatest(*cs): return _fn("greatest", *cs)
def element_at(c, key): return _fn("element_at", c, key)
def try_element_at(c, key): return _fn("try_element_at", c, key)
def get(c, i): return _fn("get", c, i)
def slice(c, start, n): return _fn("slice", c, start, n)  # noqa: A001
def array(*cs): return _fn("array", *cs)
def array_distinct(c): return _fn("array_distinct", c)
def map_keys(c): return _fn("map_keys", c)
def map_values(c): return _fn("map_values", c)
def map_contains_key(c, k): return _fn("map_contains_key", c, k)
def to_json(c): return _fn("to_json", c)
def base64(c): return _fn("base64", c)
def format_string(fmt, *cs): return _fn("format_string", fmt, *cs)
def substring(c, pos, n): return _fn("substring", c, pos, n)
def try_to_timestamp(c, fmt): return _fn("try_to_timestamp", c, fmt)
def try_to_binary(c, fmt): return _fn("try_to_binary", c, fmt)
def try_parse_json(c): return _fn("try_parse_json", c)
def concat(*cs): return _fn("concat", *cs)
def array_join(c, sep): return _fn("array_join", c, sep)
def round(c, scale): return _fn("round", c, scale)  # noqa: A001
def try_divide(a, b): return _fn("try_divide", a, b)


def named_struct(**fields: Any) -> Expr:
    return _fn("named_struct", *itertools.chain(*fields.items()))


def when(cond: Expr, value: Any) -> Expr:
    """``F.when(cond, value)``: NULL where `cond` is not true."""
    return Expr(f"CASE WHEN {cond.text} THEN {lit(value).text} END")


_NAMES: contextvars.ContextVar = contextvars.ContextVar("lambda_names")
_PROCESS_NAMES = itertools.count(1)


@contextlib.contextmanager
def lambda_names():
    """Number lambda variables from ``_x1`` in the enclosed compile."""
    token = _NAMES.set(itertools.count(1))
    try:
        yield
    finally:
        _NAMES.reset(token)


def _lambda_fn(name: str, c: Expr, fn: Callable[..., Expr]) -> Expr:
    counter = _NAMES.get(_PROCESS_NAMES)
    args = [f"_x{next(counter)}" for _ in inspect.signature(fn).parameters]
    body = lit(fn(*map(Expr, args))).text
    head = args[0] if len(args) == 1 else f"({', '.join(args)})"
    return Expr(f"{name}({c.text}, {head} -> {body})")


def forall(c, fn): return _lambda_fn("forall", c, fn)
def filter(c, fn): return _lambda_fn("filter", c, fn)  # noqa: A001
def map_filter(c, fn): return _lambda_fn("map_filter", c, fn)


#: temporary-function name -> builder of its pandas UDF
_UDFS: dict[str, Callable[[], Any]] = {}
#: session -> the names registered in it
_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def udf_call(name: str, build: Callable[[], Any], *args: Any) -> Expr:
    """A call of the pandas UDF `build()` as temporary function `name`,
    which must be derived from all the UDF computes with: one name is
    one function.  :func:`column` registers it on first use."""
    _UDFS.setdefault(name, build)
    return _fn(quote(name), *args)


def column(e: Expr, spark: Any = None):
    """`e` as a PySpark Column, one ``F.expr``, after registering the
    UDFs it calls in `spark` (default: the active session)."""
    called = [n for n in _UDFS if quote(n) + "(" in e.text]
    if called:
        spark = spark or SparkSession.getActiveSession()
        done = _REGISTERED.setdefault(spark, set())
        for name in called:
            if name not in done:
                udf = _UDFS[name]()
                if isinstance(udf, JavaObject):  # an extension's UDF
                    spark._jsparkSession.udf().registerPython(name, udf)
                else:
                    spark.udf.register(name, udf)
                done.add(name)
    return F.expr(e.text)


def ref(name: str):
    """Caller-named column `name` (an id, key or partition) as a PySpark
    Column, quoted like :func:`col`."""
    return F.col(quote(name))


def from_column(c: Column) -> Expr:
    """An extension's PySpark Column as the SQL of its unresolved
    Catalyst expression.  That SQL does not parse back as is where the
    Column calls a Python UDF or holds a lambda: each UDF is called as
    a temporary function named after its content, and each lambda is
    written in the parser's ``x -> body`` form."""
    spark = SparkSession.getActiveSession()
    e = spark._jsparkSession.expression(c._jc)
    text, todo = e.sql(), [e]
    while todo:  # a node before its children, whose text it holds
        n = todo.pop()
        kind, children = n.getClass().getSimpleName(), n.children()
        children = [children.apply(i) for i in range(children.size())]
        if kind == "PythonUDF":
            call = n.sql()
            text = text.replace(call, quote(_extension_udf(spark, n))
                                + call[len(n.name()):])
        elif kind == "LambdaFunction":
            body, *args = (ch.sql() for ch in children)
            head = args[0] if len(args) == 1 else f"({', '.join(args)})"
            text = text.replace(n.sql(), f"{head} -> {body}")
        todo.extend(children)
    text = _TOKENS.sub(_escape_variables, text)
    return Expr(text if text in ("true", "false", "NULL") else f"({text})")


#: extension UDF name -> its JVM UserDefinedPythonFunction
_EXTENSION_UDFS: dict[str, JavaObject] = {}


def _extension_udf(spark: SparkSession, node: JavaObject) -> str:
    """The temporary-function name of PythonUDF `node`'s function: its
    content hash, suffixed where unequal functions share the hash."""
    udf = spark._jvm.org.apache.spark.sql.execution.python \
        .UserDefinedPythonFunction(node.name(), node.func(), node.dataType(),
                                   node.evalType(), node.udfDeterministic())
    base = f"_jss_udf_{udf.hashCode() & 0xFFFFFFFF:08x}"
    for i in itertools.count():
        name = base if i == 0 else f"{base}_{i}"
        known = _EXTENSION_UDFS.setdefault(name, udf)
        if known is udf or known.equals(udf):
            _UDFS.setdefault(name, lambda: known)
            return name


#: a string literal, a quoted identifier, or a bare ``${``
_TOKENS = re.compile(r"'(?:[^'\\]|\\.)*'|`(?:[^`]|``)*`|\$\{", re.S)


def _escape_variables(m: re.Match) -> str:
    token = m.group()
    if "${" not in token:
        return token
    if token[0] == "'":
        return token.replace("${", "$\\{")
    _unnameable(token)
