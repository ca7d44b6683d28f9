"""Compiled validator — the engine's ``Validator`` protocol analogue.

The reference's ``Validator`` precompiles a keyword list per schema and
exposes ``iter_errors`` / ``is_valid``
(/root/reference/jsonschema/protocols.py:106-189,
/root/reference/jsonschema/validators.py:282-500).  Ours compiles once on
the driver into Spark SQL text (:mod:`.compiler.sql`) and exposes the
vectorized equivalents:

- ``with_valid(df)``     — ``is_valid`` as a boolean column over the scan
- ``violations(df)``     — ``iter_errors`` as a violation-rows DataFrame
- ``manifest(df)``       — per-partition pass/fail aggregate

Everything row-level is one narrow scan: no shuffle, whole-stage codegen
for native predicates, pandas UDFs (temporary functions the text calls)
only where Python-exact semantics demand them.  :func:`_vrow` builds
every violation struct, here and in every ``x-spark`` producer.
"""

from __future__ import annotations

from functools import cached_property
from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .compiler import sql
from .compiler.context import CompileContext, json_pointer
from .compiler.node import Check
from .compiler.registry import KeywordRegistry, compile_subschema
from .spec import check_schema


#: field types of :func:`_vrow`'s struct, the ``ValidationError`` analogue
_VIOLATION_DDL = ("keyword:string,json_path:string,schema_path:string,"
                 "message:string,failing_value:string")


def _vrow(keyword: str, json_path: str, schema_path: str,
          message: Any, failing: Any, **extra: Any) -> sql.Expr:
    """One violation struct: compile-time keyword and locations as
    literals, the runtime message and failing value as strings, then any
    `extra` fields in the order given."""
    return sql.named_struct(keyword=keyword, json_path=json_path,
                            schema_path=schema_path,
                            message=sql.lit(message).cast("string"),
                            failing_value=sql.lit(failing).cast("string"),
                            **extra)


def _violation_rows(df: DataFrame, structs: Sequence[sql.Expr],
                    id_cols: Sequence[str] = (),
                    ddl: str = _VIOLATION_DDL) -> DataFrame:
    """Flat rows from ``when(bad, _vrow(...))`` expressions: `id_cols`
    then the struct's fields, one row per non-NULL struct per input row.
    One projection evaluates every struct, so a subtree below `df` (a
    decode pass, say) runs once however many violation kinds it feeds.
    No structs gives the empty result typed by `ddl`.  The text may not
    name a caller's column (:func:`sql.col`): producers project one it
    reads under an engine name (``_k0``, ``_fk``, ...) first."""
    arr = sql.column(_struct_array(structs, ddl), df.sparkSession)
    return _explode_rows(df, arr, id_cols)


def _explode_rows(df: DataFrame, arr: Column,
                  id_cols: Sequence[str]) -> DataFrame:
    """`id_cols` then the fields of each struct in the array `arr`, one
    row per struct."""
    ids = [sql.ref(c) for c in id_cols]
    return (df.select(*ids, F.explode(arr).alias("_v"))
            .select(*ids, "_v.*"))


def _struct_array(structs: Sequence[sql.Expr], ddl: str) -> sql.Expr:
    """The non-NULL ``when(bad, named_struct(...))`` expressions of
    `structs` as one array, typed by `ddl` when there are none."""
    if not structs:
        return sql.array().cast(f"array<struct<{ddl}>>")
    return sql.filter(sql.array(*structs), lambda s: s.isNotNull())


def violation_structs(checks: Sequence[Check], context: bool) -> sql.Expr:
    """One violation struct per failed check of `checks` (see
    :func:`_vrow`), with ``context_of`` when `context`, as one array."""
    rows = []
    for c in checks:
        extra = ({"context_of": sql.lit(c.context_of).cast("string")}
                 if context else {})
        rows.append(sql.when(~sql.coalesce(c.pred, True), _vrow(
            c.keyword, c.json_path, c.schema_path, c.message,
            c.failing_value, **extra,
            type_match=(c.type_match if c.type_match is not None
                        else False))))
    ddl = (_VIOLATION_DDL + (",context_of:string" if context else "")
           + ",type_match:boolean")
    return _struct_array(rows, ddl)


class CompiledValidator:
    """A constraint spec compiled against one DataFrame schema."""

    def __init__(self, schema: Any, df: DataFrame,
                 registry: Optional[KeywordRegistry] = None,
                 schema_store: Optional[dict] = None,
                 format_checker: bool = False,
                 retrieve=None):
        """`schema_store` pre-registers external documents by URI — the
        analogue of passing a populated ``referencing.Registry`` to the
        reference's validator (validators.py:1070-1095).
        `retrieve` is a driver-side ``Callable[[uri], schema]`` consulted
        for $ref targets absent from the store (the
        ``referencing.Registry(retrieve=...)`` /
        ``RefResolver.resolve_remote`` analogue, validators.py:108-133);
        pass :func:`jsonschema_spark.compiler.resolver.urlopen_retrieve`
        to opt into HTTP(S) fetching explicitly — never implicit.
        `format_checker=True` opts into format assertion, mirroring
        ``Draft202012Validator(schema, format_checker=...)``
        (_keywords.py:223-228); the default is annotation-only like the
        reference."""
        extra = frozenset(getattr(registry, "type_predicates", ()) or ())
        check_schema(schema, extra_types=extra)
        self.schema = schema
        from .compiler.legacy import draft_of, registry_for
        draft = draft_of(schema)
        # validator_for: $schema picks the draft profile
        # (validators.py:1335-1410); default = 2020-12
        self.registry = registry or registry_for(draft)
        if format_checker and not self.registry.assert_formats:
            self.registry = self.registry.extend({})
            self.registry.assert_formats = True
        self._spark = df.sparkSession
        from .compiler.resolver import Resolver
        # URI semantics must follow the schema's draft: a draft4 schema
        # using the legacy location-independent identifier {"id": "#x"}
        # resolves through Resolver's draft<=7 rules, not 2020-12
        # (validator_for -> resolver wiring, validators.py:1335-1410)
        resolver = Resolver(draft, retrieve=retrieve)
        for uri, doc in (schema_store or {}).items():
            resolver.add_document(uri, doc)
        root_uri = resolver.add_root(schema)
        if schema_store:
            # a registered custom meta-schema's $vocabulary trims the
            # active keyword set (2020-12 core §8.1)
            from .compiler.legacy import apply_vocabulary
            self.registry = apply_vocabulary(self.registry, schema,
                                             resolver)
        ctx = CompileContext(
            registry=self.registry, target=None, dtype=None,
            root_schema=schema if isinstance(schema, dict) else None,
            row_fields=list(df.schema.fields),
            resolver=resolver, base_uri=root_uri,
            dynamic_scope=(root_uri,))
        with sql.lambda_names():
            node = compile_subschema(ctx, schema)
        self.checks: list[Check] = node.checks
        #: anyOf/oneOf branch errors (ValidationError.context analogue,
        #: exceptions.py:120-131) — excluded from validity and from the
        #: default violations output, consumed by best_match descent
        self.context_checks: list[Check] = node.context
        self.warnings: list[str] = list(ctx.warnings)
        #: compile-time annotation units (readOnly/title/default/...)
        #: with applicability predicates — see annotation_units()
        self.annotations = list(ctx.annotations)

    # ------------------------------------------------------------- is_valid
    @cached_property
    def _valid(self) -> sql.Expr:
        return sql.all_of(c.pred for c in self.checks)

    @cached_property
    def valid_column(self) -> Column:
        """Row validity: the Kleene AND of every check, rendered on first
        read and reused by every later call on this validator."""
        return sql.column(self._valid, self._spark)

    @cached_property
    def violation_count_column(self) -> Column:
        """Per-row count of failed checks (the row's number of
        :meth:`violations` rows)."""
        fails = [~sql.coalesce(c.pred, True) for c in self.checks]
        return sql.column(sql.size(sql.filter(sql.array(*fails),
                                              lambda b: b))
                          if fails else sql.lit(0), self._spark)

    def sql(self) -> tuple[str, list[tuple[str, str]]]:
        """The compiled Spark SQL text: the validity expression, and each
        check's ``(schema_path, predicate)``.  Lambda variables are
        numbered per compile, so the text depends only on the schema and
        the DataFrame schema."""
        return (self._valid.text,
                [(c.schema_path, c.pred.text) for c in self.checks])

    def with_valid(self, df: DataFrame, col: str = "valid") -> DataFrame:
        return df.withColumn(col, self.valid_column)

    # ---------------------------------------------------------- iter_errors
    def violations(self, df: DataFrame,
                   id_cols: Sequence[str] = ()) -> DataFrame:
        """One row per (instance row × failed keyword) — the vectorized
        ``iter_errors``.  ``type_match`` carries
        ``error._matches_type()`` (exceptions.py:184-197) — the 5th
        ``by_relevance`` element, consumed by
        :func:`operators.bestmatch.best_match`."""
        return self._violations(df, id_cols, self._violation_array)

    def violations_with_context(self, df: DataFrame,
                                id_cols: Sequence[str] = ()) -> DataFrame:
        """Like :meth:`violations` plus anyOf/oneOf *context* rows
        (branch errors that explain why a composite failed —
        ``ValidationError.context``, exceptions.py:120-131), each
        carrying ``context_of`` = the composite's schema_path (NULL for
        top-level errors).  Context rows fire only when their composite
        fails; they feed :func:`operators.bestmatch.best_match_deep`."""
        return self._violations(df, id_cols, self._context_violation_array)

    @cached_property
    def _violation_array(self) -> Column:
        return sql.column(violation_structs(self.checks, False), self._spark)

    @cached_property
    def _context_violation_array(self) -> Column:
        return sql.column(violation_structs(
            self.checks + self.context_checks, True), self._spark)

    def _violations(self, df: DataFrame, id_cols: Sequence[str],
                    arr: Column) -> DataFrame:
        """Passing rows are dropped on the boolean validity chain before
        any struct is built.  Under Kleene AND, ``valid`` is false
        exactly when some check's ``~coalesce(pred, true)`` fires (a
        context check fires only when its composite's check does), so
        no violation row is lost; the filter is deterministic and pushes
        down to the scan.  `arr` is the violation-struct array, rendered
        once per validator and output kind."""
        return _explode_rows(
            df.filter(self.valid_column == False),  # noqa: E712
            arr, id_cols)

    # ---------------------------------------------------------- annotations
    def annotation_units(self, df: DataFrame,
                         id_cols: Sequence[str] = ()) -> DataFrame:
        """2020-12 "basic" output-format *annotation* units: one row per
        (valid instance row × applicable annotation keyword), with RFC
        6901 keywordLocation / instanceLocation and the annotation value
        as a JSON string.  Failed validation produces no annotations
        (json/output-tests/draft2020-12/content/general.json), and an
        annotation applies only where its owning subschema successfully
        applied (e.g. a satisfied anyOf branch)."""
        import json as _json

        structs = [
            sql.when(sql.coalesce(a.pred, False), sql.named_struct(
                keyword=a.keyword, keywordLocation="/" + a.schema_path,
                json_path=a.json_path,
                annotation_json=_json.dumps(a.value)))
            for a in self.annotations
        ]
        ddl = ("keyword:string,keywordLocation:string,json_path:string,"
               "annotation_json:string")
        return _violation_rows(df.filter(self.valid_column), structs,
                               id_cols, ddl).select(
            *[sql.ref(c) for c in id_cols],
            F.lit(True).alias("valid"),
            "keyword", "keywordLocation",
            json_pointer(F.col("json_path")).alias("instanceLocation"),
            "annotation_json")

    # ------------------------------------------------------------- manifest
    def manifest(self, df: DataFrame,
                 partition_by: Optional[Sequence[str]] = None) -> DataFrame:
        """Per-partition pass/fail manifest — ``is_valid`` aggregated
        (validators.py:485-500 lifted to groupBy)."""
        keys = ([sql.ref(c) for c in partition_by] if partition_by
                else [F.spark_partition_id().alias("partition_id")])
        return pass_fail(df, self.valid_column, keys)

    def counts(self, df: DataFrame) -> tuple[int, int]:
        row = (df.select(self.valid_column.alias("v"))
                 .agg(F.sum(F.col("v").cast("long")).alias("ok"),
                      F.count(F.lit(1)).alias("n"))).collect()[0]
        ok = row["ok"] or 0
        return int(ok), int(row["n"] - ok)


def pass_fail(df: DataFrame, valid: Column,
              keys: Sequence[Column]) -> DataFrame:
    """The manifest aggregate: ``rows``, ``invalid_rows`` and ``passed``
    of `df` per group of `keys`, by the row validity `valid`."""
    invalid = F.sum((~F.col("_valid")).cast("long"))
    return (df.withColumn("_valid", valid).groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("rows"),
                 invalid.alias("invalid_rows"),
                 (invalid == 0).alias("passed")))


def validate(df: DataFrame, schema: Any,
             id_cols: Sequence[str] = (),
             registry: Optional[KeywordRegistry] = None,
             format_checker: bool = False) -> DataFrame:
    """Convenience: violations DataFrame for `df` under `schema`."""
    return CompiledValidator(
        schema, df, registry,
        format_checker=format_checker).violations(df, id_cols)


def is_valid(df: DataFrame, schema: Any,
             registry: Optional[KeywordRegistry] = None,
             format_checker: bool = False) -> DataFrame:
    """df + boolean `valid` column."""
    return CompiledValidator(
        schema, df, registry,
        format_checker=format_checker).with_valid(df)
