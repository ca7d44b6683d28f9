"""Error ranking + aggregation — `best_match` / `ErrorTree` analogues.

Reference: ``best_match``/``by_relevance`` rank errors (shallower
instance path wins; `anyOf`/`oneOf` are weak matches —
/root/reference/jsonschema/exceptions.py:396-490, WEAK_MATCHES at
:24) and ``ErrorTree`` indexes errors by instance path
(exceptions.py:315-393).  Vectorized: one window / one groupBy over the
violation-rows table.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..compiler import sql
from ..compiler.context import json_pointer, path_depth, path_order

WEAK_MATCHES = ("anyOf", "oneOf")  # exceptions.py:24
#: keywords whose violation rows carry context (branch errors) — what
#: the descent recurses into; independent of the `weak` ranking set
COMPOSITE_KEYWORDS = ("anyOf", "oneOf")


def _relevance_cols(weak: Sequence[str], strong: Sequence[str],
                    columns: Sequence[str] = ()):
    """The by_relevance key (exceptions.py:396-425) as Columns:
    ``(-len(path), path, validator not in weak, validator in strong,
    not _matches_type())``.

    Note the key DOES include ``error.path`` (exceptions.py:417-418) —
    verified empirically against the reference: of two sibling errors
    at equal depth the LATER path wins under ``max`` (deques gained
    element-wise comparison in Python 3.10), and path outranks the
    weak-keyword demotion.  The fifth element is carried per violation
    row as ``type_match`` (compile-time static per check —
    ``Check.type_match``); a violations frame from an external source
    without the column degrades to the 4-element key, with `keyword` as
    the deterministic final tiebreak either way."""
    depth = path_depth(F.col("json_path"))
    spath = path_order(F.col("json_path"))
    weak_f = (F.col("keyword").isin(*weak).cast("int") if weak
              else F.lit(0))
    strong_f = (F.col("keyword").isin(*strong).cast("int") if strong
                else F.lit(0))
    tm_f = (F.coalesce(F.col("type_match").cast("int"), F.lit(0))
            if "type_match" in columns else F.lit(0))
    return depth, spath, weak_f, strong_f, tm_f


def best_match(violations: DataFrame, id_cols: Sequence[str],
               weak: Sequence[str] = WEAK_MATCHES,
               strong: Sequence[str] = ()) -> DataFrame:
    """One row per instance: its most relevant violation.

    Mirrors ``max(errors, key=by_relevance(weak, strong))``
    (exceptions.py:396-443): shallower instance path wins, then the
    LATER sibling path (max over the path tuple), then non-weak beats
    weak, then strong beats non-strong, then (the 5th element,
    exceptions.py:421) an error whose schema ``type`` does NOT match
    the instance's runtime type — ``max`` over ``not _matches_type()``.
    `weak`/`strong` parametrize the key exactly like
    ``by_relevance(weak=..., strong=...)``.  Deterministic final
    tiebreak: keyword asc (the reference falls back to iter_errors
    order, which has no tabular analogue)."""
    depth, spath, weak_f, strong_f, tm_f = _relevance_cols(
        weak, strong, violations.columns)
    w = (Window.partitionBy(*map(sql.ref, id_cols))
         .orderBy(depth.asc(), spath.desc(), weak_f.asc(),
                  strong_f.desc(), tm_f.asc(), F.col("keyword").asc()))
    return (violations
            .withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") == 1)
            .drop("_rank"))


def best_match_deep(violations_ctx: DataFrame, id_cols: Sequence[str],
                    max_depth: int = 4,
                    weak: Sequence[str] = WEAK_MATCHES,
                    strong: Sequence[str] = ()) -> DataFrame:
    """`best_match` WITH context descent (exceptions.py:440-490): pick
    the most relevant top-level error; while it is an anyOf/oneOf
    composite, descend into its *context* rows (branch errors, from
    :meth:`CompiledValidator.violations_with_context`) choosing the
    deepest — i.e. most specific — branch error, exactly the reference's
    ``min`` by relevance; stop when the two most relevant context errors
    tie (heapq.nsmallest(2) equality rule).

    Relevance mirrors by_relevance (exceptions.py:415-425) exactly —
    ``(-len(path), path, not weak, in strong, not _matches_type())``
    with paths compared component-wise (numeric indices numerically) —
    and is parametrized by `weak`/`strong` like
    ``best_match(errors, by_relevance(...))``.  The 5th element is what
    makes the reference descend into mixed-type anyOf branches
    (test_exceptions.test_it_prioritizes_matching_types): under the
    descent's ``min``, a branch error whose schema type matches the
    instance beats a sibling type-mismatch error instead of tying with
    it.  `max_depth` bounds the descent (= max anyOf/oneOf nesting)."""
    depth, spath, weak_f, strong_f, tm_f = _relevance_cols(
        weak, strong, violations_ctx.columns)
    vv = (violations_ctx.withColumn("_depth", depth)
          .withColumn("_spath", spath)
          .withColumn("_weak", weak_f)
          .withColumn("_strong", strong_f)
          .withColumn("_tm", tm_f))
    payload = ["keyword", "json_path", "schema_path", "message",
               "failing_value"]
    top = vv.filter(F.col("context_of").isNull())
    w = Window.partitionBy(*map(sql.ref, id_cols)).orderBy(
        F.col("_depth").asc(), F.col("_spath").desc(),
        F.col("_weak").asc(), F.col("_strong").desc(),
        F.col("_tm").asc(), F.col("keyword").asc())
    best = (top.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*map(sql.ref, id_cols), *payload))
    ctx_cols = payload + ["context_of", "_depth", "_spath", "_weak",
                          "_strong", "_tm"]
    ctx_r = vv.filter(F.col("context_of").isNotNull()).select(
        *map(sql.ref, id_cols),
        *[F.col(c).alias("c_" + c) for c in ctx_cols])
    for _ in range(max_depth):
        j = (best.join(ctx_r, list(id_cols), "left")
             .withColumn("_cand",
                         F.coalesce(F.col("c_context_of")
                                    == F.col("schema_path"), F.lit(False))
                         & F.col("keyword").isin(*COMPOSITE_KEYWORDS)))
        # the nsmallest(2) tie key = the full by_relevance tuple
        key = F.struct(F.col("c__depth"), F.col("c__spath"),
                       F.col("c__weak"), F.col("c__strong"),
                       F.col("c__tm"))
        w2 = Window.partitionBy(*map(sql.ref, id_cols)).orderBy(
            F.col("_cand").desc(),
            F.col("c__depth").desc_nulls_last(),
            F.col("c__spath").asc_nulls_last(),
            F.col("c__weak").desc_nulls_last(),
            F.col("c__strong").asc_nulls_last(),
            F.col("c__tm").desc_nulls_last(),
            F.col("c_keyword").asc_nulls_last())
        j = (j.withColumn("_rn", F.row_number().over(w2))
             .withColumn("_next_key", F.lead(key).over(w2))
             .withColumn("_next_cand", F.lead(F.col("_cand")).over(w2)))
        first = j.filter(F.col("_rn") == 1)
        tie = (F.coalesce(F.col("_next_cand"), F.lit(False))
               & (key == F.col("_next_key")))
        promote = F.col("_cand") & ~tie
        best = first.select(
            *map(sql.ref, id_cols),
            *[F.when(promote, F.col("c_" + c)).otherwise(F.col(c))
              .alias(c) for c in payload])
    return best


def error_tree(violations: DataFrame) -> DataFrame:
    """`ErrorTree` as a groupBy: per instance path, total errors and the
    set of failed keywords with counts."""
    return (violations
            .groupBy("json_path")
            .agg(F.count(F.lit(1)).alias("total_errors"),
                 F.sort_array(F.collect_set("keyword")).alias("keywords"))
            .orderBy("json_path"))


def standard_output(violations: DataFrame) -> DataFrame:
    """The official JSON-Schema "basic" output-format unit shape
    (/root/reference/json/output-tests/draft2020-12/output-schema.json):
    one row per output unit with ``valid``, ``keywordLocation`` (a JSON
    pointer through the schema incl. applicators), ``instanceLocation``,
    and ``error``.  Our schema_path is slash-joined from the root, so the
    pointer is '/' + schema_path; instanceLocation is
    :func:`~jsonschema_spark.compiler.context.json_pointer` of json_path."""
    kw_loc = F.concat(F.lit("/"), F.col("schema_path"))
    inst_ptr = json_pointer(F.col("json_path"))
    return violations.select(
        F.lit(False).alias("valid"),
        kw_loc.alias("keywordLocation"),
        inst_ptr.alias("instanceLocation"),
        F.col("message").alias("error"),
    )
