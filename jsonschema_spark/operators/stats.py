"""Single-pass column statistics + stats-level constraint checks.

The lift of ``minimum``/``maximum``/``required`` from row scope to
dataset scope (SURVEY.md §2.6, reference anchors
/root/reference/jsonschema/_keywords.py:149-164,304-309).  All requested
stats for all columns are fused into ONE ``df.agg(...)`` so the table is
scanned exactly once; ``approx_percentile`` sketches merge
per-partition, so the plan is a partial+final aggregate with no extra
shuffle stages regardless of how many columns are profiled.
``stats_violations`` is one such aggregate of only what its rules read.
"""

from __future__ import annotations

import operator
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compiler import sql
from ..compiler.context import json_path_join
from ..validator import _violation_rows, _vrow

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


def column_stats(df: DataFrame, columns: Optional[Sequence[str]] = None,
                 quantiles: Sequence[float] = (0.25, 0.5, 0.75),
                 accuracy: int = 10_000) -> DataFrame:
    """One row per profiled column: count / nulls / null_rate / min / max /
    approx quantiles / approx distinct.  Single scan, single agg."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(columns) if columns else list(fields)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        dt = fields[c]
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.approx_count_distinct(c).alias(f"{c}__distinct"))
        if isinstance(dt, _NUMERIC):
            aggs.append(F.min(c).alias(f"{c}__min"))
            aggs.append(F.max(c).alias(f"{c}__max"))
            aggs.append(F.percentile_approx(
                c, list(quantiles), accuracy).alias(f"{c}__q"))
        elif isinstance(dt, T.StringType):
            aggs.append(F.min(F.length(c)).alias(f"{c}__min"))
            aggs.append(F.max(F.length(c)).alias(f"{c}__max"))
            aggs.append(F.percentile_approx(
                F.length(c), list(quantiles), accuracy).alias(f"{c}__q"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__min"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__max"))
            aggs.append(F.lit(None).cast("array<double>").alias(f"{c}__q"))
    wide = df.agg(*aggs)

    # unpivot driver-side metadata-free: build one struct per column then
    # explode — still a single-row frame, negligible cost
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_rows").alias("rows"),
            F.col(f"{c}__nulls").alias("nulls"),
            (F.col(f"{c}__nulls") / F.col("_rows")).alias("null_rate"),
            F.col(f"{c}__min").cast("double").alias("min"),
            F.col(f"{c}__max").cast("double").alias("max"),
            F.col(f"{c}__q").cast("array<double>").alias("quantiles"),
            F.col(f"{c}__distinct").alias("approx_distinct"),
        )
        for c in cols
    ]
    return (wide.select(F.explode(F.array(*structs)).alias("s"))
            .select("s.*"))


def stats_violations(df: DataFrame, rules: dict[str, dict[str, Any]]) -> DataFrame:
    """Dataset-level assertions over aggregates -> violation rows.

    ``rules`` maps column -> {max_null_rate, min, max, min_distinct}.
    Output mirrors the row-level violation schema with json_path = $.col
    and keyword = 'stats:<rule>'.  Lazy: one ``df.agg`` of only the
    aggregates the rules read, each threshold a ``when`` on its one row.
    An empty table has no null rate, so ``max_null_rate`` passes.
    """
    types = {f.name: f.dataType for f in df.schema.fields}
    n = F.count(F.lit(1))
    aggs, structs = [n.alias("_rows")], []  # df.agg needs one aggregate
    for i, (col, rule) in enumerate(rules.items()):
        c, dt = sql.ref(col), types.get(col)
        # min/max read numbers as they are and strings by length(), like
        # column_stats; other types have no value to bound
        v = (c if isinstance(dt, _NUMERIC) else
             F.length(c) if isinstance(dt, T.StringType) else None)
        checks = {  # rule -> (aggregate, message words, failing test)
            "max_null_rate": (F.try_divide(n - F.count(c), n),
                              "null rate", "exceeds", operator.gt),
            "min": (None if v is None else F.min(v).cast("double"),
                    "min", "below", operator.lt),
            "max": (None if v is None else F.max(v).cast("double"),
                    "max", "above", operator.gt),
            "min_distinct": (F.approx_count_distinct(c),
                             "approx distinct", "below", operator.lt)}
        for kw, (agg, label, word, fails) in checks.items():
            if kw not in rule or agg is None:
                continue
            s, lim = sql.col(f"_{i}_{kw}"), rule[kw]
            aggs.append(agg.alias(f"_{i}_{kw}"))
            shown = (sql.format_string("%.4f", s) if kw == "max_null_rate"
                     else s.cast("string"))
            structs.append(sql.when(fails(s, lim), _vrow(
                f"stats:{kw}", json_path_join("$", col),
                f"x-spark/stats/{col}/stats:{kw}",
                sql.concat(f"{label} ", shown, f" {word} {lim}"), s)))
    return _violation_rows(df.agg(*aggs), structs)
