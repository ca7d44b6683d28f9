"""Referential-integrity checks — `$ref` lifted to dataset scope.

Reference anchor: ``$ref`` composition
(/root/reference/jsonschema/_keywords.py:274-275); the dataset-level
reinterpretation (SURVEY.md §2.6) is a semi/anti join against the
referenced table.  Physical strategy: the dim's key column is always
broadcast, so the check is one narrow pass over the fact table with
zero shuffle of the 100 TB side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compiler import sql
from ..compiler.context import json_path_join
from ..validator import _violation_rows, _vrow


def orphans(df: DataFrame, fk: str, dim: DataFrame,
            dim_key: str) -> DataFrame:
    """Rows of `df` whose `fk` has no match in `dim.dim_key`
    (NULL fks are not orphans: absent property semantics).  The
    broadcast side is not deduplicated: a left-anti join only asks
    whether a key exists, so duplicate dim keys cannot change the
    result, and a `distinct` would cost a shuffle stage before the
    broadcast."""
    keys = F.broadcast(dim.select(sql.ref(dim_key).alias(fk)))
    return df.filter(sql.ref(fk).isNotNull()).join(keys, [fk], "left_anti")


def referential_violations(df: DataFrame, fk: str, dim: DataFrame,
                           dim_key: str,
                           id_cols: Sequence[str] = ()) -> DataFrame:
    """Violation rows (keyword 'referential:<fk>') for orphaned fks."""
    fkv = sql.col("_fk")
    return _violation_rows(
        orphans(df, fk, dim, dim_key).withColumn("_fk", sql.ref(fk)), [_vrow(
            f"referential:{fk}", json_path_join("$", fk),
            f"x-spark/referential/{fk}",
            sql.concat(f"{fk} value not present in referenced table: ",
                       fkv.cast("string")), fkv)], id_cols)
