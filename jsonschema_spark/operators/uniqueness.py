"""Uniqueness checks — `uniqueItems` lifted to column scope.

Reference anchor: the reference validator's ``uniqueItems`` keyword
with its ``equal`` semantics; the north_rule mandates the physical
strategy: repartition-by-hash + sort-within-partitions.  Both
:func:`duplicate_keys` strategies shuffle once on the key:

- ``groupby``: hash partial-agg (map-side combine) -> count>1.  Best when
  duplicates are rare (the partial agg collapses most groups to 1 before
  the shuffle).
- ``sort``: repartition(hash(key)) + sortWithinPartitions + a per-key
  window count.  Streams each partition in key order — the
  strategy that also yields the *rows* (not just keys) without a second
  join, and the one to bucket/cluster by at 100 TB.

NULL semantics are SQL ``UNIQUE``: a key with a NULL component is
absent, not a value, so it never forms a duplicate group (the window
count of :func:`uniqueness_violations` is guarded on ``key IS NOT NULL``).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..compiler import sql
from ..compiler.context import json_path_join
from ..validator import _violation_rows, _vrow


def duplicate_keys(df: DataFrame, keys: Sequence[str],
                   strategy: str = "groupby") -> DataFrame:
    """Keys occurring more than once -> (key cols..., dup_count).  Rows
    whose key has a NULL component are dropped before counting."""
    kcols = [sql.ref(k) for k in keys]
    df = df.filter(reduce(lambda a, b: a & b,
                          [c.isNotNull() for c in kcols]))
    if strategy == "sort":
        n = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        parted = (df.select(*kcols)
                  .repartition(int(n), *kcols)
                  .sortWithinPartitions(*kcols))
        w = Window.partitionBy(*kcols).orderBy(*kcols)
        return (parted
                .withColumn("_n", F.count(F.lit(1)).over(w))
                .filter(F.col("_n") > 1)
                .groupBy(*kcols).agg(F.max("_n").alias("dup_count")))
    return (df.groupBy(*kcols)
            .agg(F.count(F.lit(1)).alias("dup_count"))
            .filter(F.col("dup_count") > 1))


def uniqueness_violations(df: DataFrame, keys: str | Sequence[str],
                          id_cols: Sequence[str] = ()) -> DataFrame:
    """Violation rows for duplicated values of each key in `keys` (one
    name or a list) — every row participating in a duplicate group, in
    the engine's violation-row schema (keyword 'uniqueItems:<key>',
    FIXTURES.md §5).  One narrow scan of (id_cols, keys), then one
    ``count(1) over (partition by key)`` per key on the typed key, so
    doubles group as ``groupBy`` groups them; no join back to `df`."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    narrow = df.select(*map(sql.ref, dict.fromkeys([*id_cols, *keys])))
    counted = narrow.select("*", *[
        F.count(F.lit(1)).over(Window.partitionBy(sql.ref(k))).alias(f"_n{i}")
        for i, k in enumerate(keys)])
    # each key also as `_k{i}`, after the windows: no shuffle carries it
    counted = counted.select(
        "*", *[sql.ref(k).alias(f"_k{i}") for i, k in enumerate(keys)])
    structs = []
    for i, k in enumerate(keys):
        key, n = sql.col(f"_k{i}"), sql.col(f"_n{i}")
        structs.append(sql.when(key.isNotNull() & (n > 1), _vrow(
            f"uniqueItems:{k}", json_path_join("$", k), f"x-spark/unique/{k}",
            sql.concat(f"duplicate {k}: ", key.cast("string")), key)))
    return _violation_rows(counted, structs, id_cols)
