"""Uniqueness checks — `uniqueItems` lifted to column scope.

Reference anchor: the reference validator's ``uniqueItems`` keyword
with its ``equal`` semantics; the north_rule mandates the physical
strategy: repartition-by-hash + sort-within-partitions.  Both
strategies shuffle once on the key:

- ``groupby``: hash partial-agg (map-side combine) -> count>1.  Best when
  duplicates are rare (the partial agg collapses most groups to 1 before
  the shuffle).
- ``sort``: repartition(hash(key)) + sortWithinPartitions + a per-key
  window count.  Streams each partition in key order — the
  strategy that also yields the *rows* (not just keys) without a second
  join, and the one to bucket/cluster by at 100 TB.

NULL semantics are SQL ``UNIQUE``: a key with a NULL component is
absent, not a value, so it never forms a duplicate group — the same
answer :func:`uniqueness_violations`' semi-join gives, since NULL
never matches in a join.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, keys: Sequence[str],
                   strategy: str = "groupby") -> DataFrame:
    """Keys occurring more than once -> (key cols..., dup_count).  Rows
    whose key has a NULL component are dropped before counting."""
    kcols = [F.col(k) for k in keys]
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


def uniqueness_violations(df: DataFrame, key: str,
                          id_cols: Sequence[str] = (),
                          strategy: str = "groupby") -> DataFrame:
    """Violation rows for duplicated `key` values — every row participating
    in a duplicate group, in the engine's violation-row schema
    (keyword 'uniqueItems:<key>', FIXTURES.md §5)."""
    dups = duplicate_keys(df, [key], strategy=strategy)
    keep = [F.col(c) for c in id_cols] if id_cols else []
    joined = df.join(dups.hint("shuffle_hash"), key, "left_semi")
    return joined.select(
        *keep,
        F.lit(f"uniqueItems:{key}").alias("keyword"),
        F.lit(f"$.{key}").alias("json_path"),
        F.lit(f"x-spark/unique/{key}").alias("schema_path"),
        F.concat(F.lit(f"duplicate {key}: "),
                 F.col(key).cast("string")).alias("message"),
        F.col(key).cast("string").alias("failing_value"),
    )
