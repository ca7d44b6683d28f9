"""Deterministic sampling / splitting for training-data pipelines.

Everything here is keyed on a **content hash of a row key**, never on
``rand()``.  At cluster scale that distinction is load-bearing:

- ``rand()`` is seeded per task attempt — a task *retry* (or a changed
  partition count, or AQE re-planning) silently produces a different
  sample, so two runs of "the same" 1% sample over 100 TB disagree.
  Hash-of-key sampling is a pure function of the data: retry-safe,
  re-run-safe, join-free to reproduce anywhere (even in another engine).
- Membership is decidable per row with zero coordination — no shuffle,
  no count job, no sort; the predicate compiles into the scan's
  WholeStageCodegen and combines with partition pruning untouched.
- Train/val/test assignment is **stable under corpus growth**: adding
  new rows never moves an existing row between splits (each row's
  bucket depends only on its own key + salt), the property that keeps
  eval sets honest across dataset versions.

The hash is the first 8 hex digits of md5 over ``cast(key as string) ||
'|' || salt`` mapped to [0, 1) — chosen because every engine (Spark,
DuckDB, Python's hashlib) computes the identical value, so splits are
reproducible across the whole toolchain and the driver's DuckDB oracles
can verify membership bit-for-bit.  md5 here is a uniform mixer, not a
security boundary.

No reference analogue (the reference validates; it does not sample) —
SURVEY.md §2.7 pipeline-tier extras.
"""

from __future__ import annotations

from typing import Mapping, Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TWO_32 = float(1 << 32)


def uniform_hash(key: Column, salt: str = "") -> Column:
    """Deterministic uniform [0, 1) double from `key` — the primitive
    under every operator in this module.  Changing `salt` draws an
    independent uniform (use distinct salts for independent decisions:
    one for split assignment, another for subsampling, etc.)."""
    s = F.concat(key.cast("string"), F.lit("|" + salt))
    return (F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
            / F.lit(_TWO_32))


def split_column(key: Column, weights: Mapping[str, float],
                 salt: str = "") -> Column:
    """Label column assigning each row to one of `weights`' splits with
    the given proportions (normalized; insertion order defines the
    cumulative intervals).  Pure expression — compose freely."""
    if not weights:
        raise ValueError("weights must name at least one split")
    vals = list(weights.values())
    if any(w < 0 for w in vals) or sum(vals) <= 0:
        raise ValueError(f"weights must be non-negative with a positive "
                         f"sum, got {dict(weights)}")
    total = float(sum(vals))
    u = uniform_hash(key, salt)
    names = list(weights)
    expr = F.lit(names[-1])  # last split absorbs the rounding sliver
    cum = 0.0
    branches = []
    for name, w in list(weights.items())[:-1]:
        cum += w / total
        branches.append((name, cum))
    for name, bound in reversed(branches):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return expr


def split_assign(df: DataFrame, id_col: str,
                 weights: Mapping[str, float], salt: str = "",
                 out_col: str = "split") -> DataFrame:
    """`df` + a deterministic split label column.  The standard call:

    >>> split_assign(docs, "doc_id", {"train": .98, "val": .01,
    ...                               "test": .01})

    Downstream ``.filter(F.col("split") == "train")`` stays a scan-level
    predicate (no shuffle, no materialized split tables needed)."""
    return df.withColumn(out_col,
                         split_column(F.col(id_col), weights, salt))


def deterministic_sample(df: DataFrame, id_col: str,
                         fraction: Union[float, Mapping[str, float]],
                         strata_col: Optional[str] = None,
                         default_fraction: float = 0.0,
                         salt: str = "") -> DataFrame:
    """Retry-safe sample: keep each row iff its key-hash < its fraction.

    `fraction` as a float is a flat rate.  As a mapping it is
    per-stratum (requires `strata_col`): e.g. rebalance languages with
    ``{"en": 0.1, "fr": 1.0}``; strata absent from the mapping keep
    `default_fraction` (0.0 = drop, the explicit-allowlist posture).
    The whole thing is one codegen'd filter on the scan — sampling 0.1%
    of 100 TB reads row-group stats + the key/strata columns, shuffles
    nothing, and two runs (or two engines) agree row-for-row."""
    u = uniform_hash(F.col(id_col), salt)
    if isinstance(fraction, Mapping):
        if strata_col is None:
            raise ValueError("per-stratum fractions require strata_col")
        for k, v in fraction.items():
            if not (0.0 <= float(v) <= 1.0):
                raise ValueError(f"fraction for stratum {k!r} must be "
                                 f"in [0, 1], got {v}")
        rate = F.lit(float(default_fraction))
        for k, v in fraction.items():
            rate = F.when(F.col(strata_col) == F.lit(k),
                          F.lit(float(v))).otherwise(rate)
    else:
        if not (0.0 <= float(fraction) <= 1.0):
            raise ValueError(f"fraction must be in [0, 1], "
                             f"got {fraction}")
        rate = F.lit(float(fraction))
    return df.filter(u < rate)
