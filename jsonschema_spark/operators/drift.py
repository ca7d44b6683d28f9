"""Distribution-drift checks: a column's histogram scored against a
baseline snapshot with KS, L1 (total variation), chi-square and PSI.

Histograms are one groupBy over a native bucket expression.  Every
score comes from one scorer, :func:`score_histograms`, whichever scope
asks: the table scope (one constant partition), per-partition drift
(``by``) and the streaming windows of
:func:`..streaming.validate.drift_stream`.  Numeric buckets are compared
as ``long`` over the dense ``0..bins-1`` grid; categorical buckets over
the union of both sides' buckets, NULL matching NULL.  Scores and
violation rows are lazy DataFrames: nothing is collected to the driver.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compiler import sql


def bucket_expr(col: str, lo: float, hi: float, bins: int):
    """Equal-width bucket index in [0, bins): floor((x-lo)/step), clamped.
    Plain arithmetic (not width_bucket) so a DuckDB oracle can reproduce
    it exactly."""
    step = (hi - lo) / bins
    raw = F.floor((sql.ref(col) - F.lit(lo)) / F.lit(step)).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1))


def histogram(df: DataFrame, col: str, lo: float, hi: float,
              bins: int = 32) -> DataFrame:
    """(bucket, n) — one shuffle, map-side combined."""
    return (df.filter(sql.ref(col).isNotNull())
            .groupBy(bucket_expr(col, lo, hi, bins).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")))


def categorical_histogram(df: DataFrame, col: str) -> DataFrame:
    return (df.groupBy(sql.ref(col).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")))


def save_baseline(df: DataFrame, path: str,
                  numeric: dict[str, tuple[float, float, int]] = {},
                  categorical: Sequence[str] = ()) -> None:
    """Persist a baseline-stats snapshot: one histogram per profiled
    column, tagged, under `path` (the parquet stand-in for an Iceberg
    snapshot table keyed by snapshot id).  `numeric` maps column ->
    (lo, hi, bins)."""
    parts = []
    for col, (lo, hi, bins) in numeric.items():
        parts.append(histogram(df, col, lo, hi, bins)
                     .withColumn("column", F.lit(col))
                     .withColumn("bucket", F.col("bucket").cast("string")))
    for col in categorical:
        parts.append(categorical_histogram(df, col)
                     .withColumn("column", F.lit(col))
                     .withColumn("bucket", F.col("bucket").cast("string")))
    reduce(DataFrame.unionByName, parts).write.mode("overwrite").parquet(
        path)


def load_baseline(spark, path: str, col: str) -> DataFrame:
    """One column's histogram back out of a saved snapshot."""
    return (spark.read.parquet(path)
            .filter(F.col("column") == col)
            .select("bucket", "n"))


def check_against_baseline(df: DataFrame, baseline_path: str,
                           numeric: dict[str, tuple[float, float, int]] = {},
                           categorical: Sequence[str] = (),
                           max_ks: float = 0.1,
                           max_l1: Optional[float] = None,
                           by: Optional[str] = None) -> DataFrame:
    """Drift violation rows of `df` against a saved snapshot: a
    ``drift:ks`` row (and a ``drift:l1`` row when `max_l1` is set) for
    each profiled column whose statistic exceeds its threshold — in the
    table scope, or per partition of the column `by`, whose rows name
    the partition.  The `x-spark` ``drift`` block of ``validate_dataset``
    runs exactly this.

    The one eager step is a one-row probe per column: a snapshot with
    no histogram for a profiled column raises ``ValueError`` (against
    an empty baseline every column would score KS 1.0: a
    misconfiguration reported as drift)."""
    from ..compiler.context import json_path_join
    from ..validator import _violation_rows, _vrow

    prefix = ([f"partition {by}=", sql.col("part").cast("string"), ": "]
              if by else [])

    def flag(col, stat, threshold, label):
        val = sql.col(stat)
        return sql.when(val > threshold, _vrow(
            f"drift:{stat}", json_path_join("$", col),
            f"x-spark/drift/{col}/{stat}",
            # %.4f, not round().cast: fixed-width rendering a SQL
            # oracle reproduces exactly
            sql.concat(*prefix, f"{label} ", sql.format_string("%.4f", val),
                       f" exceeds {threshold}"),
            sql.format_string("%.6f", val)))

    spark = df.sparkSession
    out = []
    for col, bounds in [*numeric.items(), *((c, None) for c in categorical)]:
        base = load_baseline(spark, baseline_path, col)
        if not base.limit(1).count():
            raise ValueError(
                f"baseline at {baseline_path!r} has no histogram for "
                f"column {col!r} — was it saved with this column in "
                f"`numeric` or `categorical`?")
        flags = [flag(col, "ks", max_ks, "KS statistic")]
        if max_l1 is not None:
            flags.append(flag(col, "l1", max_l1, "L1 distance"))
        out.append(_violation_rows(_scores(df, col, bounds, base, by),
                                   flags))
    if not out:
        return _violation_rows(spark.range(0), [])
    return reduce(DataFrame.unionByName, out)


def partitioned_drift(df: DataFrame, part_col: str, col: str,
                      lo: float, hi: float, bins: int,
                      baseline: DataFrame) -> DataFrame:
    """Per-partition drift vs ONE baseline histogram — the north-star
    shape verbatim (BASELINE.json north_star: "distribution-drift
    checks comparing per-partition histograms/KS statistics against a
    baseline snapshot"), computed fully DISTRIBUTED: no driver-side
    per-partition loop, so 100k partitions cost one shuffle + one
    window, not 100k jobs.

    One groupBy(part, bucket) count (the only wide shuffle over the
    data) feeds :func:`score_histograms`.  `baseline` is a (bucket, n)
    histogram built with the SAME `bucket_expr` bounds (e.g.
    `histogram(...)` of the snapshot).  Rows of `df` with NULL
    `part_col`/`col` are excluded.  Every expression is native, so a
    SQL engine can reproduce the numbers bit-for-bit — see the
    `drift_partitioned` driver oracle."""
    return _scores(df, col, (lo, hi, bins), baseline, part_col)


def _scores(df: DataFrame, col: str, bounds: Optional[tuple],
            baseline: DataFrame, by: Optional[str]) -> DataFrame:
    """:func:`score_histograms` of `col` against `baseline`, per
    partition of `by`, or in the table scope (`by` None) for the one
    partition NULL, which is scored even when `df` has no value to
    count.  `bounds` (lo, hi, bins) bucket a numeric column, whose
    NULLs are skipped; None makes `col` categorical, NULL a bucket."""
    rows = df if bounds is None else df.filter(sql.ref(col).isNotNull())
    if by:
        rows = rows.filter(sql.ref(by).isNotNull())
        part, parts = sql.ref(by), None
    else:
        part = F.lit(None).cast("string")
        parts = df.sparkSession.range(1).select(part.alias("part"))
    bucket = (sql.ref(col) if bounds is None else bucket_expr(col, *bounds))
    cur = (rows.groupBy(part.alias("part"), bucket.alias("bucket"))
           .agg(F.count(F.lit(1)).alias("n")))
    return score_histograms(cur, None if bounds is None else bounds[2],
                            baseline, parts)


def score_histograms(cur: DataFrame, bins: Optional[int],
                     baseline: DataFrame,
                     parts: Optional[DataFrame] = None) -> DataFrame:
    """Score per-partition histograms ``(part, bucket, n)`` against
    one baseline ``(bucket, n)`` histogram: ``(part, n_rows, ks, l1,
    chi2, psi)``, one row per partition of `parts` (default: the
    partitions present in `cur`).

    With `bins`, buckets are numeric and compared as ``long`` over the
    dense ``0..bins-1`` grid; with ``bins=None`` they are categorical,
    compared as strings over the union of baseline and current
    buckets, NULL matching NULL.  Each partition's grid is scored in
    bucket order (NULL first), with within-partition window sums:

    - ks:   max |CDF_cur - CDF_base|
    - l1:   total-variation distance, sum|p_cur - p_base| / 2
    - chi2: sum (n_cur - E)^2 / E over buckets with baseline mass
    - psi:  population stability index with add-one (Laplace)
            smoothing on both sides so empty buckets stay finite:
            sum (pc' - pb') * ln(pc'/pb'), p' = (n+1)/(tot+G), G the
            grid size

    A side without rows divides by 1, not 0: an empty current
    histogram scores KS 1.0 against any baseline."""
    from pyspark.sql import Window

    if parts is None:
        parts = cur.select("part").distinct()
    if bins is None:
        kind = "string"
        buckets = (baseline.select(F.col("bucket").cast(kind).alias("bucket"))
                   .union(cur.select(F.col("bucket").cast(kind)))
                   .distinct())
        grid = parts.crossJoin(buckets)
    else:
        kind = "long"
        grid = parts.select("part", F.explode(F.sequence(
            F.lit(0).cast(kind), F.lit(bins - 1).cast(kind)))
            .alias("bucket"))
    base = baseline.select(F.col("bucket").cast(kind).alias("_bb"),
                           F.col("n").cast("long").alias("n_base"))
    hist = cur.select(F.col("part").alias("_cp"),
                      F.col("bucket").cast(kind).alias("_cb"),
                      F.col("n").alias("n_cur"))
    j = (grid.join(F.broadcast(base),
                   F.col("bucket").eqNullSafe(F.col("_bb")), "left")
         .join(hist, F.col("part").eqNullSafe(F.col("_cp"))
               & F.col("bucket").eqNullSafe(F.col("_cb")), "left")
         .select("part", "bucket",
                 F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
                 F.coalesce("n_base", F.lit(0)).alias("n_base")))
    by_part = Window.partitionBy("part")
    cum = by_part.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot_c = F.sum("n_cur").over(by_part)
    tot_b = F.sum("n_base").over(by_part)
    size = F.count(F.lit(1)).over(by_part)
    den_c = F.greatest(tot_c, F.lit(1))
    den_b = F.greatest(tot_b, F.lit(1))
    pc, pb = F.col("n_cur") / den_c, F.col("n_base") / den_b
    pcs = (F.col("n_cur") + 1) / (tot_c + size)
    pbs = (F.col("n_base") + 1) / (tot_b + size)
    expected = pb * den_c
    scored = j.select(
        "part", "n_cur",
        (F.abs(F.sum("n_cur").over(cum) / den_c
               - F.sum("n_base").over(cum) / den_b)).alias("_ks_term"),
        F.abs(pc - pb).alias("_l1_term"),
        F.when(expected > 0,
               F.pow(F.col("n_cur") - expected, F.lit(2.0)) / expected)
        .otherwise(F.lit(0.0)).alias("_chi2_term"),
        ((pcs - pbs) * F.log(pcs / pbs)).alias("_psi_term"))
    return (scored.groupBy("part")
            .agg(F.sum("n_cur").alias("n_rows"),
                 F.max("_ks_term").alias("ks"),
                 (F.sum("_l1_term") / 2.0).alias("l1"),
                 F.sum("_chi2_term").alias("chi2"),
                 F.sum("_psi_term").alias("psi")))
