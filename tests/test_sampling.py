"""Deterministic sampling/splitting: cross-engine hash agreement,
growth-stability, proportions, stratified rates, plan shape."""

import hashlib

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.sampling import (
    deterministic_sample,
    split_assign,
    split_column,
    uniform_hash,
)


def _py_uniform(key, salt=""):
    h = hashlib.md5(f"{key}|{salt}".encode()).hexdigest()[:8]
    return int(h, 16) / float(1 << 32)


def test_uniform_hash_matches_reference_md5(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], "k long")
    got = {r["k"]: r["u"] for r in
           df.select("k", uniform_hash(F.col("k"), "s").alias("u"))
           .collect()}
    for k, u in got.items():
        assert abs(u - _py_uniform(k, "s")) < 1e-12, k


def test_split_proportions_and_determinism(spark):
    n = 20_000
    df = spark.createDataFrame([(i,) for i in range(n)], "k long")
    out = split_assign(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / n - 0.8) < 0.02
    assert abs(counts["val"] / n - 0.1) < 0.01
    # identical on re-run
    again = {r["k"]: r["split"] for r in
             split_assign(df, "k", {"train": 0.8, "val": 0.1,
                                    "test": 0.1}).collect()}
    first = {r["k"]: r["split"] for r in out.collect()}
    assert first == again


def test_split_stable_under_corpus_growth(spark):
    small = spark.createDataFrame([(i,) for i in range(500)], "k long")
    big = spark.createDataFrame([(i,) for i in range(2_000)], "k long")
    w = {"train": 0.9, "test": 0.1}
    s = {r["k"]: r["split"] for r in split_assign(small, "k", w).collect()}
    b = {r["k"]: r["split"] for r in split_assign(big, "k", w).collect()}
    assert all(b[k] == v for k, v in s.items())


def test_salt_draws_independent_assignment(spark):
    df = spark.createDataFrame([(i,) for i in range(2_000)], "k long")
    a = {r["k"]: r["split"] for r in
         split_assign(df, "k", {"x": 0.5, "y": 0.5}, salt="a").collect()}
    b = {r["k"]: r["split"] for r in
         split_assign(df, "k", {"x": 0.5, "y": 0.5}, salt="b").collect()}
    diff = sum(1 for k in a if a[k] != b[k])
    assert 0.4 < diff / len(a) < 0.6  # ~half move under a fresh salt


def test_stratified_rates_and_default_drop(spark):
    rows = [(i, ["en", "fr", "de"][i % 3]) for i in range(6_000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = deterministic_sample(df, "k", {"en": 0.5, "fr": 1.0},
                               strata_col="lang")
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert "de" not in counts  # default_fraction=0 drops unlisted strata
    assert counts["fr"] == 2_000
    assert abs(counts["en"] / 2_000 - 0.5) < 0.05


def test_flat_sample_is_scan_predicate(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    plan = (deterministic_sample(df, "k", 0.25)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan  # filter only — no shuffle
    n = deterministic_sample(df, "k", 0.25).count()
    assert 10 < n < 40


def test_sampling_validation_errors(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="strata_col"):
        deterministic_sample(df, "k", {"en": 0.5})
    with pytest.raises(ValueError, match="in \\[0, 1\\]"):
        deterministic_sample(df, "k", 1.5)
    with pytest.raises(ValueError, match="in \\[0, 1\\]"):
        deterministic_sample(df, "k", {"en": -0.1}, strata_col="k")
    with pytest.raises(ValueError, match="at least one"):
        split_column(F.col("k"), {})
    with pytest.raises(ValueError, match="non-negative"):
        split_column(F.col("k"), {"a": -1.0, "b": 2.0})
