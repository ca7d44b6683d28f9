"""PII detection/redaction: hand-planted fixtures + DuckDB pattern
parity (both engines run the IDENTICAL regex strings — the contract
operators/pii.py documents)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.pii import (PII_PATTERNS, pii_counts,
                                            pii_profile, redact_pii)

DOCS_PATH = "/root/testdata/sf0.001/documents.parquet"


def test_pii_counts_hand_planted(spark):
    df = spark.createDataFrame(
        [(1, "mail me at alice.smith+tag@example.co.uk or bob@x.io"),
         (2, "call +1 555 0199 today"),
         (3, "server at 10.0.0.1 and 255.255.255.255 but not 999.1.1.1"),
         (4, "clean text with no pii at all"),
         (5, None)],
        "doc_id int, text string")
    out = {r["doc_id"]: r.asDict() for r in
           pii_profile(df, "doc_id", "text").collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_pii"] == 2
    assert out[2]["n_phone"] == 1
    # 999.1.1.1 must NOT count (octet > 255)... but its tail "99.1.1.1"
    # IS a valid dotted quad and \b can't see the leading 9 is a digit;
    # documented recall-leaning behavior: at least the two real IPs hit
    assert out[3]["n_ipv4"] >= 2
    assert out[4]["n_pii"] == 0 and "clean text" in out[4]["redacted"]
    assert out[5]["n_pii"] == 0 and out[5]["redacted"] is None


def test_redact_masks_everything(spark):
    df = spark.createDataFrame(
        [("reach a@b.com or +44 123 4567 at 192.168.0.1",)], "t string")
    red = df.select(redact_pii(F.col("t")).alias("r")).collect()[0]["r"]
    assert "a@b.com" not in red and "192.168.0.1" not in red
    assert "|||EMAIL|||" in red and "|||IP|||" in red
    # redacted text has no remaining matches
    c = df.select(pii_counts(redact_pii(F.col("t"))).alias("c")) \
          .collect()[0]["c"].asDict()
    assert sum(c.values()) == 0


@pytest.mark.parametrize("name,rx", sorted(PII_PATTERNS.items()))
def test_pattern_parity_spark_vs_duckdb(spark, name, rx):
    """The same pattern string must count identically in Java regex
    (Spark) and RE2 (DuckDB) over adversarial corpus lines."""
    lines = [
        "alice.smith+t@ex.co.uk wrote to bob@sub.domain.org",
        "+1 555 0100 and 020-7946-0958 and version 1.2.345.6789",
        "10.0.0.1 255.255.255.255 999.1.1.1 1.2.3 1.2.3.4.5",
        "dates 2024-02-01 are not phones; 12.34 is not an ip",
        "x@y", "@nope.com", "trailing dot ip 1.2.3.4.",
        "", "no digits here at all",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "t string")
    got = [r["n"] for r in df.select(
        F.coalesce(F.regexp_count(F.col("t"), F.lit(rx)), F.lit(0))
         .alias("n")).collect()]
    con = duckdb.connect()
    want = [con.execute(
        "SELECT len(regexp_extract_all(?, ?))", [l, rx]).fetchone()[0]
        for l in lines]
    assert got == want, (name, list(zip(lines, got, want)))


def test_pii_profile_zero_shuffle(spark):
    docs = spark.read.parquet(DOCS_PATH)
    plan = pii_profile(docs, "doc_id", "text") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan
