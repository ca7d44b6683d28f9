"""Gopher-style repetition signals + n-gram decontamination.

Hand-computed fixtures pin the metric contract (see
operators/repetition.py docstring); a DuckDB explode+GROUP BY oracle
re-derives every fraction independently of the Spark fold; the
contamination tests pin hash==string join parity and the
explode_outer zero-gram row guarantee.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.contamination import ngram_contamination
from jsonschema_spark.operators.repetition import (dup_ngram_char_frac,
                                                   repetition_signals,
                                                   top_ngram_char_frac,
                                                   word_ngrams, word_array)

DOCS_PATH = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS_PATH)


def test_word_ngrams_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("a",), ("",), (None,)], "t string")
    out = df.select(word_ngrams(word_array(F.col("t")), 3).alias("g")) \
            .collect()
    assert out[0]["g"] == ["a b c", "b c d"]
    assert out[1]["g"] == [] and out[2]["g"] == []
    assert out[3]["g"] == [] and out[4]["g"] == []


def test_repetition_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a"),      # char_base 5; top2 = 2*2/5; dup2 = 8/5 -> 1.0
         (2, "x y z"),          # no repeats: top2 = 1*2/3 (tie -> 'y z')
         (3, "aa aa aa")],      # top2 'aa aa' x2 -> 2*5/6? chars(g)=4 -> 8/6 capped? top NOT capped: 2*4/6=1.333333
        "doc_id int, text string")
    out = {r["doc_id"]: r.asDict() for r in
           repetition_signals(df, "doc_id", "text",
                              top_ns=(2,), dup_ns=(2,)).collect()}
    assert out[1]["top_2gram_char_frac"] == 0.8
    assert out[1]["dup_2gram_char_frac"] == 1.0          # capped
    assert out[2]["top_2gram_char_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[2]["dup_2gram_char_frac"] == 0.0
    # "aa aa aa" -> grams ["aa aa", "aa aa"], count 2, chars 4, base 6
    assert out[3]["top_2gram_char_frac"] == pytest.approx(8 / 6, abs=1e-6)
    assert out[3]["dup_2gram_char_frac"] == 1.0


def test_repetition_tie_break_matches_struct_max(spark):
    """Equal-count grams resolve to the lexicographically largest —
    the same winner as max(struct(count, gram)) in Spark AND DuckDB."""
    df = spark.createDataFrame([(1, "b a b a c d c d")],
                               "doc_id int, text string")
    # 2-grams: "b a","a b","b a","a c","c d","d c","c d" -> counts:
    # "b a":2, "c d":2 (tie) -> winner "c d" (larger), frac 2*3/8? chars=2 -> 4/8
    out = repetition_signals(df, "doc_id", "text", top_ns=(2,),
                             dup_ns=()).collect()[0]
    assert out["top_2gram_char_frac"] == 0.5


def test_repetition_vs_duckdb_oracle(docs):
    """Every fraction re-derived by DuckDB explode + GROUP BY over the
    real documents table — independent of the Spark sorted-run fold."""
    got = {r["doc_id"]: r.asDict() for r in
           repetition_signals(docs, "doc_id", "text",
                              top_ns=(2, 3), dup_ns=(5,)).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * "
            f"FROM '{DOCS_PATH}'")
    q = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(coalesce(text, ''),
                     '\s+', ' ', 'g'), ' '), w -> w <> '') AS ws
  FROM documents
),
chars AS (
  SELECT doc_id, ws,
         coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
           AS char_base
  FROM base
),
grams AS (
  SELECT doc_id, greatest(char_base, 1) AS char_base, n,
         array_to_string(ws[i:i+n-1], ' ') AS g
  FROM chars, (VALUES (2), (3), (5)) t(n),
       LATERAL (SELECT unnest(range(1, greatest(len(ws) + 1, 1)))) r(i)
  WHERE i <= len(ws) - n + 1
),
counted AS (
  SELECT doc_id, char_base, n, g, count(*) AS cnt,
         length(g) - (n - 1) AS gchars
  FROM grams GROUP BY ALL
),
per_doc AS (
  SELECT doc_id, n,
         round(max(struct_pack(c := cnt, g := g)).c
               * (length(max(struct_pack(c := cnt, g := g)).g) - (n - 1))
               / char_base, 6) AS top_frac,
         round(least(coalesce(sum(CASE WHEN cnt >= 2
                                        THEN cnt * gchars END), 0)
                     / char_base, 1.0), 6) AS dup_frac
  FROM counted GROUP BY doc_id, char_base, n
)
SELECT doc_id, n, top_frac, dup_frac FROM per_doc
"""
    want = {}
    for doc_id, n, top, dup in con.sql(q).fetchall():
        want.setdefault(doc_id, {})[n] = (top, dup)
    assert len(got) == 500  # one row out per document, short docs included
    for doc_id, row in got.items():
        for n, key in ((2, "top_2gram_char_frac"), (3, "top_3gram_char_frac")):
            oracle = want.get(doc_id, {}).get(n, (0.0, 0.0))[0]
            assert row[key] == pytest.approx(oracle, abs=1e-9), (doc_id, n)
        oracle5 = want.get(doc_id, {}).get(5, (0.0, 0.0))[1]
        assert row["dup_5gram_char_frac"] == pytest.approx(
            oracle5, abs=1e-9), doc_id


def test_column_scope_helpers(spark):
    df = spark.createDataFrame([("q w q w q w",)], "t string")
    row = df.select(
        top_ngram_char_frac(F.col("t"), 2).alias("top"),
        dup_ngram_char_frac(F.col("t"), 2).alias("dup")).collect()[0]
    # grams: "q w" x3, "w q" x2; base 6; top = 3*2/6 = 1.0; dup = (6+4)/6 cap
    assert row["top"] == 1.0 and row["dup"] == 1.0


def test_contamination_hand_computed(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "lorem ipsum dolor sit amet"),
         (3, "xx"), (4, None)],
        "doc_id int, text string")
    ref = spark.createDataFrame(
        [(0, "the quick brown cat"), (1, "other words entirely here")],
        "rid int, text string")
    rows = {r["doc_id"]: r.asDict() for r in
            ngram_contamination(train, ref, n=3).collect()}
    assert rows[1]["n_grams"] == 3 and rows[1]["n_hit"] == 1
    assert rows[1]["contaminated"] and rows[1]["contaminated_frac"] \
        == pytest.approx(1 / 3, abs=1e-6)
    assert rows[2]["n_hit"] == 0 and not rows[2]["contaminated"]
    # zero-gram rows survive with frac 0 (explode_outer guarantee)
    assert rows[3]["n_grams"] == 0 and rows[4]["n_grams"] == 0
    assert not rows[3]["contaminated"]


def test_contamination_hash_equals_string_join(docs):
    """on_hash=True (the 100 TB join key) must produce identical
    results to the exact string join at test scale."""
    ref = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    exact = ngram_contamination(train, ref, n=4, on_hash=False)
    hashed = ngram_contamination(train, ref, n=4, on_hash=True)
    assert sorted(map(tuple, exact.collect())) \
        == sorted(map(tuple, hashed.collect()))


def test_contamination_vs_duckdb(docs):
    got = {r["doc_id"]: r for r in ngram_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"), n=4).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{DOCS_PATH}'")
    q = r"""
WITH base AS (
  SELECT doc_id, source,
         list_filter(string_split(regexp_replace(coalesce(text, ''),
                     '\s+', ' ', 'g'), ' '), w -> w <> '') AS ws
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, source, array_to_string(ws[i:i+3], ' ') AS g
  FROM base, LATERAL (SELECT unnest(range(1, greatest(len(ws) - 4 + 2, 1)))) r(i)
),
ref AS (SELECT DISTINCT g FROM grams WHERE source = 'src0')
SELECT b.doc_id,
       count(g.g) AS n_grams,
       count(CASE WHEN g.g IN (SELECT g FROM ref) THEN 1 END) AS n_hit
FROM base b LEFT JOIN grams g ON b.doc_id = g.doc_id
WHERE b.source <> 'src0'
GROUP BY b.doc_id
"""
    want = {doc_id: (n_grams, n_hit) for doc_id, n_grams, n_hit
            in con.sql(q).fetchall()}
    assert set(got) == set(want)
    for doc_id, (n_grams, n_hit) in want.items():
        assert (got[doc_id]["n_grams"], got[doc_id]["n_hit"]) \
            == (n_grams, n_hit), doc_id
