"""Benchmark decontamination: n-gram overlap between a training corpus
and a reference (evaluation) corpus.

The standard pre-training hygiene step (GPT-3 appendix C / PaLM /
Llama eval decontamination, all public): a training document is
"contaminated" if it shares at least one word n-gram (n=13 is the
GPT-3 convention) with any document in the benchmark set.  This module
scores every training row with its distinct-gram overlap so callers
can drop or audit.

Scale shape: the reference corpus is benchmark-sized (thousands to
millions of grams) while the training corpus is the 10^12-row side —
so the ref side is aggregated to DISTINCT grams (one small shuffle)
and broadcast; the training side pays one narrow projection + explode
+ a map-side broadcast hash join + a partial-agg-friendly groupBy on
its own id.  No shuffle ever carries training text.  With
``on_hash=True`` the join key is ``xxhash64(gram)`` (8 bytes instead
of the gram string — the 100 TB setting; collision odds ~n_ref^2/2^64
make a false "contaminated" flag negligible and false-clean
impossible).  ``on_hash=False`` joins raw gram strings — exact, and
what the DuckDB oracle mirrors; a test pins hash==string parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .repetition import word_array


def _distinct_gram_frame(df: DataFrame, text_col: str, n: int,
                         id_col: str | None, on_hash: bool) -> DataFrame:
    """Per-row distinct n-grams, exploded: (id?, gram).

    r6 shape: the gram stream is generated codegen-side — split once
    per doc, explode the gram start indices, ``array_join(slice(...))``
    per exploded row — instead of building a per-doc gram ARRAY with
    the interpreted ``transform`` HOF and exploding it (the same
    explode-indices rewrite minhash_signatures_df documents; measured
    ~6x on this stage, which also arrived in one parquet split and
    serialized — hence the ensure_parallelism floor).  Per-doc
    dedup happens as ``dropDuplicates`` on the exploded rows rather
    than ``array_distinct`` on the array — identical distinct (id,
    gram) multiset, and for the id-less ref side the caller's global
    ``.distinct()`` subsumes it outright.  ``explode_outer`` semantics
    are preserved: a doc with fewer than n words gets
    ``sequence(1, 0)`` = empty -> one NULL-gram row."""
    from .dedup import ensure_parallelism
    words = word_array(F.col(text_col))
    cols = ([F.col(id_col)] if id_col else []) + [words.alias("_w")]
    # guarded like word_ngrams: sequence(1, 0) would be DESCENDING
    # [1, 0], not empty
    starts = F.when(F.size("_w") >= n,
                    F.sequence(F.lit(1), F.size("_w") - (n - 1))) \
              .otherwise(F.array().cast("array<int>"))
    exploder = F.explode_outer if id_col else F.explode
    out = (ensure_parallelism(df.select(*cols))
           .select(*([id_col] if id_col else []), "_w",
                   exploder(starts).alias("_i"))
           .select(*([id_col] if id_col else []),
                   F.when(F.col("_i").isNotNull(),
                          F.array_join(F.slice("_w", F.col("_i"), n),
                                       " ")).alias("gram")))
    if id_col:
        out = out.dropDuplicates([id_col, "gram"])
    if on_hash:
        out = out.select(
            *([id_col] if id_col else []),
            F.when(F.col("gram").isNotNull(), F.xxhash64("gram"))
             .alias("gram"))
    return out


def ngram_contamination(df: DataFrame, ref_df: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        ref_text_col: str | None = None, n: int = 13,
                        on_hash: bool = False,
                        broadcast_ref: bool = True) -> DataFrame:
    """Score every row of `df` against the reference corpus: returns
    ``(id_col, n_grams, n_hit, contaminated_frac, contaminated)``
    where `n_grams` counts the row's DISTINCT word n-grams, `n_hit`
    how many of those appear anywhere in `ref_df`, and
    `contaminated_frac = n_hit / n_grams` (0.0 when the row has fewer
    than n words).  One row out per row in (short docs included).

    `ref_text_col` defaults to `text_col`.  `broadcast_ref=False`
    falls back to a shuffle join for a ref corpus too big to
    broadcast (rare — benchmarks are small by construction)."""
    ref_text = ref_text_col or text_col
    ref_grams = (_distinct_gram_frame(ref_df, ref_text, n, None, on_hash)
                 .distinct())
    if broadcast_ref:
        ref_grams = F.broadcast(ref_grams)

    doc_grams = _distinct_gram_frame(df, text_col, n, id_col, on_hash)
    out = (doc_grams
           .join(ref_grams.withColumn("_hit", F.lit(1)), "gram", "left")
           .groupBy(id_col)
           .agg(F.count("gram").cast("long").alias("n_grams"),
                F.count("_hit").cast("long").alias("n_hit")))
    frac = F.when(F.col("n_grams") > 0,
                  F.round(F.col("n_hit") / F.col("n_grams"), 6)) \
            .otherwise(F.lit(0.0))
    return out.select("*", frac.alias("contaminated_frac"),
                      (F.col("n_hit") > 0).alias("contaminated"))
