"""Repetition-based quality signals for training-data curation.

Mirrors the repetition filter family popularized by Gopher (Rae et
al. 2021, "Scaling Language Models", Table A1) and used in Dolma /
RedPajama-style pipelines: the fraction of a document's characters
accounted for by its most frequent word n-gram ("top n-gram"), and by
all word n-grams that occur more than once ("duplicate n-grams").
High values flag boilerplate, SEO spam, and degenerate generations.

Metric contract (documented precisely so the DuckDB oracle can mirror
it exactly):

- ``words`` = whitespace-split non-empty tokens; ``char_base`` = sum
  of word lengths (inter-word whitespace excluded).
- an n-gram's character weight is ``length(gram) - (n - 1)`` — the
  joined string minus its n-1 separator spaces, i.e. the sum of its
  word lengths.
- ``top_{n}gram_char_frac`` = ``count(g*) * chars(g*) / char_base``
  where ``g*`` is the most frequent n-gram, ties broken toward the
  lexicographically LARGEST gram (identical to ``max(struct(count,
  gram))`` in both Spark and DuckDB).
- ``dup_{n}gram_char_frac`` = ``sum over grams with count >= 2 of
  count * chars(g) / char_base``, capped at 1.0.  This counts every
  occurrence (overlapping occurrences of different grams are NOT
  span-deduplicated, unlike Dolma's char-span marking) — simpler,
  deterministic, and monotone in repetition, which is what a filter
  threshold needs.
- documents with fewer than n words score 0.0 for that n; NULL/empty
  text scores 0.0 everywhere.

Scale note: this is a ZERO-SHUFFLE operator.  Rather than exploding
n-grams and re-aggregating (a shuffle of ~len(text) x len(ns) bytes
per document — the naive distributed formulation), each document's
n-gram histogram is computed in-row: build the gram array, sort it,
and fold run-lengths with ``F.aggregate``.  One narrow projection,
JVM-side, O(G log G) per row; a 100 TB corpus pays a scan and nothing
else.  The DuckDB oracle in ``__spark_entry__.py`` uses the explode +
GROUP BY formulation — same results, independent plan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_array(text: Column) -> Column:
    """Whitespace-split words with empties removed (empty array for
    NULL/blank text)."""
    words = F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")
    return F.filter(words, lambda w: w != "")


def word_ngrams(words: Column, n: int) -> Column:
    """Array of space-joined word n-grams (empty when len(words) < n)."""
    if n <= 1:
        return words
    starts = F.when(
        F.size(words) >= n,
        F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: F.array_join(F.slice(words, i, n), " "))


def char_base(words: Column) -> Column:
    """Sum of word lengths (the character denominator)."""
    return F.aggregate(words, F.lit(0).cast("long"),
                       lambda acc, w: acc + F.length(w))


def _run_stats(grams: Column, n: int) -> Column:
    """Fold a SORTED copy of `grams` into run-length statistics:
    struct(top_chars, dup_chars) where top_chars = best_count *
    chars(best_gram) (ties -> lexicographically largest gram, matching
    max(struct(count, gram))) and dup_chars = sum over runs >= 2 of
    run * chars(gram).  Zero shuffle: pure higher-order functions."""
    sep = n - 1

    def close_run(acc, nxt_prev, nxt_run):
        """Fold the run that just ended (acc.prev x acc.run) into
        best/dup, then open the next run."""
        run, g = acc.getField("run"), acc.getField("prev")
        gchars = F.length(g) - F.lit(sep)
        promote = (run > F.lit(0)) & (run >= acc.getField("best_c"))
        best_c = F.when(promote, run).otherwise(acc.getField("best_c"))
        best_g = F.when(promote, g).otherwise(acc.getField("best_g"))
        dup = F.when(run >= 2, acc.getField("dup") + run * gchars) \
               .otherwise(acc.getField("dup"))
        return F.struct(nxt_prev.alias("prev"), nxt_run.alias("run"),
                        best_c.alias("best_c"), best_g.alias("best_g"),
                        dup.alias("dup"))

    def step(acc, g):
        same = acc.getField("prev") == g
        grown = F.struct(
            g.alias("prev"),
            (acc.getField("run") + 1).alias("run"),
            acc.getField("best_c").alias("best_c"),
            acc.getField("best_g").alias("best_g"),
            acc.getField("dup").alias("dup"))
        return F.when(same, grown) \
                .otherwise(close_run(acc, g, F.lit(1).cast("long")))

    def finish(acc):
        closed = close_run(acc, F.lit(""), F.lit(0).cast("long"))
        best_c, best_g = closed.getField("best_c"), closed.getField("best_g")
        # best_c == 0 (no grams) -> force 0: length("") - sep is negative
        top = F.when(best_c > 0,
                     best_c * (F.length(best_g) - F.lit(sep))) \
               .otherwise(F.lit(0).cast("long"))
        return F.struct(top.alias("top_chars"),
                        closed.getField("dup").alias("dup_chars"))

    acc0 = F.struct(F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best_c"),
                    F.lit("").alias("best_g"),
                    F.lit(0).cast("long").alias("dup"))
    return F.aggregate(F.array_sort(grams), acc0, step, finish)


def top_ngram_char_frac(text: Column, n: int) -> Column:
    """Fraction of characters in the most frequent word n-gram."""
    words = word_array(text)
    stats = _run_stats(word_ngrams(words, n), n)
    base = F.greatest(char_base(words), F.lit(1).cast("long"))
    return F.round(stats.getField("top_chars") / base, 6)


def dup_ngram_char_frac(text: Column, n: int) -> Column:
    """Occurrence-weighted fraction of characters in duplicated word
    n-grams, capped at 1.0."""
    words = word_array(text)
    stats = _run_stats(word_ngrams(words, n), n)
    base = F.greatest(char_base(words), F.lit(1).cast("long"))
    return F.round(F.least(stats.getField("dup_chars") / base, F.lit(1.0)), 6)


#: Java-regex ``\s`` is the ASCII class ``[ \t\n\x0B\f\r]`` (no
#: UNICODE_CHARACTER_CLASS flag), so a token is a maximal run of
#: anything else — the exact complement, NOT Python's unicode-aware \S
_TOKEN_RE = r"[^ \t\n\x0b\x0c\r]+"


def _repetition_stats_kernel(id_field, text_name: str,
                             top_ns: Sequence[int],
                             dup_ns: Sequence[int]):
    """mapInArrow kernel computing the EXACT integer statistics of the
    metric contract per row: char_base, and per n the top-gram
    character mass (``best_count * chars(best_gram)``, ties toward the
    lexicographically largest gram — Python ``max((count, gram))`` is
    codepoint order, identical to Spark/DuckDB string comparison) and
    the duplicated-gram character mass.  All longs — no float leaves
    Python, so the Spark-side division/round is bit-identical to the
    previous all-Catalyst formulation."""
    import pyarrow as pa

    names = ([id_field, "_cb"]
             + [f"_top_{n}" for n in top_ns]
             + [f"_dup_{n}" for n in dup_ns])

    want_top, want_dup = set(top_ns), set(dup_ns)
    all_ns = sorted(want_top | want_dup)

    def fn(batches):
        import re
        from collections import Counter
        tok = re.compile(_TOKEN_RE)
        for batch in batches:
            ids = batch.column(0)          # (id, text) select order
            texts = batch.column(1).to_pylist()
            cb_out = []
            top_out = {n: [] for n in top_ns}
            dup_out = {n: [] for n in dup_ns}
            for txt in texts:
                words = tok.findall(txt) if txt else []
                L = len(words)
                cb_out.append(sum(map(len, words)))
                for n in all_ns:
                    if L < n:
                        if n in want_top:
                            top_out[n].append(0)
                        if n in want_dup:
                            dup_out[n].append(0)
                        continue
                    sep = n - 1
                    c = Counter(" ".join(words[i:i + n])
                                for i in range(L - n + 1))
                    if n in want_top:
                        bc, bg = max((v, g) for g, v in c.items())
                        top_out[n].append(bc * (len(bg) - sep))
                    if n in want_dup:
                        dup_out[n].append(sum(v * (len(g) - sep)
                                              for g, v in c.items()
                                              if v >= 2))
            arrays = ([ids, pa.array(cb_out, type=pa.int64())]
                      + [pa.array(top_out[n], type=pa.int64())
                         for n in top_ns]
                      + [pa.array(dup_out[n], type=pa.int64())
                         for n in dup_ns])
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn, names


def repetition_signals(df: DataFrame, id_col: str, text_col: str,
                       top_ns: Sequence[int] = (2, 3, 4),
                       dup_ns: Sequence[int] = (5, 6, 7, 8, 9, 10),
                       ) -> DataFrame:
    """Per-document repetition signal frame: one row per input row with
    ``top_{n}gram_char_frac`` for each n in `top_ns` and
    ``dup_{n}gram_char_frac`` for each n in `dup_ns` (Gopher Table A1's
    repetition block).

    Physical shape: one narrow (id, text) pass through a ``mapInArrow``
    kernel that emits the metric contract's INTEGER statistics (top /
    dup character masses and char_base), then a codegen'd projection
    does the division and rounding.  Still zero shuffles at scale (the
    only repartition is the small-input parallelism floor).  The
    all-Catalyst higher-order-function formulation this replaces spent
    ~7 ms/doc interpreting per-gram struct folds (9 n-values x sort +
    fold per row, measured 371 s over 50k short docs at sf1.0);
    per-doc Counter histograms in the Python worker are ~100x cheaper
    and the integers they return make the final fractions bit-identical
    (guide §4.2: batch work belongs in the Python-native tier, exact
    contract kept by keeping ALL float math in Spark)."""
    from .dedup import ensure_parallelism
    id_dt = df.schema[id_col].dataType.simpleString()
    fn, names = _repetition_stats_kernel(id_col, text_col, top_ns, dup_ns)
    schema = ", ".join([f"`{id_col}` {id_dt}"]
                       + [f"{c} long" for c in names[1:]])
    stats = (ensure_parallelism(df.select(id_col, text_col))
             .mapInArrow(fn, schema))
    base = F.greatest(F.col("_cb"), F.lit(1).cast("long"))
    cols = [F.col(id_col)]
    for n in top_ns:
        cols.append(F.round(F.col(f"_top_{n}") / base, 6)
                    .alias(f"top_{n}gram_char_frac"))
    for n in dup_ns:
        cols.append(
            F.round(F.least(F.col(f"_dup_{n}") / base, F.lit(1.0)), 6)
            .alias(f"dup_{n}gram_char_frac"))
    return stats.select(*cols)
