"""Round-6 optimization parity tests: every operator whose internals
were restructured for performance is pinned result-identical to the
shape it replaced (the round's correctness contract — same rows, same
floats, different plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(240):
        base = f"alpha beta gamma delta epsilon zeta {i % 7} eta theta"
        if i % 5 == 0:
            base = "common boilerplate text shared by many documents " \
                   "for collision pressure"
        if i % 11 == 0:
            base += " repeated repeated repeated repeated repeated"
        rows.append((i, base))
    rows += [(240, None), (241, ""), (242, "x"), (243, " \t spaced")]
    return spark.createDataFrame(rows, "doc_id long, text string")


#: rows each text kernel collects from the ``docs`` fixture: one per
#: non-NULL text (the ids are unique)
N_TEXTS = 243


def _gate_sides(monkeypatch, module, cap, n, build, canon=tuple):
    """Run ``build()`` with ``module.<cap>`` at ``n`` (the bounded
    collect fits: kernel path) and at ``n - 1`` (it does not:
    distributed path).  Asserts that only the first plans a MapInArrow
    and returns the sorted, ``canon``-mapped rows of both sides."""
    sides = []
    for limit in (n, n - 1):
        monkeypatch.setattr(module, cap, limit)
        df = build()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("MapInArrow" in plan) == (limit == n), (cap, limit)
        sides.append(sorted(map(canon, df.collect())))
    return sides


def test_minhash_kernel_vs_join_parity(docs, monkeypatch):
    """The broadcast banding kernel must emit exactly the distributed
    slice-keyed self-join's pair set."""
    from jsonschema_spark.operators import dedup
    kern, join = _gate_sides(
        monkeypatch, dedup, "MINHASH_KERNEL_MAX_ROWS", N_TEXTS,
        lambda: dedup.minhash_candidates(docs, "doc_id", "text",
                                         min_jaccard=0.3))
    assert kern == join and len(kern) > 0


def test_hamming_verified_pairs_vs_composition(docs, monkeypatch):
    """Fused audit kernel == simhash_duplicates + exact-Jaccard verify,
    and over its cap the operator runs exactly that composition."""
    from jsonschema_spark.operators import dedup
    cand = dedup.simhash_duplicates(docs, "doc_id", "text",
                                    max_hamming=12, band_bits=4)
    old = sorted(map(tuple, dedup.verify_pairs_exact_jaccard(
        cand, docs, "doc_id", "text", k=5, min_jaccard=0.5).collect()))
    kern, fallback = _gate_sides(
        monkeypatch, dedup, "MINHASH_KERNEL_MAX_ROWS", N_TEXTS,
        lambda: dedup.hamming_verified_pairs(
            docs, "doc_id", "text", bits=64, max_hamming=12,
            band_bits=4, k=5, min_jaccard=0.5))
    dedup.clear_dedup_cache()
    assert kern == fallback == old and len(old) > 0


def test_repetition_kernel_vs_column_functions(docs):
    """The mapInArrow statistics kernel == the Column-level formulation
    (which dataset.py's `repetition` block uses)."""
    from jsonschema_spark.operators.repetition import (
        _run_stats, char_base, repetition_signals, word_array,
        word_ngrams)
    t = F.col("text")
    words = word_array(t)
    base = F.greatest(char_base(words), F.lit(1).cast("long"))
    cols = [F.col("doc_id")]
    for n in (2, 3, 4):
        stats = _run_stats(word_ngrams(words, n), n)
        cols.append(F.round(stats.getField("top_chars") / base, 6)
                    .alias(f"top_{n}gram_char_frac"))
    for n in (5, 6, 7, 8, 9, 10):
        stats = _run_stats(word_ngrams(words, n), n)
        cols.append(F.round(F.least(stats.getField("dup_chars") / base,
                                    F.lit(1.0)), 6)
                    .alias(f"dup_{n}gram_char_frac"))
    old = sorted(map(tuple, docs.select(*cols).collect()))
    new = sorted(map(tuple,
                     repetition_signals(docs, "doc_id", "text").collect()))
    assert old == new


def test_brute_force_topk_tie_selection(spark):
    """argpartition selection must reproduce the lexsort's exact set
    under boundary ties (few distinct rounded cosine values)."""
    import numpy as np

    from jsonschema_spark.operators.similarity import brute_force_topk
    rows = [(i, [float(i % 3), float((i // 3) % 2), 1.0])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(df, "vec_id", "embedding", k=4,
                           round_to=2).collect()
    by_id: dict = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    M = np.asarray([r[1] for r in rows], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = np.round(M @ M.T, 2)
    for i, sel in by_id.items():
        s = S[i].copy()
        s[i] = -np.inf
        order = np.lexsort((np.arange(len(rows)), -s))[:4]
        want = sorted(int(j) for j in order)
        got = sorted(int(r["neighbour_id"]) for r in sel)
        assert got == want, (i, got, want)


def test_contamination_gram_frame_parity(docs):
    """Codegen explode gram stream == interpreted per-doc array shape."""
    from jsonschema_spark.operators.contamination import \
        _distinct_gram_frame
    from jsonschema_spark.operators.repetition import (word_array,
                                                       word_ngrams)
    n = 3
    grams = F.array_distinct(word_ngrams(word_array(F.col("text")), n))
    old = (docs.select("doc_id", grams.alias("_g"))
           .select("doc_id", F.explode_outer("_g").alias("gram")))
    new = _distinct_gram_frame(docs, "text", n, "doc_id", False)
    a = sorted(map(tuple, old.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b


def test_exact_fingerprint_pairs_join_back(docs):
    """min+join-back edges == the collect_list star edges."""
    from jsonschema_spark.operators.dedup import exact_fingerprint_pairs
    from jsonschema_spark.operators.text import content_fingerprint
    keyed = (docs.filter(F.col("text").isNotNull())
             .select(content_fingerprint(F.col("text")).alias("_k"),
                     F.col("doc_id")))
    old = (keyed.groupBy("_k")
           .agg(F.min("doc_id").alias("id_a"),
                F.collect_list("doc_id").alias("_ids"))
           .filter(F.size("_ids") > 1)
           .select("id_a", F.explode("_ids").alias("id_b"))
           .filter(F.col("id_a") != F.col("id_b")))
    new = exact_fingerprint_pairs(docs, "doc_id", "text")
    a = sorted(map(tuple, old.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b and len(a) > 0


def test_ngram_jaccard_kernel_vs_join_parity(docs, monkeypatch):
    """Inverted-index kernel == posting-list self-join, including the
    tokenization corner cases (kept empty tokens, short docs, tabs)."""
    from jsonschema_spark.operators import dedup
    kern, join = _gate_sides(
        monkeypatch, dedup, "MINHASH_KERNEL_MAX_ROWS", N_TEXTS,
        lambda: dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                          min_jaccard=0.3))
    assert kern == join and len(kern) > 0


def test_ivf_kernel_vs_cogroup_parity(spark, monkeypatch):
    """Broadcast IVF kernel == distributed cogroup path under both
    probe configs the declared queries use.  Compared per query as the
    multiset of selected cosines rounded to 9 places: the two paths
    may differ by BLAS-accumulation ulps, and an ulp flip between the
    fixture's duplicate-direction near-ties may swap which of two
    equal-cosine neighbours is selected (the queries' contracts —
    rows-only / recall>=bar — tolerate both)."""
    import numpy as np
    from jsonschema_spark.operators import similarity
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)])
            for i in range(600)]
    # a few duplicate-direction vectors for near-tie pressure
    for i in range(600, 640):
        rows.append((i, [float(x) for x in
                         np.asarray(rows[i % 600][1]) * 2.0]))
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    for probe in (2, 5):
        kern, dist = _gate_sides(
            monkeypatch, similarity, "IVF_KERNEL_MAX_ROWS", 640,
            lambda: similarity.ivf_topk(df, "vec_id", "v", k=3,
                                        n_lists=8, n_probe=probe),
            canon=lambda r: (r["id"], round(r["cosine"], 9)))
        similarity.clear_ivf_cache()
        assert kern == dist and len(kern) == 640 * 3


def test_ivf_driver_normalize_bit_identity(spark):
    """The kernel path's driver-side left-fold normalization must be
    bit-equal to the Spark HOF expression the distributed path uses
    (acc = 0.0 then + x*x in element order, then x / sqrt(acc))."""
    import numpy as np
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=23)])
            for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, v array<float>")
    v = F.col("v").cast("array<double>")
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    sp = df.select(F.transform(v, lambda x: x / norm).alias("_v")) \
        .toPandas()
    S = np.asarray(list(sp["_v"]), dtype=np.float64)
    raw = df.select(v.alias("_v")).toPandas()
    M = np.asarray(list(raw["_v"]), dtype=np.float64)
    acc = np.zeros(len(M))
    for j in range(M.shape[1]):
        acc += M[:, j] * M[:, j]
    with np.errstate(divide="ignore", invalid="ignore"):
        Nn = M / np.sqrt(acc)[:, None]
    assert np.array_equal(S, Nn)
