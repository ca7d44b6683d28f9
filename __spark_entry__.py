"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship validation on sf0.001;
``queries()`` exposes each implemented operator from SURVEY.md §2 over the
driver testdata tables; ``oracle_sql()`` gives the DuckDB-equivalent SQL
for every SQL-expressible query (the rest get the driver's rows-only
check).  Column names/aliases match between engine and oracle because the
driver's compare hashes values after sorting columns by name.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF0001 = "/root/testdata/sf0.001"

def _fingerprint(path: str) -> str:
    """Content fingerprint (names and bytes of the data files, never the
    path or mtimes) of a file or parquet dir.  /tmp caches derived from
    a source embed this in their path, so regenerating the source (or
    editing the synthetic generator) silently invalidates the stale
    cache instead of reusing it (ADVICE-r3), while a fresh checkout of
    the same tree keeps every key and every oracle SQL text."""
    import hashlib
    h = hashlib.md5()
    names = (sorted(n for n in os.listdir(path)
                    if not n.startswith(("_", ".")))
             if os.path.isdir(path) else [""])
    for name in names:
        f = os.path.join(path, name) if name else path
        if not os.path.isfile(f):
            continue
        h.update(f"{name}:".encode())
        with open(f, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()[:10]


#: synthetic-oracle caches regenerate when either generator module
#: changes — sources/images.py builds the tables, but the payload BYTES
#: come from the codecs in operators/multimodal.py (r4 review finding:
#: a codec fix must invalidate the persisted oracle bytes too)
_GEN_FP = "".join(_fingerprint(os.path.join(_REPO, "jsonschema_spark", *p))
                  for p in (("sources", "images.py"),
                            ("operators", "multimodal.py"),
                            # the codecs determine the persisted BYTES
                            # (and their decode verdicts): a codec fix
                            # must invalidate cached oracle corpora
                            ("functions", "jpeg.py"),
                            ("functions", "webp.py"),
                            ("functions", "native_codecs.py")))[:16]



def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`_t` + the small-input parallelism floor (r6, guide §2.5 input
    skew): the sf testdata tables are single parquet files with 1-6 row
    groups, and parquet scan parallelism is row-group-bound — so every
    per-row-CPU-heavy query over e.g. `documents` (1 row group)
    executed on ONE of 32 cores.  One cheap round-robin repartition of
    the narrow scan output fans the compute out (measured: docs_language
    8.3 s -> 1.0 s, docs_pii 3.2 s -> 0.6 s at sf1.0).  At real scale
    inputs carry more partitions than cores and this is a no-op; it is
    applied ONLY to queries whose per-row work dominates — for
    tiny-aggregate queries (events_hourly, manifest_orders) the extra
    exchange measured as a net loss and `_t` stays.

    Pushdown barrier (r6 round 2): Catalyst pushes deterministic
    filters through the round-robin repartition, so an expensive
    per-row filter above the floor sank back to the row-group-bound
    scan and the floor bought nothing (measured on the validator
    queries: the whole violation array evaluated on 6 tasks at
    sf1.0).  A nondeterministic always-true filter
    (monotonically_increasing_id() >= 0 — the id is non-negative by
    construction) pins downstream filters above the exchange; it is
    added ONLY when the floor actually repartitioned, so at real scale
    the helper remains a strict no-op."""
    return _fan(_t(spark, sf_dir, name))


def _fan(df: DataFrame) -> DataFrame:
    """Parallelism floor + pushdown barrier over an arbitrary frame
    (see `_tp`); strict no-op when the input is already parallel."""
    from jsonschema_spark.operators.dedup import ensure_parallelism
    fanned = ensure_parallelism(df)
    if fanned is df:
        return df
    return fanned.where(F.monotonically_increasing_id() >= 0)


# --------------------------------------------------------------- specs ----

LINEITEM_SPEC = {
    "type": "object",
    "required": ["l_orderkey", "l_shipdate"],
    "properties": {
        "l_quantity": {"minimum": 1, "maximum": 30},
        "l_discount": {"minimum": 0, "maximum": 0.08},
        "l_extendedprice": {"exclusiveMinimum": 0},
        "l_returnflag": {"enum": ["A", "N", "R"]},
        "l_linestatus": {"enum": ["O"]},
    },
}

ORDERS_SPEC = {
    "type": "object",
    "required": ["o_orderkey"],
    "properties": {
        "o_totalprice": {"maximum": 300000},
        "o_orderpriority": {"pattern": "^[1-3]-"},
    },
}

PART_SPEC = {
    "type": "object",
    "required": ["p_partkey", "p_name"],
    "properties": {
        "p_size": {"minimum": 1, "maximum": 40},
        "p_brand": {"pattern": "^Brand#[0-9]+$"},
        "p_retailprice": {"exclusiveMinimum": 0, "maximum": 1800},
    },
}


# ------------------------------------------------------------- queries ----

def q_violations_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level keyword validation -> violation counts (compiler core)."""
    from jsonschema_spark import CompiledValidator
    li = _tp(spark, sf_dir, "lineitem")
    v = CompiledValidator(LINEITEM_SPEC, li)
    return (v.violations(li)
            .groupBy("keyword", "json_path")
            .agg(F.count(F.lit(1)).alias("n")))


def q_violations_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_spark import CompiledValidator
    p = _t(spark, sf_dir, "part")
    v = CompiledValidator(PART_SPEC, p)
    return (v.violations(p)
            .groupBy("keyword", "json_path")
            .agg(F.count(F.lit(1)).alias("n")))


def q_manifest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition pass/fail manifest (is_valid lifted to groupBy)."""
    from jsonschema_spark import CompiledValidator
    o = _t(spark, sf_dir, "orders")
    v = CompiledValidator(ORDERS_SPEC, o)
    return v.manifest(o, ["o_orderstatus"])


def q_best_match_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """best_match ranking: one most-relevant violation per failing row."""
    from jsonschema_spark import CompiledValidator
    from jsonschema_spark.operators.bestmatch import best_match
    li = _tp(spark, sf_dir, "lineitem")
    v = CompiledValidator(LINEITEM_SPEC, li)
    viols = v.violations(li, ["l_orderkey", "l_linenumber"])
    return best_match(viols, ["l_orderkey", "l_linenumber"]).select(
        "l_orderkey", "l_linenumber", "keyword", "json_path")


def q_error_tree_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ErrorTree: violations grouped by instance path."""
    from jsonschema_spark import CompiledValidator
    from jsonschema_spark.operators.bestmatch import error_tree
    li = _tp(spark, sf_dir, "lineitem")
    v = CompiledValidator(LINEITEM_SPEC, li)
    return error_tree(v.violations(li)).select(
        "json_path", "total_errors",
        F.array_join("keywords", ",").alias("keywords"))


def q_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column stats (exact fields only, oracle-comparable)."""
    from jsonschema_spark.operators.stats import column_stats
    li = _t(spark, sf_dir, "lineitem")
    return column_stats(li, ["l_quantity", "l_extendedprice",
                             "l_discount"]).select(
        "column", "rows", "nulls",
        F.col("min").cast("double").alias("min_val"),
        F.col("max").cast("double").alias("max_val"))


def q_duplicate_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness check: customers with more than one order."""
    from jsonschema_spark.operators.uniqueness import duplicate_keys
    o = _t(spark, sf_dir, "orders")
    return duplicate_keys(o, ["o_custkey"], strategy="groupby")


def q_duplicate_custkeys_sortmerge(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Same semantics via the repartition+sortWithinPartitions strategy
    mandated by north_rule — must agree with the groupBy strategy."""
    from jsonschema_spark.operators.uniqueness import duplicate_keys
    o = _t(spark, sf_dir, "orders")
    return duplicate_keys(o, ["o_custkey"], strategy="sort")


def q_duplicate_custkeys_bucketed(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Same uniqueness semantics over a BUCKETED stored table
    (sources.io.write_bucketed_table): the groupBy aggregates on the
    bucket column, so the plan has ZERO exchanges — the storage-layout
    lever a 100 TB deployment would pull for repeated key-local checks.
    Must agree with the plain-shuffle strategies (same oracle)."""
    from jsonschema_spark.operators.uniqueness import duplicate_keys
    from jsonschema_spark.sources.io import write_bucketed_table
    # cache path keyed by a CONTENT fingerprint of the source parquet
    # (regenerated testdata at the same path -> fresh bucketed copy)
    loc = "/tmp/spark_graft_orders_bucketed_" + \
        _fingerprint(os.path.join(sf_dir, "orders.parquet"))
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        write_bucketed_table(_t(spark, sf_dir, "orders"),
                             "orders_bucketed_q", loc, "o_custkey",
                             n_buckets=32)
    else:
        from jsonschema_spark.sources.io import register_bucketed_table
        o = _t(spark, sf_dir, "orders")
        register_bucketed_table(
            spark, "orders_bucketed_q", loc,
            ", ".join(f"{f.name} {f.dataType.simpleString()}"
                      for f in o.schema.fields),
            "o_custkey", n_buckets=32)
    return duplicate_keys(spark.table("orders_bucketed_q"),
                          ["o_custkey"], strategy="groupby")


def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential checks ($ref lifted to anti-joins): orphan counts."""
    from jsonschema_spark.operators.referential import orphans
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    cu = _t(spark, sf_dir, "customer")
    a = orphans(li, "l_orderkey", o, "o_orderkey").agg(
        F.count(F.lit(1)).alias("orphans")).select(
        F.lit("lineitem.l_orderkey->orders").alias("fk"), "orphans")
    b = orphans(ev, "user_id", cu, "c_custkey").agg(
        F.count(F.lit(1)).alias("orphans")).select(
        F.lit("events.user_id->customer").alias("fk"), "orphans")
    return a.unionByName(b)


def q_drift_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-check building block: fixed-width histogram of o_totalprice."""
    from jsonschema_spark.operators.drift import histogram
    o = _t(spark, sf_dir, "orders")
    return histogram(o, "o_totalprice", 0.0, 500000.0, 20)


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed aggregation over the events stream table (batch form of
    the streaming tumbling-window agg); bucket = epoch hour (TZ-proof)."""
    ev = _t(spark, sf_dir, "events")
    hour = F.floor(F.unix_timestamp("ts") / 3600).alias("hour_bucket")
    return (ev.groupBy(hour, "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("sum_value_cents")))


def q_docs_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts + order-insensitive content key."""
    from jsonschema_spark.operators.text import (content_fingerprint,
                                                 token_count)
    d = _tp(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        content_fingerprint(F.col("text")).alias("content_key"))


def q_docs_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic distribution."""
    from jsonschema_spark.operators.text import detect_language
    d = _tp(spark, sf_dir, "documents")
    return (d.select(detect_language(F.col("text")).alias("lang_detected"))
            .groupBy("lang_detected")
            .agg(F.count(F.lit(1)).alias("n")))


def q_docs_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized token-set content key."""
    from jsonschema_spark.operators.text import content_fingerprint
    d = _t(spark, sf_dir, "documents")
    return (d.select(content_fingerprint(F.col("text")).alias("content_key"),
                     "doc_id")
            .groupBy("content_key")
            .agg(F.count(F.lit(1)).alias("dup_count"),
                 F.min("doc_id").alias("first_doc"))
            .filter(F.col("dup_count") > 1))


def _dup_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of exact content-fingerprint pairs (star edges per group)
    and word-3-gram Jaccard >= 0.6 pairs — the pair stream the cluster
    queries close transitively.  Star edges are CC-equivalent to the
    oracle's cliques (same components) and O(group) instead of
    O(group^2).

    THREE queries (docs_dup_clusters / docs_dedup_dropped /
    docs_curate) consume the identical stream, so it persists once per
    (generator fingerprint, sf_dir) like the synthetic oracle corpora —
    the edges are a pure function of the input table."""
    # key on the EDGE-PRODUCING modules (not _GEN_FP, which tracks the
    # image/codec generators) AND a content fingerprint of the source
    # table: a change to the Jaccard join / fingerprint kernel / the
    # bounded-collect gate OR regenerated testdata at the same path
    # must invalidate the persisted edges (the repo-wide /tmp cache convention, ADVICE-r3)
    fp = "".join(_fingerprint(os.path.join(
        _REPO, "jsonschema_spark", "operators", f"{mod}.py"))
        for mod in ("dedup", "kernels", "text"))[:16]
    src_fp = _fingerprint(os.path.join(sf_dir, "documents.parquet"))
    # the edge-defining parameters live in THIS file, outside the
    # fingerprinted modules — embed them so retuning the threshold
    # cannot silently reuse stale edges
    n, minj = 3, 0.6
    cache = f"/tmp/spark_graft_pairs_{fp}_{src_fp}_n{n}_j{minj}"
    if os.path.exists(os.path.join(cache, "_SUCCESS")):
        return spark.read.parquet(cache)
    from jsonschema_spark.operators.dedup import (exact_fingerprint_pairs,
                                                  ngram_jaccard_pairs)
    d = _t(spark, sf_dir, "documents")
    jac = (ngram_jaccard_pairs(d, "doc_id", "text", n=n, min_jaccard=minj)
           .select("id_a", "id_b"))
    ex = exact_fingerprint_pairs(d, "doc_id", "text")
    jac.union(ex).write.mode("overwrite").parquet(cache)
    return spark.read.parquet(cache)


def q_docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the near-dup pair stream into clusters
    (large-star/small-star connected components; cluster_id = min member
    id) — the step between pair emission and survivor election."""
    from jsonschema_spark.operators.clusters import duplicate_clusters
    pairs = _dup_pair_edges(spark, sf_dir)
    return (duplicate_clusters(pairs)
            .select(F.col("id").alias("doc_id"), "cluster_id"))


def q_docs_dedup_dropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop manifest of cluster-resolved dedup: every non-survivor row,
    with the survivor elected per cluster as the LONGEST text (ties ->
    smallest doc_id) via the min_by aggregation path (no window — a
    mega-cluster partially aggregates map-side)."""
    from jsonschema_spark.operators.clusters import resolve_duplicates
    d = _t(spark, sf_dir, "documents")
    pairs = _dup_pair_edges(spark, sf_dir)
    out = resolve_duplicates(d, pairs, "doc_id",
                             prefer=-F.length("text"))
    return (out.filter(~F.col("is_canonical"))
            .select("doc_id", "cluster_id"))


def q_docs_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition (pipeline.curate): row-keyword
    validity + cluster-resolved dedup survivor election + deterministic
    split as three labeling columns on one frame.  Every piece has its
    own oracle elsewhere (violations_*, docs_dup_clusters,
    docs_dedup_dropped, docs_split); this query certifies the
    COMPOSITION — per (valid, is_canonical, split) cell counts — against
    a single DuckDB query gluing the same validity SQL, recursive-CTE
    dedup, and md5-prefix split."""
    from jsonschema_spark import curate
    d = _t(spark, sf_dir, "documents")
    pairs = _dup_pair_edges(spark, sf_dir)
    spec = {
        "type": "object",
        "required": ["doc_id", "text"],
        "properties": {
            "n_chars": {"minimum": 1, "maximum": 300},
            "lang": {"enum": ["en", "de", "fr", "es"]},
        },
    }
    out = curate(d, spec, "doc_id", pairs=pairs,
                 prefer=-F.length("text"),
                 split={"train": 0.8, "val": 0.1, "test": 0.1},
                 split_salt="r5")
    return (out.groupBy("valid", "is_canonical", "split")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("valid", "is_canonical", "split"))


def q_docs_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (hash-of-key, not rand():
    retry-safe, growth-stable, reproducible bit-for-bit in any engine —
    the DuckDB oracle recomputes the identical md5-prefix uniform)."""
    from jsonschema_spark.operators.sampling import split_assign
    d = _t(spark, sf_dir, "documents")
    return (split_assign(d, "doc_id",
                         {"train": 0.8, "val": 0.1, "test": 0.1},
                         salt="r5")
            .select("doc_id", "split"))


def q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (rebalance: keep 25% of en,
    half of fr, all of zh, drop unlisted strata) — one codegen'd scan
    filter, no shuffle, row-for-row reproducible."""
    from jsonschema_spark.operators.sampling import deterministic_sample
    d = _t(spark, sf_dir, "documents")
    return (deterministic_sample(d, "doc_id",
                                 {"en": 0.25, "fr": 0.5, "zh": 1.0},
                                 strata_col="lang", salt="r5")
            .select("doc_id", "lang"))


def q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition block (Rae et al. 2021 Table A1): top
    2/3/4-gram and duplicate 5..10-gram character fractions, computed
    with the ZERO-SHUFFLE sorted-run fold (operators/repetition.py) —
    the oracle re-derives every fraction via explode + GROUP BY."""
    from jsonschema_spark.operators.repetition import repetition_signals
    d = _t(spark, sf_dir, "documents")
    return repetition_signals(d, "doc_id", "text",
                              top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10))


def q_docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C shape): score every
    non-src0 document's distinct word-4-gram overlap against the src0
    'benchmark' corpus.  Ref side: distinct grams, broadcast; train
    side: one narrow explode + broadcast join + per-doc count.  The
    production path joins on xxhash64(gram) (8-byte keys at 10^12
    rows; hash==string parity pinned in tests/test_repetition.py) —
    the oracle-compared query uses the exact string join."""
    from jsonschema_spark.operators.contamination import ngram_contamination
    d = _t(spark, sf_dir, "documents")
    ref = d.filter(F.col("source") == "src0")
    train = d.filter(F.col("source") != "src0")
    return ngram_contamination(train, ref, "doc_id", "text", n=4,
                               on_hash=False)


def q_docs_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma/C4-style PII pass over deterministically PLANTED PII (the
    synthetic corpus contains none — same pattern as formats_customer's
    synthesized emails): docs at doc_id%7/%11/%13 get an email / phone /
    IPv4 appended, then pii_profile counts and redacts.  Zero-shuffle
    codegen'd projection; the oracle runs the IDENTICAL regex strings."""
    from jsonschema_spark.operators.pii import pii_profile
    d = _tp(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com now"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" call +1 555 0100")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.concat(F.lit(" from 192.168.0."),
                            (F.col("doc_id") % 256).cast("string")))
             .otherwise(F.lit(""))).alias("text"))
    return pii_profile(planted, "doc_id", "text")


def q_embeddings_max_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search baseline: per-vector max cosine to any other."""
    from jsonschema_spark.operators.similarity import max_cosine_per_vector
    e = _t(spark, sf_dir, "embeddings")
    return max_cosine_per_vector(e, "vec_id", "embedding", round_to=4)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (rows-only check: LSH banding is
    not ANSI-SQL-expressible)."""
    from jsonschema_spark.operators.dedup import minhash_candidates
    d = _t(spark, sf_dir, "documents")
    return minhash_candidates(d, "doc_id", "text", num_hashes=64,
                              bands=16, min_jaccard=0.5)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (rows-only)."""
    from jsonschema_spark.operators.dedup import simhash_duplicates
    d = _t(spark, sf_dir, "documents")
    return simhash_duplicates(d, "doc_id", "text", max_hamming=3,
                              band_bits=16)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs — full DuckDB oracle
    (the posting-list join is exact when no gram df exceeds the skew
    guard; the testdata's max gram df is single-digit)."""
    from jsonschema_spark.operators.dedup import ngram_jaccard_pairs
    d = _t(spark, sf_dir, "documents")
    p = ngram_jaccard_pairs(d, "doc_id", "text", n=3, min_jaccard=0.6)
    return p.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_minhash_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidates re-scored with EXACT char-5-shingle
    Jaccard (candidates only — the scale-safe verify shape).  Equality
    with the oracle's all-pairs brute force certifies candidate recall
    AND post-verify precision."""
    from jsonschema_spark.operators.dedup import (minhash_candidates,
                                                  verify_pairs_exact_jaccard)
    d = _t(spark, sf_dir, "documents")
    cand = minhash_candidates(d, "doc_id", "text", num_hashes=64,
                              bands=16, min_jaccard=0.5)
    v = verify_pairs_exact_jaccard(cand, d, "doc_id", "text", k=5,
                                   min_jaccard=0.5)
    return v.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_simhash_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash recall audit over a deterministic 1/3 panel (doc_id % 10
    == 0): banding at 16 bands x 4 bits (pigeonhole: any pair within
    hamming 15 shares a band) re-scored with exact Jaccard.

    Why a panel: at hamming <= 12 over 64 bits, short same-domain
    documents produce O(n^2) candidates (measured: 4.9M pairs at 5k
    docs) — the loose threshold needed to bound recall does not scale
    to the full corpus, so the *certified* check runs on a bounded
    audit sample, exactly like production data-quality audits.  The
    full-corpus operational query is `simhash_pairs` (hamming <= 3).

    r6: runs through the FUSED audit kernel
    (dedup.hamming_verified_pairs) — result-identical to the
    simhash_duplicates + verify_pairs_exact_jaccard composition it
    replaces (equality asserted in tests/test_dedup fused-parity test),
    but candidates are enumerated and verified inside one mapInArrow
    pass instead of materializing the O(n^2) candidate row stream
    (55.6M rows at sf1.0) and joining shingle arrays onto it."""
    from jsonschema_spark.operators.dedup import hamming_verified_pairs
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    v = hamming_verified_pairs(d, "doc_id", "text", bits=64,
                               max_hamming=12, band_bits=4, k=5,
                               min_jaccard=0.5)
    return v.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


COMPOSED_ORDERS_SPEC = {
    "type": "object",
    "anyOf": [
        {"properties": {"o_totalprice": {"maximum": 150000}}},
        {"properties": {"o_orderpriority": {"pattern": "^1-"}}},
    ],
    "oneOf": [
        {"properties": {"o_orderstatus": {"enum": ["O"]}}},
        {"properties": {"o_totalprice": {"minimum": 100000}}},
    ],
    "not": {"properties": {"o_orderstatus": {"const": "X"}}},
    "if": {"properties": {"o_orderstatus": {"const": "F"}}},
    "then": {"properties": {"o_totalprice": {"maximum": 400000}}},
    "else": {"required": ["o_custkey"]},
}

QUANTITY_ARRAY_SPEC = {
    "properties": {
        "quantities": {
            "minItems": 2, "maxItems": 6, "uniqueItems": True,
            "contains": {"minimum": 45}, "maxContains": 2,
        },
    },
}


def q_composition_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applicator keywords (anyOf/oneOf/not/if-then-else) as boolean
    algebra over child predicates — violation counts by keyword."""
    from jsonschema_spark import CompiledValidator
    o = _tp(spark, sf_dir, "orders")
    v = CompiledValidator(COMPOSED_ORDERS_SPEC, o)
    return (v.violations(o)
            .groupBy("keyword", "json_path")
            .agg(F.count(F.lit(1)).alias("n")))


def q_array_keywords_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array keywords via higher-order functions over per-order
    quantity arrays (minItems/maxItems/uniqueItems/contains)."""
    from jsonschema_spark import CompiledValidator
    li = _tp(spark, sf_dir, "lineitem")
    arr = (li.filter(F.col("l_quantity").isNotNull())
           .groupBy("l_orderkey")
           .agg(F.sort_array(F.collect_list("l_quantity"))
                .alias("quantities")))
    v = CompiledValidator(QUANTITY_ARRAY_SPEC, arr)
    return (v.violations(arr)
            .groupBy("keyword", "json_path")
            .agg(F.count(F.lit(1)).alias("n")))


def q_quantiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (the oracle-checkable core of the
    stats operator; at scale approx_percentile sketches replace this)."""
    o = _tp(spark, sf_dir, "orders")
    return (o.filter(F.col("o_totalprice").isNotNull())
            .groupBy("o_orderstatus")
            .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 4)
                 .alias("p50"),
                 F.round(F.expr("percentile(o_totalprice, 0.9)"), 4)
                 .alias("p90"),
                 F.count(F.lit(1)).alias("n")))


def q_drift_ks_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS + L1 drift between o_totalprice distributions of O-status vs
    F-status orders (current vs baseline histogram compare), scored in
    one partition by the library's drift scorer."""
    from jsonschema_spark.operators.drift import histogram, score_histograms
    o = _t(spark, sf_dir, "orders")
    cur = histogram(o.filter(F.col("o_orderstatus") == "O"),
                    "o_totalprice", 0.0, 500000.0, 20)
    base = histogram(o.filter(F.col("o_orderstatus") == "F"),
                     "o_totalprice", 0.0, 500000.0, 20)
    s = score_histograms(cur.select(F.lit(0).alias("part"), "*"), 20, base)
    return (s.crossJoin(base.agg(F.sum("n").alias("n_baseline")))
            .select(F.round("ks", 6).alias("ks"),
                    F.round("l1", 6).alias("l1"),
                    F.col("n_rows").alias("n_current"), "n_baseline"))


def q_drift_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-PARTITION drift — the north_star sentence verbatim
    ("distribution-drift checks comparing per-partition histograms/KS
    statistics against a baseline snapshot"): each o_orderstatus
    partition's o_totalprice histogram scored against the whole-table
    baseline with KS, L1, chi-square and smoothed PSI, computed fully
    distributed (operators/drift.partitioned_drift: one shuffle + one
    tiny window per partition, no driver loop — 100k partitions cost
    the same plan).  The DuckDB oracle reproduces every statistic from
    the same dense (part x bucket) grid with window CDFs."""
    from jsonschema_spark.operators.drift import histogram, partitioned_drift
    o = _t(spark, sf_dir, "orders")
    base = histogram(o, "o_totalprice", 0.0, 500000.0, 32)
    d = partitioned_drift(o, "o_orderstatus", "o_totalprice",
                          0.0, 500000.0, 32, base)
    return (d.select("part", "n_rows",
                     F.round("ks", 6).alias("ks"),
                     F.round("l1", 6).alias("l1"),
                     F.round("chi2", 4).alias("chi2"),
                     F.round("psi", 6).alias("psi"))
            .orderBy("part"))


def q_drift_spec_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-driven per-partition drift: the ``x-spark.drift`` block with
    ``"by"`` routed through validate_dataset — saves the whole-table
    o_totalprice histogram as the baseline snapshot, scores every
    o_orderstatus partition against it (operators/drift.partitioned_drift
    under the hood), and emits one violation row per tripped
    (partition, statistic).  The DuckDB oracle reconstructs the SAME
    violation rows bit-for-bit — window CDFs over the dense grid,
    identical %.4f/%.6f string rendering — certifying the full
    spec->violation-row path, not just the statistics."""
    from jsonschema_spark import validate_dataset
    from jsonschema_spark.operators.drift import save_baseline
    o = _t(spark, sf_dir, "orders")
    bl = "/tmp/spark_graft_drift_bl_" + \
        _fingerprint(os.path.join(sf_dir, "orders.parquet"))
    if not os.path.exists(os.path.join(bl, "_SUCCESS")):
        save_baseline(o, bl, numeric={"o_totalprice": (0.0, 500000.0, 32)})
    spec = {"x-spark": {"drift": {
        "baseline": bl, "by": "o_orderstatus",
        "numeric": {"o_totalprice": [0.0, 500000.0, 32]},
        "max_ks": 0.005}}}
    return validate_dataset(o, spec).orderBy("message")


def q_formats_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """format keyword (email/uuid/date) over deterministically
    synthesized strings with planted violations."""
    from jsonschema_spark import CompiledValidator
    c = _tp(spark, sf_dir, "customer")
    md5 = F.md5(F.col("c_name"))
    uid = F.concat_ws("-", F.substring(md5, 1, 8), F.substring(md5, 9, 4),
                      F.substring(md5, 13, 4), F.substring(md5, 17, 4),
                      F.substring(md5, 21, 12))
    synth = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 97 == 0,
               F.concat(F.lower(F.col("c_name")), F.lit(".example.com")))
        .otherwise(F.concat(F.lower(F.col("c_name")), F.lit("@example.com")))
        .alias("email"),
        F.when(F.col("c_custkey") % 89 == 0, F.substring(uid, 2, 35))
        .otherwise(uid).alias("uid"),
        F.format_string("2024-02-%02d",
                        (F.col("c_custkey") % 40).cast("int")).alias("dt"),
    )
    spec = {"properties": {"email": {"format": "email"},
                           "uid": {"format": "uuid"},
                           "dt": {"format": "date"}}}
    # format_checker=True opts into assertion, like passing
    # FormatChecker() to the reference (_keywords.py:223-228)
    v = CompiledValidator(spec, synth, format_checker=True)
    return (v.violations(synth)
            .groupBy("keyword", "json_path")
            .agg(F.count(F.lit(1)).alias("n")))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal features per document (native regexp_count path)."""
    from jsonschema_spark.operators.text import quality_features
    d = _tp(spark, sf_dir, "documents")
    f = quality_features(F.col("text"))
    return d.select(
        "doc_id",
        f.getField("n_chars").alias("n_chars"),
        f.getField("n_tokens").cast("long").alias("n_tokens"),
        F.round(f.getField("mean_token_len"), 6).alias("mean_token_len"),
        F.round(f.getField("punct_ratio"), 6).alias("punct_ratio"),
        F.round(f.getField("stopword_rate"), 6).alias("stopword_rate"),
        F.round(f.getField("distinct_token_ratio"), 6)
        .alias("distinct_token_ratio"))


def q_embeddings_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k neighbours (k=3) — the ANN baseline."""
    from jsonschema_spark.operators.similarity import brute_force_topk
    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, "vec_id", "embedding", k=3, round_to=4)


def q_embeddings_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (rows-only: KMeans cells aren't SQL-expressible) —
    the scale path the brute-force oracle queries baseline."""
    from jsonschema_spark.operators.similarity import ivf_topk
    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(e, "vec_id", "embedding", k=3, n_lists=16, n_probe=3)


def q_embeddings_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@3 against the exact brute-force top-3: the
    oracle-checkable contract is (k, n_queries, recall_ok) with
    recall_ok = recall >= 0.9 — the driver's hash compare fails if the
    ANN path degrades below the bar."""
    from jsonschema_spark.operators.similarity import (brute_force_topk,
                                                       ivf_topk)
    e = _t(spark, sf_dir, "embeddings")
    # the testdata embeddings are UNclustered (pairwise cosine ~0), the
    # worst case for IVF: hitting recall 0.9 needs 12/16 cells probed.
    # On real clustered embeddings the same contract holds at far lower
    # n_probe — the query pins the *contract*, not the tuning.
    truth = brute_force_topk(e, "vec_id", "embedding", k=3) \
        .select("id", "neighbour_id")
    ann = ivf_topk(e, "vec_id", "embedding", k=3, n_lists=16, n_probe=12) \
        .select("id", "neighbour_id").withColumn("_hit", F.lit(1))
    # ONE action: truth and ann pipelines each execute once
    row = (truth.join(ann, ["id", "neighbour_id"], "left")
           .agg(F.count(F.lit(1)).alias("n_truth"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
                F.countDistinct("id").alias("n_queries"))).collect()[0]
    recall_ok = (row["n_truth"] or 0) > 0 and \
        (row["n_hit"] / row["n_truth"]) >= 0.9
    return spark.createDataFrame(
        [(3, row["n_queries"], bool(recall_ok))],
        "k int, n_queries bigint, recall_ok boolean")


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function sessionization: 30-minute-gap sessions/user."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (ev.withColumn("_new", new_sess)
            .groupBy("user_id")
            .agg(F.sum("_new").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


DRAFT4_ORDERS_SPEC = {
    "$schema": "http://json-schema.org/draft-04/schema#",
    "properties": {"o_totalprice": {"maximum": 200000,
                                    "exclusiveMaximum": True}},
    "dependencies": {"o_custkey": ["o_orderdate"]},
}


def q_violations_draft4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy-draft profile dispatch: $schema picks the draft4 compiler
    (boolean exclusiveMaximum modifier, dependencies keyword)."""
    from jsonschema_spark import CompiledValidator
    o = _tp(spark, sf_dir, "orders")
    v = CompiledValidator(DRAFT4_ORDERS_SPEC, o)
    return (v.violations(o)
            .groupBy("keyword", "json_path")
            .agg(F.count(F.lit(1)).alias("n")))


def q_standard_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Official output-format units (keywordLocation/instanceLocation),
    aggregated."""
    from jsonschema_spark import CompiledValidator
    from jsonschema_spark.operators.bestmatch import standard_output
    o = _tp(spark, sf_dir, "orders")
    v = CompiledValidator(ORDERS_SPEC, o)
    return (standard_output(v.violations(o))
            .groupBy("valid", "keywordLocation", "instanceLocation")
            .agg(F.count(F.lit(1)).alias("n")))


#: queries persist their deterministic synthetic input here so the
#: DuckDB oracle reads the SAME rows the engine validated
IMAGES_ORACLE_PATH = f"/tmp/spark_graft_images_oracle_{_GEN_FP}"
BMP_ORACLE_PATH = f"/tmp/spark_graft_bmp_oracle_{_GEN_FP}"


def q_images_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star flagship: the x-spark extension block executed
    end-to-end — row keywords + uniqueness + referential +
    pixel-invariant, one unified violations summary.  The synthetic
    table is persisted to parquet first, so a DuckDB oracle recomputes
    every keyword count (including the stub-decode invariant, whose
    header is ASCII-parseable in SQL) over the identical rows."""
    from jsonschema_spark import validate_dataset
    from jsonschema_spark.sources.images import (IMAGES_SCHEMA, images_df,
                                                 licenses_df)
    if not os.path.exists(os.path.join(IMAGES_ORACLE_PATH, "_SUCCESS")):
        (images_df(spark, 20_000, with_license=True)
         .write.mode("overwrite").parquet(IMAGES_ORACLE_PATH))
    img = spark.read.parquet(IMAGES_ORACLE_PATH)
    spec = dict(IMAGES_SCHEMA)
    spec["x-spark"] = dict(spec["x-spark"])
    spec["x-spark"]["pixel_invariant"] = {"min_psnr": 40.0}
    # dataset-level stats assertions (north_star: per-partition column
    # stats): the planted 0.5% caption-null rate and the w=20000 rows
    # must each trip one aggregate violation
    spec["x-spark"]["stats"] = {"caption": {"max_null_rate": 0.001},
                                "w": {"max": 16384}}
    allv = validate_dataset(img, spec, ["image_id"],
                            tables={"licenses": licenses_df(spark)})
    return (allv.groupBy("keyword")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("keyword"))


def q_dynamic_ref_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$dynamicRef dynamic-scope resolution over a struct column: the
    base resource's `$dynamicRef: "#limit"` bookends to an empty
    anchor, but the OUTER (derived) resource redefines `$dynamicAnchor:
    "limit"` with real bounds — so the strict constraints apply to the
    struct only via correct dynamic-scope search (a plain-$ref reading
    would validate nothing, which the oracle counts would expose)."""
    from jsonschema_spark import CompiledValidator
    o = _tp(spark, sf_dir, "orders")
    df = o.select("o_orderkey",
                  F.struct(F.col("o_totalprice"),
                           F.col("o_orderpriority")).alias("detail"))
    spec = {
        "$id": "https://example.com/derived",
        "$ref": "https://example.com/base",
        "$defs": {
            "strict": {
                "$dynamicAnchor": "limit",
                "properties": {
                    "o_totalprice": {"maximum": 250000},
                    "o_orderpriority": {"pattern": "^[1-4]-"},
                },
            },
            "base": {
                "$id": "https://example.com/base",
                "properties": {"detail": {"$dynamicRef": "#limit"}},
                "$defs": {"default": {"$dynamicAnchor": "limit"}},
            },
        },
    }
    v = CompiledValidator(spec, df)
    return (v.violations(df, ["o_orderkey"])
            .groupBy("keyword", "json_path")
            .agg(F.count(F.lit(1)).alias("n")))


def q_images_bmp_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec pixel invariant, oracle-checked: actual Windows-BMP
    files decoded with the built-in numpy codec, PSNR measured against
    the per-id reference pixels.  Output is one row of decode
    bookkeeping aggregates over the persisted table:

    - n_rows / sig_ok / truncated / hdr_dims_ok come from NATIVE byte
      math over the BMP header (signature, little-endian declared file
      size vs actual length, header dims vs table w/h) — DuckDB
      recomputes the same header fields from the same bytes;
    - decode_fail / low_psnr come from the REAL decode + PSNR pass —
      DuckDB derives the expected counts from the planted corruption
      rules (id % 251 truncation, id % 157 pixel flip), certifying
      that decoding finds exactly the planted damage."""
    from jsonschema_spark.operators.multimodal import decode_pixels
    from jsonschema_spark.sources.images import bmp_images_df
    if not os.path.exists(os.path.join(BMP_ORACLE_PATH, "_SUCCESS")):
        (bmp_images_df(spark, 2_000)
         .write.mode("overwrite").parquet(BMP_ORACLE_PATH))
    img = spark.read.parquet(BMP_ORACLE_PATH)

    b = F.col("bytes")

    def byte(i: int):           # 1-based byte -> long (native)
        return F.conv(F.hex(F.substring(b, i, 1)), 16, 10).cast("long")

    def le32(pos: int):
        return (byte(pos) + byte(pos + 1) * 256
                + byte(pos + 2) * 65536 + byte(pos + 3) * 16777216)

    declared, hdr_w, hdr_h = le32(3), le32(19), le32(23)
    hdr_agg = img.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.hex(F.substring(b, 1, 2)) == "424D").cast("long"))
        .alias("sig_ok"),
        F.sum((F.length(b) < declared).cast("long")).alias("truncated"),
        F.sum(((hdr_w == F.col("w")) & (hdr_h == F.col("h")))
              .cast("long")).alias("hdr_dims_ok"))
    dec = decode_pixels(img, psnr=True, carry=("w", "h"))
    dec_agg = dec.agg(
        F.sum((~F.col("decode_ok")).cast("long")).alias("decode_fail"),
        F.sum((F.col("decode_ok") & (F.col("psnr") < 40.0))
              .cast("long")).alias("low_psnr"))
    return hdr_agg.crossJoin(dec_agg)


def q_caption_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The *caption equality* half of the north-rule per-row invariant
    (input_hint: decoded-pixel allclose + caption equality): the
    table's caption column NULL-safe-compared against the
    deterministic reference caption for the generating id — one
    codegen'd narrow scan, no UDF.  The DuckDB oracle derives the
    expected mismatch counts per class straight from the planted-rule
    id arithmetic (no caption recomputation — an independent check of
    which rows may legally differ)."""
    from jsonschema_spark.operators.multimodal import caption_check
    from jsonschema_spark.sources.images import images_df, reference_caption
    img = images_df(spark, 20_000, with_id=True)
    viol = caption_check(img, reference_caption(F.col("id")))
    return (viol.groupBy("message")
            .agg(F.count(F.lit(1)).alias("n")).orderBy("message"))


PNGS_ORACLE_PATH = f"/tmp/spark_graft_pngs_oracle_{_GEN_FP}"


def q_images_png_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL **compressed**-codec tier: PNG payloads (zlib IDAT, CRCs,
    scanline filters) decoded by the engine's built-in pure-python
    codec (operators/multimodal.decode_png — no Pillow).  One row:

    - n_rows / sig_ok / hdr_dims_ok come from native byte math — the
      big-endian IHDR width/height re-parsed from raw bytes; DuckDB
      recomputes the same fields from the same persisted bytes;
    - decode_fail / low_psnr come from the REAL inflate+unfilter+PSNR
      pass — DuckDB derives the expected counts from the planted
      corruption rules (id % 251 truncation, id % 311 CRC flip,
      id % 157 pre-encode pixel damage), certifying that decoding
      finds exactly the planted damage."""
    from jsonschema_spark.operators.multimodal import decode_pixels
    from jsonschema_spark.sources.images import png_images_df
    if not os.path.exists(os.path.join(PNGS_ORACLE_PATH, "_SUCCESS")):
        (png_images_df(spark, 2_000)
         .write.mode("overwrite").parquet(PNGS_ORACLE_PATH))
    img = spark.read.parquet(PNGS_ORACLE_PATH)

    b = F.col("bytes")

    def byte(i: int):           # 1-based byte -> long (native)
        return F.conv(F.hex(F.substring(b, i, 1)), 16, 10).cast("long")

    def be32(pos: int):
        return (byte(pos) * 16777216 + byte(pos + 1) * 65536
                + byte(pos + 2) * 256 + byte(pos + 3))

    hdr_w, hdr_h = be32(17), be32(21)
    hdr_agg = img.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.hex(F.substring(b, 1, 8)) == "89504E470D0A1A0A")
              .cast("long")).alias("sig_ok"),
        F.sum(((hdr_w == F.col("w")) & (hdr_h == F.col("h")))
              .cast("long")).alias("hdr_dims_ok"))
    dec = decode_pixels(img, psnr=True, carry=("w", "h"))
    dec_agg = dec.agg(
        F.sum((~F.col("decode_ok")).cast("long")).alias("decode_fail"),
        F.sum((F.col("decode_ok") & (F.col("psnr") < 40.0))
              .cast("long")).alias("low_psnr"),
        F.sum((F.col("decode_ok") & (F.col("decoded_w") == F.col("w"))
               & (F.col("decoded_h") == F.col("h")))
              .cast("long")).alias("dims_roundtrip"))
    return hdr_agg.crossJoin(dec_agg)


JPEGS_ORACLE_PATH = f"/tmp/spark_graft_jpegs_oracle_{_GEN_FP}"


def q_images_jpeg_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL **lossy**-codec tier — the format class the north rule's
    per-row invariant is written for ("PSNR>=40dB for lossy fmt"):
    baseline JFIF JPEG payloads (4:4:4, in-file DQT/DHT) decoded by
    the engine's built-in pure-python codec (functions/jpeg — DCT,
    standard Huffman tables, no Pillow).  One row:

    - n_rows / sig_ok / sof_ok / hdr_dims_ok come from native byte
      math — the SOI signature, the SOF0 marker, and the big-endian
      frame height/width re-parsed from raw bytes at the encoder's
      deterministic offsets; DuckDB recomputes the same fields from
      the same persisted bytes;
    - decode_fail / low_psnr / dims_roundtrip come from the REAL
      Huffman+IDCT decode and the PSNR-vs-reference-pixels pass —
      DuckDB derives the expected counts from the planted corruption
      rules (id % 251 truncation, id % 311 SOF0-marker kill, id % 157
      pre-encode pixel damage), certifying that lossy decoding clears
      40 dB exactly on the undamaged rows."""
    from jsonschema_spark.operators.multimodal import decode_pixels
    from jsonschema_spark.sources.images import jpeg_images_df
    if not os.path.exists(os.path.join(JPEGS_ORACLE_PATH, "_SUCCESS")):
        (jpeg_images_df(spark, 2_000)
         .write.mode("overwrite").parquet(JPEGS_ORACLE_PATH))
    img = spark.read.parquet(JPEGS_ORACLE_PATH)

    b = F.col("bytes")

    def byte(i: int):           # 1-based byte -> long (native)
        return F.conv(F.hex(F.substring(b, i, 1)), 16, 10).cast("long")

    def be16(pos: int):
        return byte(pos) * 256 + byte(pos + 1)

    hdr_h, hdr_w = be16(164), be16(166)
    hdr_agg = img.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.hex(F.substring(b, 1, 2)) == "FFD8").cast("long"))
        .alias("sig_ok"),
        F.sum((F.hex(F.substring(b, 159, 2)) == "FFC0").cast("long"))
        .alias("sof_ok"),
        F.sum(((hdr_w == F.col("w")) & (hdr_h == F.col("h")))
              .cast("long")).alias("hdr_dims_ok"))
    dec = decode_pixels(img, psnr=True, carry=("w", "h"))
    dec_agg = dec.agg(
        F.sum((~F.col("decode_ok")).cast("long")).alias("decode_fail"),
        F.sum((F.col("decode_ok") & (F.col("psnr") < 40.0))
              .cast("long")).alias("low_psnr"),
        F.sum((F.col("decode_ok") & (F.col("decoded_w") == F.col("w"))
               & (F.col("decoded_h") == F.col("h")))
              .cast("long")).alias("dims_roundtrip"))
    return hdr_agg.crossJoin(dec_agg)


WEBPS_ORACLE_PATH = f"/tmp/spark_graft_webps_oracle_{_GEN_FP}"


def q_images_webp_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP tier: RIFF/VP8L payloads decoded by the engine's
    built-in pure-python codec (functions/webp — canonical prefix
    codes, transforms, libwebp-interoperable streams).  One row:

    - n_rows / sig_ok / riff_covered / hdr_dims_ok come from native
      byte math — the RIFF+WEBP+VP8L fourccs and 0x2F signature byte,
      the little-endian RIFF size vs the payload length (catches the
      planted truncation structurally), and the width/height decoded
      from the VP8L 14-bit LSB-first bitfields; DuckDB recomputes the
      same fields from the same persisted bytes;
    - decode_fail / low_psnr / dims_roundtrip come from the REAL
      entropy-decode + PSNR pass — DuckDB derives the expected counts
      from the planted corruption rules (id % 251 truncation,
      id % 311 VP8L-signature kill, id % 157 pre-encode pixel
      damage), certifying the lossless tier round-trips bit-exact on
      every undamaged row."""
    from jsonschema_spark.operators.multimodal import decode_pixels
    from jsonschema_spark.sources.images import webp_images_df
    if not os.path.exists(os.path.join(WEBPS_ORACLE_PATH, "_SUCCESS")):
        (webp_images_df(spark, 2_000)
         .write.mode("overwrite").parquet(WEBPS_ORACLE_PATH))
    img = spark.read.parquet(WEBPS_ORACLE_PATH)

    b = F.col("bytes")

    def byte(i: int):           # 1-based byte -> long (native)
        return F.conv(F.hex(F.substring(b, i, 1)), 16, 10).cast("long")

    def le32(pos: int):
        return (byte(pos) + byte(pos + 1) * 256
                + byte(pos + 2) * 65536 + byte(pos + 3) * 16777216)

    # VP8L dims: 28 LSB-first bits after the 0x2F byte — (w-1) in
    # bits 0..13, (h-1) in bits 14..27 of the LE dword at byte 22
    dims = le32(22)
    hdr_w = (dims % 16384) + 1
    hdr_h = ((dims / 16384).cast("long") % 16384) + 1
    hdr_agg = img.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(((F.hex(F.substring(b, 1, 4)) == "52494646")
               & (F.hex(F.substring(b, 9, 8)) == "574542505650384C")
               & (F.hex(F.substring(b, 21, 1)) == "2F"))
              .cast("long")).alias("sig_ok"),
        F.sum((le32(5) + 8 <= F.length(b)).cast("long"))
        .alias("riff_covered"),
        F.sum(((hdr_w == F.col("w")) & (hdr_h == F.col("h")))
              .cast("long")).alias("hdr_dims_ok"))
    dec = decode_pixels(img, psnr=True, carry=("w", "h"))
    dec_agg = dec.agg(
        F.sum((~F.col("decode_ok")).cast("long")).alias("decode_fail"),
        F.sum((F.col("decode_ok") & (F.col("psnr") < 40.0))
              .cast("long")).alias("low_psnr"),
        F.sum((F.col("decode_ok") & (F.col("decoded_w") == F.col("w"))
               & (F.col("decoded_h") == F.col("h")))
              .cast("long")).alias("dims_roundtrip"))
    return hdr_agg.crossJoin(dec_agg)


AUDIO_ORACLE_PATH = f"/tmp/spark_graft_audio_oracle_{_GEN_FP}"


def q_audio_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio tier: RIFF/WAVE PCM-16 payloads decoded by the
    built-in struct+numpy codec (operators/multimodal.decode_wav).
    One row: header fields (sample rate, data-chunk size) re-parsed
    natively little-endian and cross-checked by DuckDB over the same
    persisted bytes; decode_fail / low_snr derived independently from
    the planted corruption rules (id % 251 truncation, id % 157
    sample zeroing)."""
    from jsonschema_spark.operators.multimodal import decode_audio
    from jsonschema_spark.sources.images import audio_df
    if not os.path.exists(os.path.join(AUDIO_ORACLE_PATH, "_SUCCESS")):
        (audio_df(spark, 1_500)
         .write.mode("overwrite").parquet(AUDIO_ORACLE_PATH))
    clips = spark.read.parquet(AUDIO_ORACLE_PATH)

    b = F.col("bytes")

    def byte(i: int):           # 1-based byte -> long (native)
        return F.conv(F.hex(F.substring(b, i, 1)), 16, 10).cast("long")

    def le32(pos: int):
        return (byte(pos) + byte(pos + 1) * 256
                + byte(pos + 2) * 65536 + byte(pos + 3) * 16777216)

    hdr_rate, data_len = le32(25), le32(41)
    hdr_agg = clips.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.hex(F.substring(b, 1, 4)) == "52494646")
              .cast("long")).alias("sig_ok"),
        F.sum((hdr_rate == F.col("sample_rate")).cast("long"))
        .alias("hdr_rate_ok"),
        F.sum((data_len == F.col("n_samples") * 2).cast("long"))
        .alias("hdr_len_ok"))
    dec = decode_audio(clips, carry=("n_samples",))
    dec_agg = dec.agg(
        F.sum((~F.col("header_ok")).cast("long")).alias("decode_fail"),
        F.sum((F.col("header_ok") & (F.col("snr") < 20.0))
              .cast("long")).alias("low_snr"),
        F.sum((F.col("header_ok")
               & (F.col("decoded_samples") == F.col("n_samples")))
              .cast("long")).alias("len_roundtrip"))
    return hdr_agg.crossJoin(dec_agg)


PHASH_PANEL_ORACLE_PATH = f"/tmp/spark_graft_phash_panel_oracle_{_GEN_FP}"


def q_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE screen over the north-star table's stored
    ``phash:int64`` column (BASELINE.json input_hint): pairs at
    hamming <= 3 via operators/dedup.phash_near_duplicates — bit-flip
    enumeration on exact 32-bit block keys (exact for hamming 0..3),
    hot keys chunk-salted, all codegen'd shift/mask/bit_count.  Runs
    on a persisted 6k-row panel so the DuckDB oracle can BRUTE-FORCE
    every pair — a true all-pairs recall AND precision certificate for
    the enumeration path (the sf-independent analogue of
    `simhash_vs_exact`'s audit)."""
    from jsonschema_spark.operators.dedup import phash_near_duplicates
    from jsonschema_spark.sources.images import images_df
    if not os.path.exists(os.path.join(PHASH_PANEL_ORACLE_PATH,
                                       "_SUCCESS")):
        (images_df(spark, 6_000)
         .write.mode("overwrite").parquet(PHASH_PANEL_ORACLE_PATH))
    img = spark.read.parquet(PHASH_PANEL_ORACLE_PATH)
    pairs = phash_near_duplicates(img, "image_id", "phash",
                                  max_hamming=3)
    return pairs.select("id_a", "id_b", "hamming").orderBy("id_a", "id_b")


PHASH_INTEG_ORACLE_PATH = f"/tmp/spark_graft_phash_integ_oracle_{_GEN_FP}"


def q_phash_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column integrity: the stored ``phash`` must equal the
    perceptual hash RECOMPUTED from decoded payload pixels
    (operators/multimodal.decode_pixels(phash=True) — one joinless
    mapInPandas pass: built-in codec decode -> dct_phash -> xor
    bit_count vs the stored value).  One summary row; the DuckDB
    oracle derives decode_fail structurally (BMP declared size vs
    actual byte length over the same persisted bytes) and the
    mismatch count from the planted corruption rule (id % 211 two-bit
    flip), certifying the recompute finds exactly the planted damage."""
    from jsonschema_spark.operators.multimodal import decode_pixels
    from jsonschema_spark.sources.images import phash_images_df
    if not os.path.exists(os.path.join(PHASH_INTEG_ORACLE_PATH,
                                       "_SUCCESS")):
        (phash_images_df(spark, 2_000)
         .write.mode("overwrite").parquet(PHASH_INTEG_ORACLE_PATH))
    img = spark.read.parquet(PHASH_INTEG_ORACLE_PATH)
    chk = decode_pixels(img, phash=True)
    return chk.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col("decode_ok")).cast("long")).alias("decode_fail"),
        F.sum((F.col("hamming") > 0).cast("long")).alias("phash_mismatch"),
        F.sum((F.col("hamming") == 0).cast("long")).alias("verified_ok"))


ALIGN_ORACLE_PATH = f"/tmp/spark_graft_align_oracle_{_GEN_FP}"


def q_images_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-tier image quality (operators/quality.py via the
    x-spark `image_quality` block): aspect-ratio band, pixel-count
    band, absolute payload-size floor and bytes-per-pixel ceiling over
    the persisted north-star table — all pure codegen'd Columns on one
    narrow scan (no UDF, no shuffle, `bytes` read only for its
    length).  Thresholds are exact-binary doubles (0.015625 = 2^-6,
    0.0625 = 2^-4) so the DuckDB oracle's comparisons can never split
    a rounding hair with Spark's."""
    from jsonschema_spark import validate_dataset
    from jsonschema_spark.sources.images import images_df, licenses_df
    if not os.path.exists(os.path.join(IMAGES_ORACLE_PATH, "_SUCCESS")):
        (images_df(spark, 20_000, with_license=True)
         .write.mode("overwrite").parquet(IMAGES_ORACLE_PATH))
    img = spark.read.parquet(IMAGES_ORACLE_PATH)
    spec = {
        "type": "object",
        "x-spark": {
            "image_quality": {
                "min_aspect": 0.015625, "max_aspect": 64.0,
                "min_pixels": 1024, "max_pixels": 16_777_216,
                "min_bytes": 16,
                "max_bytes_per_pixel": 0.0625,
            },
        },
    }
    allv = validate_dataset(img, spec, ["image_id"],
                            tables={"licenses": licenses_df(spark)})
    return (allv.groupBy("keyword")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("keyword"))


def q_caption_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-image embedding alignment (the CLIP-score seam,
    operators/quality.py via the x-spark `alignment` block): cosine
    between paired `array<float>` embeddings as one codegen'd
    zip_with/aggregate expression — no UDF, no shuffle.  Planted
    defects (sources/images.aligned_embeddings_df): NULL and zero-norm
    embeddings -> alignment:missing, negated embeddings (cosine ~ -1)
    -> alignment:cosine.  The DuckDB oracle recomputes every cosine
    with its own list_cosine_similarity and thresholds identically —
    certifying the vectorized cosine math end-to-end, not just the
    planted pattern (aligned pairs sit near +1 and flipped near -1, so
    the 0.5 threshold is insensitive to engine float-summation
    order)."""
    from jsonschema_spark import validate_dataset
    from jsonschema_spark.sources.images import aligned_embeddings_df
    if not os.path.exists(os.path.join(ALIGN_ORACLE_PATH, "_SUCCESS")):
        (aligned_embeddings_df(spark, 20_000)
         .write.mode("overwrite").parquet(ALIGN_ORACLE_PATH))
    pairs = spark.read.parquet(ALIGN_ORACLE_PATH)
    spec = {
        "type": "object",
        "x-spark": {
            "alignment": {"image_col": "img", "text_col": "txt",
                          "min_cosine": 0.5},
        },
    }
    allv = validate_dataset(pairs, spec, ["pair_id"])
    return (allv.groupBy("keyword")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("keyword"))


LUMA_ORACLE_PATH = f"/tmp/spark_graft_luma_oracle_{_GEN_FP}"


def q_images_luma_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECODED-tier image quality (x-spark `image_quality_decoded`
    block): real-codec decode -> full-resolution Rec.601 luma mean +
    std, thresholded as brightness band [20, 235] and contrast floor 2
    (operators/quality.luma_quality_structs over
    multimodal.decode_pixels(luma=True)).  The planted corpus
    (sources/images.luma_images_df) lands every class by id arithmetic
    — truncated payloads are SKIPPED (the pixel-invariant's finding),
    solid-gray trips contrast, dark/bright trip the band — and the
    DuckDB oracle recounts the classes from the same id rules
    (structural certification; the luma math itself is pinned against
    numpy in tests/test_quality.py)."""
    from jsonschema_spark import validate_dataset
    from jsonschema_spark.sources.images import luma_images_df
    if not os.path.exists(os.path.join(LUMA_ORACLE_PATH, "_SUCCESS")):
        (luma_images_df(spark, 2_000)
         .write.mode("overwrite").parquet(LUMA_ORACLE_PATH))
    img = spark.read.parquet(LUMA_ORACLE_PATH)
    spec = {
        "type": "object",
        "x-spark": {
            "image_quality_decoded": {"min_luma": 20, "max_luma": 235,
                                      "min_contrast": 2},
        },
    }
    allv = validate_dataset(img, spec, ["image_id"])
    return (allv.groupBy("keyword")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("keyword"))


VIDEOS_ORACLE_PATH = f"/tmp/spark_graft_videos_oracle_{_GEN_FP}"


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (brief §multimodal 'frame-sample'): every
    4th frame of each VID0 container becomes a row via one mapInPandas
    pass with lazy per-frame decode.  Output = per-video sampled-frame
    bookkeeping; the DuckDB oracle recomputes it by parsing the frame
    count straight out of the container header bytes (uint32 LE at
    offset 4), certifying the container round-trip AND the sampling
    arithmetic."""
    from jsonschema_spark.operators.multimodal import sample_frames
    from jsonschema_spark.sources.images import videos_df
    if not os.path.exists(os.path.join(VIDEOS_ORACLE_PATH, "_SUCCESS")):
        (videos_df(spark, 500)
         .write.mode("overwrite").parquet(VIDEOS_ORACLE_PATH))
    vids = spark.read.parquet(VIDEOS_ORACLE_PATH)
    frames = sample_frames(vids, stride=4)
    return (frames.groupBy("video_id")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.max("frame_idx").alias("max_idx"),
                 F.sum((F.col("w") == 8).cast("long"))
                 .alias("decoded_8px"))
            .orderBy("video_id"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: lineitem validation ->
    violation counts by keyword."""
    return q_violations_lineitem(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """All 57 declared queries (none added/removed/changed in r6).

    Registry ORDER (r6, VERDICT-r5 #2): the round-5 driver checked the
    first 50 entries only, which silently evicted 7 oracled queries
    (legacy drafts, output format, ANN recall contract, all three r5
    quality operators).  Every oracle-bearing operator family now sits
    inside the first 50; the tail holds the three rows-only queries
    (minhash_pairs / simhash_pairs / embeddings_ann_ivf — certified by
    their exact companions minhash_vs_exact / simhash_vs_exact /
    embeddings_ann_recall) and the redundant same-oracle variants
    (duplicate_custkeys_{sortmerge,bucketed} share duplicate_custkeys'
    oracle; drift_spec_partitioned is the spec-routed companion of
    drift_partitioned; images_bmp_validation is the simplest codec
    sibling of the still-checked PNG/JPEG/WebP rows).  All 57 remain
    declared, benched, and locally oracle-checked
    (tools/check_oracles.py)."""
    return {
        "violations_lineitem": q_violations_lineitem,
        "violations_part": q_violations_part,
        "manifest_orders": q_manifest_orders,
        "best_match_lineitem": q_best_match_lineitem,
        "error_tree_lineitem": q_error_tree_lineitem,
        "stats_lineitem": q_stats_lineitem,
        "duplicate_custkeys": q_duplicate_custkeys,
        "video_frame_sample": q_video_frame_sample,
        "referential_orphans": q_referential_orphans,
        "drift_histogram": q_drift_histogram,
        "events_hourly": q_events_hourly,
        "docs_profile": q_docs_profile,
        "docs_language": q_docs_language,
        "docs_exact_dups": q_docs_exact_dups,
        "embeddings_max_cosine": q_embeddings_max_cosine,
        "minhash_vs_exact": q_minhash_vs_exact,
        "simhash_vs_exact": q_simhash_vs_exact,
        "ngram_jaccard_pairs": q_ngram_jaccard,
        "docs_dup_clusters": q_docs_dup_clusters,
        "docs_dedup_dropped": q_docs_dedup_dropped,
        "docs_curate": q_docs_curate,
        "docs_split": q_docs_split,
        "docs_stratified_sample": q_docs_stratified_sample,
        "docs_repetition": q_docs_repetition,
        "docs_contamination": q_docs_contamination,
        "docs_pii": q_docs_pii,
        "images_validation": q_images_validation,
        "phash_near_dups": q_phash_near_dups,
        "phash_integrity": q_phash_integrity,
        "images_png_validation": q_images_png_validation,
        "images_jpeg_validation": q_images_jpeg_validation,
        "caption_equality": q_caption_equality,
        "images_webp_validation": q_images_webp_validation,
        "audio_validation": q_audio_validation,
        "dynamic_ref_orders": q_dynamic_ref_orders,
        "composition_orders": q_composition_orders,
        "array_keywords_lineitem": q_array_keywords_lineitem,
        "quantiles_orders": q_quantiles_orders,
        "drift_ks_orders": q_drift_ks_orders,
        "drift_partitioned": q_drift_partitioned,
        "formats_customer": q_formats_customer,
        "text_quality": q_text_quality,
        "embeddings_topk": q_embeddings_topk,
        "events_sessions": q_events_sessions,
        "violations_draft4": q_violations_draft4,
        "standard_output": q_standard_output,
        "embeddings_ann_recall": q_embeddings_ann_recall,
        "images_quality": q_images_quality,
        "caption_alignment": q_caption_alignment,
        "images_luma_quality": q_images_luma_quality,
        # --- past the round-5 driver's 50-row check window: rows-only
        # queries (exact companions above carry their oracles) and
        # redundant same-oracle variants ---
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "embeddings_ann_ivf": q_embeddings_ann_ivf,
        "duplicate_custkeys_sortmerge": q_duplicate_custkeys_sortmerge,
        "duplicate_custkeys_bucketed": q_duplicate_custkeys_bucketed,
        "drift_spec_partitioned": q_drift_spec_partitioned,
        "images_bmp_validation": q_images_bmp_validation,
    }


# ------------------------------------------------------------- oracles ----

_LI_CHECKS = [
    ("required", "$", "l_shipdate IS NULL"),
    ("minimum", "$.l_quantity",
     "l_quantity IS NOT NULL AND NOT (l_quantity >= 1)"),
    ("maximum", "$.l_quantity",
     "l_quantity IS NOT NULL AND NOT (l_quantity <= 30)"),
    ("minimum", "$.l_discount",
     "l_discount IS NOT NULL AND NOT (l_discount >= 0)"),
    ("maximum", "$.l_discount",
     "l_discount IS NOT NULL AND NOT (l_discount <= 0.08)"),
    ("exclusiveMinimum", "$.l_extendedprice",
     "l_extendedprice IS NOT NULL AND NOT (l_extendedprice > 0)"),
    ("enum", "$.l_returnflag",
     "l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R')"),
    ("enum", "$.l_linestatus",
     "l_linestatus IS NOT NULL AND l_linestatus NOT IN ('O')"),
]

_LI_REQUIRED_KEYS = "l_orderkey IS NULL OR l_shipdate IS NULL"

_LI_VIOLATION_ROWS = " UNION ALL ".join(
    f"SELECT l_orderkey, l_linenumber, '{kw}' AS keyword, "
    f"'{jp}' AS json_path FROM lineitem WHERE {cond}"
    for kw, jp, cond in (
        [("required", "$", "l_orderkey IS NULL")] + _LI_CHECKS))

_LANG_RATES = """
  SELECT
    len(regexp_extract_all(lower(text),
      '\\b(the|and|of|to|in|is|that|with)\\b'))
      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS r_en,
    len(regexp_extract_all(lower(text),
      '\\b(der|die|das|und|ist|nicht|mit|ein)\\b'))
      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS r_de,
    len(regexp_extract_all(lower(text),
      '\\b(le|la|les|et|est|dans|que|une)\\b'))
      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS r_fr,
    len(regexp_extract_all(lower(text),
      '\\b(el|la|los|que|de|es|con|una)\\b'))
      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS r_es
  FROM documents
"""


# composition predicate fragments (NULL-explicit so SQL three-valued
# logic matches the engine's guard semantics exactly)
_ANY1 = "(o_totalprice IS NULL OR o_totalprice <= 150000)"
_ANY2 = "(o_orderpriority IS NULL OR regexp_matches(o_orderpriority, '^1-'))"
_ONE1 = "(o_orderstatus IS NULL OR o_orderstatus = 'O')"
_ONE2 = "(o_totalprice IS NULL OR o_totalprice >= 100000)"
_NOT_CHILD = "(o_orderstatus IS NULL OR o_orderstatus = 'X')"
_IF_OK = "(o_orderstatus IS NULL OR o_orderstatus = 'F')"

_COMPOSITION_CHECKS = [
    ("anyOf", "$", f"NOT ({_ANY1} OR {_ANY2})"),
    ("oneOf", "$",
     f"(CAST({_ONE1} AS INT) + CAST({_ONE2} AS INT)) != 1"),
    ("not", "$", _NOT_CHILD),
    ("maximum", "$.o_totalprice",
     f"{_IF_OK} AND o_totalprice IS NOT NULL AND o_totalprice > 400000"),
    ("required", "$", f"NOT {_IF_OK} AND o_custkey IS NULL"),
]

# Shared CTE prefix for the dup-cluster oracles: near-dup pairs (exact
# content-fingerprint cliques UNION word-3-gram Jaccard >= 0.6) closed
# transitively by a recursive min-label reach — `reach` holds every
# (node, label) with label < node reachable, so min(label) per node is
# the component min, exactly what large-star/small-star converges to.
_DUP_CLUSTER_CTE = r"""
    WITH RECURSIVE
    w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents WHERE text IS NOT NULL),
    g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
          FROM (SELECT doc_id, ws,
                       unnest(generate_series(1, greatest(len(ws)-2, 1)))
                           AS i
                FROM w)),
    sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM g a JOIN g b
                ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    jac AS (SELECT id_a, id_b FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6),
    keyed AS (SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(
                         string_split_regex(lower(trim(text)), '\W+'))),
                         ' ')) AS k
              FROM documents WHERE text IS NOT NULL),
    expairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM keyed a JOIN keyed b
                  ON a.k = b.k AND a.doc_id < b.doc_id),
    pairs AS (SELECT * FROM jac UNION SELECT * FROM expairs),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (SELECT s AS id, s AS comp FROM edges
              UNION
              SELECT e.d AS id, r.comp
              FROM reach r JOIN edges e ON e.s = r.id
              WHERE r.comp < e.d)
"""

_COMPOSITION_ORACLE = " UNION ALL ".join(
    f"SELECT '{kw}' AS keyword, '{jp}' AS json_path, count(*) AS n "
    f"FROM orders WHERE {cond} HAVING count(*) > 0"
    for kw, jp, cond in _COMPOSITION_CHECKS)

# PII oracle: the IDENTICAL regex strings the operator uses (imported,
# not copied), counted via regexp_extract_all and redacted via chained
# global regexp_replace over the same planted-PII text.
def _pii_oracle() -> str:
    from jsonschema_spark.operators.pii import PII_PATTERNS, PII_TOKENS

    def q(rx: str) -> str:
        return "'" + rx.replace("'", "''") + "'"

    planted = """
        WITH planted AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 7 = 0
                         THEN ' contact user' || CAST(doc_id AS VARCHAR)
                              || '@example.com now' ELSE '' END
                 || CASE WHEN doc_id % 11 = 0
                         THEN ' call +1 555 0100' ELSE '' END
                 || CASE WHEN doc_id % 13 = 0
                         THEN ' from 192.168.0.'
                              || CAST(doc_id % 256 AS VARCHAR)
                         ELSE '' END AS text
          FROM documents)
    """
    counts = ",\n".join(
        f"           CAST(coalesce(len(regexp_extract_all(text, {q(rx)})),"
        f" 0) AS BIGINT) AS n_{name}"
        for name, rx in PII_PATTERNS.items())
    total = " + ".join(
        f"coalesce(len(regexp_extract_all(text, {q(rx)})), 0)"
        for rx in PII_PATTERNS.values())
    redacted = "text"
    for name, rx in PII_PATTERNS.items():
        redacted = (f"regexp_replace({redacted}, {q(rx)}, "
                    f"'{PII_TOKENS[name]}', 'g')")
    return (planted
            + "        SELECT doc_id,\n" + counts + ",\n"
            + f"           CAST({total} AS BIGINT) AS n_pii,\n"
            + f"           {redacted} AS redacted\n"
            + "        FROM planted")


# Gopher repetition block oracle: explode + GROUP BY re-derivation of
# the zero-shuffle fold in operators/repetition.py.  Metric contract
# documented there; tie-break = max(struct(count, gram)) both sides.
_REPETITION_NS = (2, 3, 4, 5, 6, 7, 8, 9, 10)
_REPETITION_ORACLE = r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         w -> w <> '') AS ws
      FROM documents
    ),
    chars AS (
      SELECT doc_id, ws,
             greatest(coalesce(list_sum(list_transform(ws,
                 w -> length(w))), 0), 1) AS char_base
      FROM base
    ),
    grams AS (
      SELECT doc_id, char_base, n,
             array_to_string(ws[i:i+n-1], ' ') AS g
      FROM chars, (VALUES """ + ", ".join(
    f"({n})" for n in _REPETITION_NS) + r""") t(n),
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
    SELECT d.doc_id,
""" + ",\n".join(
    f"           coalesce(max(CASE WHEN n = {n} THEN top_frac END), 0.0)"
    f" AS top_{n}gram_char_frac"
    for n in (2, 3, 4)) + ",\n" + ",\n".join(
    f"           coalesce(max(CASE WHEN n = {n} THEN dup_frac END), 0.0)"
    f" AS dup_{n}gram_char_frac"
    for n in (5, 6, 7, 8, 9, 10)) + """
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    GROUP BY d.doc_id
"""

_ARRAY_KW_CHECKS = [
    ("minItems", "len(q) < 2"),
    ("maxItems", "len(q) > 6"),
    ("uniqueItems", "len(q) != len(list_distinct(q))"),
    ("contains", "len(list_filter(q, x -> x >= 45)) < 1"),
    ("maxContains", "len(list_filter(q, x -> x >= 45)) > 2"),
]

_ARRAY_KW_ORACLE = " UNION ALL ".join(
    f"SELECT '{kw}' AS keyword, '$.quantities' AS json_path, count(*) AS n "
    f"FROM (SELECT l_orderkey, list(l_quantity) AS q FROM lineitem "
    f"WHERE l_quantity IS NOT NULL GROUP BY l_orderkey) "
    f"WHERE {cond} HAVING count(*) > 0"
    for kw, cond in _ARRAY_KW_CHECKS)

_UUID_RX = ("^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
            "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$")

_FORMATS_ORACLE = f"""
    WITH synth AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 97 = 0
                  THEN lower(c_name) || '.example.com'
                  ELSE lower(c_name) || '@example.com' END AS email,
             CASE WHEN c_custkey % 89 = 0
                  THEN substring(u, 2, 35) ELSE u END AS uid,
             printf('2024-02-%02d', CAST(c_custkey % 40 AS INT)) AS dt
      FROM (SELECT c_custkey, c_name,
                   substring(md5(c_name), 1, 8) || '-' ||
                   substring(md5(c_name), 9, 4) || '-' ||
                   substring(md5(c_name), 13, 4) || '-' ||
                   substring(md5(c_name), 17, 4) || '-' ||
                   substring(md5(c_name), 21, 12) AS u
            FROM customer))
    SELECT 'format' AS keyword, '$.email' AS json_path, count(*) AS n
    FROM synth WHERE email NOT LIKE '%@%' HAVING count(*) > 0
    UNION ALL
    SELECT 'format', '$.uid', count(*)
    FROM synth WHERE NOT regexp_matches(uid, '{_UUID_RX}')
    HAVING count(*) > 0
    UNION ALL
    SELECT 'format', '$.dt', count(*)
    FROM synth
    WHERE NOT (regexp_matches(dt, '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$')
               AND try_cast(dt AS DATE) IS NOT NULL)
    HAVING count(*) > 0
"""


def oracle_sql() -> dict[str, str]:
    li_unions = " UNION ALL ".join(
        f"SELECT '{kw}' AS keyword, '{jp}' AS json_path, count(*) AS n "
        f"FROM lineitem WHERE {cond} HAVING count(*) > 0"
        for kw, jp, cond in
        ([("required", "$", "l_orderkey IS NULL")] + _LI_CHECKS))
    part_checks = [
        ("required", "$", "p_partkey IS NULL"),
        ("required", "$", "p_name IS NULL"),
        ("minimum", "$.p_size", "p_size IS NOT NULL AND NOT (p_size >= 1)"),
        ("maximum", "$.p_size", "p_size IS NOT NULL AND NOT (p_size <= 40)"),
        ("pattern", "$.p_brand",
         "p_brand IS NOT NULL AND NOT regexp_matches(p_brand, '^Brand#[0-9]+$')"),
        ("exclusiveMinimum", "$.p_retailprice",
         "p_retailprice IS NOT NULL AND NOT (p_retailprice > 0)"),
        ("maximum", "$.p_retailprice",
         "p_retailprice IS NOT NULL AND NOT (p_retailprice <= 1800)"),
    ]
    part_unions = " UNION ALL ".join(
        f"SELECT '{kw}' AS keyword, '{jp}' AS json_path, count(*) AS n "
        f"FROM part WHERE {cond} HAVING count(*) > 0"
        for kw, jp, cond in part_checks)
    orders_invalid = ("NOT ((o_orderkey IS NOT NULL) "
                      "AND (o_totalprice IS NULL OR o_totalprice <= 300000) "
                      "AND (o_orderpriority IS NULL OR "
                      "regexp_matches(o_orderpriority, '^[1-3]-')))")
    return {
        "violations_lineitem": li_unions,
        "violations_part": part_unions,
        "manifest_orders": f"""
            SELECT o_orderstatus,
                   count(*) AS rows,
                   CAST(sum(CASE WHEN {orders_invalid} THEN 1 ELSE 0 END) AS BIGINT) AS invalid_rows,
                   (sum(CASE WHEN {orders_invalid} THEN 1 ELSE 0 END) = 0) AS passed
            FROM orders GROUP BY o_orderstatus
        """,
        "best_match_lineitem": f"""
            WITH viols AS ({_LI_VIOLATION_ROWS}),
            ranked AS (
              SELECT l_orderkey, l_linenumber, keyword, json_path,
                     row_number() OVER (
                       PARTITION BY l_orderkey, l_linenumber
                       -- by_relevance under max: depth, then LATER
                       -- sibling path, then non-weak over weak
                       -- (lineitem paths carry no array indices, so
                       -- plain string DESC == component order)
                       ORDER BY len(string_split_regex(json_path,
                                    '\\.|\\[')) - 1,
                                json_path DESC,
                                CASE WHEN keyword IN ('anyOf','oneOf')
                                     THEN 1 ELSE 0 END,
                                keyword) AS rn
              FROM viols)
            SELECT l_orderkey, l_linenumber, keyword, json_path
            FROM ranked WHERE rn = 1
        """,
        "error_tree_lineitem": f"""
            WITH viols AS ({_LI_VIOLATION_ROWS})
            SELECT json_path, count(*) AS total_errors,
                   array_to_string(list_sort(list(DISTINCT keyword)), ',')
                     AS keywords
            FROM viols GROUP BY json_path
        """,
        "stats_lineitem": """
            SELECT 'l_quantity' AS column, count(*) AS rows,
                   CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                   CAST(min(l_quantity) AS DOUBLE) AS min_val,
                   CAST(max(l_quantity) AS DOUBLE) AS max_val FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', count(*),
                   CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(min(l_extendedprice) AS DOUBLE),
                   CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem
            UNION ALL
            SELECT 'l_discount', count(*),
                   CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(min(l_discount) AS DOUBLE),
                   CAST(max(l_discount) AS DOUBLE) FROM lineitem
        """,
        "duplicate_custkeys": """
            SELECT o_custkey, count(*) AS dup_count
            FROM orders WHERE o_custkey IS NOT NULL
            GROUP BY o_custkey HAVING count(*) > 1
        """,
        "duplicate_custkeys_sortmerge": """
            SELECT o_custkey, count(*) AS dup_count
            FROM orders WHERE o_custkey IS NOT NULL
            GROUP BY o_custkey HAVING count(*) > 1
        """,
        "duplicate_custkeys_bucketed": """
            SELECT o_custkey, count(*) AS dup_count
            FROM orders WHERE o_custkey IS NOT NULL
            GROUP BY o_custkey HAVING count(*) > 1
        """,
        "referential_orphans": """
            SELECT 'lineitem.l_orderkey->orders' AS fk, count(*) AS orphans
            FROM lineitem l WHERE l.l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)
            UNION ALL
            SELECT 'events.user_id->customer', count(*)
            FROM events e WHERE e.user_id IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = e.user_id)
        """,
        "drift_histogram": """
            SELECT least(greatest(CAST(floor((o_totalprice - 0.0) / 25000.0)
                                       AS BIGINT), 0), 19) AS bucket,
                   count(*) AS n
            FROM orders WHERE o_totalprice IS NOT NULL
            GROUP BY 1
        """,
        "events_hourly": """
            SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
            FROM events GROUP BY 1, 2
        """,
        "docs_profile": """
            SELECT doc_id,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END::BIGINT AS n_tokens,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split_regex(lower(trim(text)), '\\W+'))), ' '))
                     AS content_key
            FROM documents
        """,
        "docs_language": f"""
            WITH rates AS ({_LANG_RATES})
            SELECT CASE
                     WHEN r_en > 0.05 AND r_en >= greatest(r_de, r_fr, r_es)
                       THEN 'en'
                     WHEN r_de > 0.05 AND r_de >= greatest(r_fr, r_es)
                       THEN 'de'
                     WHEN r_fr > 0.05 AND r_fr >= r_es THEN 'fr'
                     WHEN r_es > 0.05 THEN 'es'
                     ELSE 'und'
                   END AS lang_detected, count(*) AS n
            FROM rates GROUP BY 1
        """,
        "docs_exact_dups": """
            WITH keyed AS (
              SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(
                         string_split_regex(lower(trim(text)), '\\W+'))),
                         ' ')) AS content_key
              FROM documents)
            SELECT content_key, count(*) AS dup_count,
                   min(doc_id) AS first_doc
            FROM keyed GROUP BY content_key HAVING count(*) > 1
        """,
        "embeddings_max_cosine": """
            SELECT a.vec_id AS id,
                   round(max(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[]))), 4) AS max_cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
            GROUP BY a.vec_id
        """,
        "composition_orders": _COMPOSITION_ORACLE,
        "array_keywords_lineitem": _ARRAY_KW_ORACLE,
        "quantiles_orders": """
            SELECT o_orderstatus,
                   round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                   count(*) AS n
            FROM orders WHERE o_totalprice IS NOT NULL
            GROUP BY o_orderstatus
        """,
        "drift_ks_orders": """
            WITH h AS (
              SELECT least(greatest(CAST(floor(o_totalprice / 25000.0)
                                         AS BIGINT), 0), 19) AS bucket,
                     sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                       AS n_cur,
                     sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                       AS n_base
              FROM orders
              WHERE o_totalprice IS NOT NULL AND o_orderstatus IN ('O', 'F')
              GROUP BY 1),
            t AS (SELECT sum(n_cur) AS tc, sum(n_base) AS tb FROM h),
            c AS (
              SELECT h.bucket, h.n_cur, h.n_base,
                     sum(h.n_cur) OVER (ORDER BY h.bucket) AS cum_c,
                     sum(h.n_base) OVER (ORDER BY h.bucket) AS cum_b
              FROM h)
            SELECT round(max(abs(cum_c * 1.0 / t.tc - cum_b * 1.0 / t.tb)),
                         6) AS ks,
                   round(sum(abs(n_cur * 1.0 / t.tc - n_base * 1.0 / t.tb))
                         / 2, 6) AS l1,
                   CAST(t.tc AS BIGINT) AS n_current,
                   CAST(t.tb AS BIGINT) AS n_baseline
            FROM c, t GROUP BY t.tc, t.tb
        """,
        "drift_partitioned": """
            -- per-partition drift vs whole-table baseline over a DENSE
            -- (part x bucket) grid: KS from window CDFs, L1/chi2/PSI
            -- from per-bucket proportions — mirrors
            -- operators/drift.partitioned_drift exactly
            WITH cur AS (
              SELECT o_orderstatus AS part,
                     least(greatest(CAST(floor(o_totalprice / 15625.0)
                                         AS BIGINT), 0), 31) AS bucket,
                     count(*) AS n_cur
              FROM orders
              WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
              GROUP BY 1, 2),
            base AS (
              SELECT least(greatest(CAST(floor(o_totalprice / 15625.0)
                                         AS BIGINT), 0), 31) AS bucket,
                     count(*) AS n_base
              FROM orders WHERE o_totalprice IS NOT NULL
              GROUP BY 1),
            grid AS (
              SELECT p.part, g.bucket
              FROM (SELECT DISTINCT part FROM cur) p
              CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bucket) g),
            j AS (
              SELECT grid.part, grid.bucket,
                     coalesce(cur.n_cur, 0) AS n_cur,
                     coalesce(base.n_base, 0) AS n_base
              FROM grid
              LEFT JOIN base ON base.bucket = grid.bucket
              LEFT JOIN cur ON cur.part = grid.part
                           AND cur.bucket = grid.bucket),
            s AS (
              SELECT part, bucket, n_cur, n_base,
                     sum(n_cur) OVER (PARTITION BY part) AS tot_c,
                     sum(n_base) OVER (PARTITION BY part) AS tot_b,
                     sum(n_cur) OVER (PARTITION BY part ORDER BY bucket)
                       AS cum_c,
                     sum(n_base) OVER (PARTITION BY part ORDER BY bucket)
                       AS cum_b
              FROM j)
            SELECT part,
                   CAST(max(tot_c) AS BIGINT) AS n_rows,
                   round(max(abs(cum_c * 1.0 / tot_c
                                 - cum_b * 1.0 / tot_b)), 6) AS ks,
                   round(sum(abs(n_cur * 1.0 / tot_c
                                 - n_base * 1.0 / tot_b)) / 2, 6) AS l1,
                   round(sum(CASE WHEN n_base > 0
                             THEN power(n_cur - n_base * 1.0 / tot_b * tot_c,
                                        2)
                                  / (n_base * 1.0 / tot_b * tot_c)
                             ELSE 0 END), 4) AS chi2,
                   round(sum(((n_cur + 1.0) / (tot_c + 32)
                              - (n_base + 1.0) / (tot_b + 32))
                             * ln(((n_cur + 1.0) / (tot_c + 32))
                                  / ((n_base + 1.0) / (tot_b + 32)))), 6)
                     AS psi
            FROM s GROUP BY part ORDER BY part
        """,
        "drift_spec_partitioned": """
            -- the spec-driven per-partition drift VIOLATION ROWS: same
            -- dense-grid window-CDF KS as drift_partitioned, then the
            -- x-spark thresholding + message rendering reproduced
            -- bit-for-bit (printf %.4f / %.6f == Spark format_string)
            WITH cur AS (
              SELECT o_orderstatus AS part,
                     least(greatest(CAST(floor(o_totalprice / 15625.0)
                                         AS BIGINT), 0), 31) AS bucket,
                     count(*) AS n_cur
              FROM orders
              WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
              GROUP BY 1, 2),
            base AS (
              SELECT least(greatest(CAST(floor(o_totalprice / 15625.0)
                                         AS BIGINT), 0), 31) AS bucket,
                     count(*) AS n_base
              FROM orders WHERE o_totalprice IS NOT NULL
              GROUP BY 1),
            grid AS (
              SELECT p.part, g.bucket
              FROM (SELECT DISTINCT part FROM cur) p
              CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bucket) g),
            j AS (
              SELECT grid.part, grid.bucket,
                     coalesce(cur.n_cur, 0) AS n_cur,
                     coalesce(base.n_base, 0) AS n_base
              FROM grid
              LEFT JOIN base ON base.bucket = grid.bucket
              LEFT JOIN cur ON cur.part = grid.part
                           AND cur.bucket = grid.bucket),
            s AS (
              SELECT part, bucket,
                     sum(n_cur) OVER (PARTITION BY part) AS tot_c,
                     sum(n_base) OVER (PARTITION BY part) AS tot_b,
                     sum(n_cur) OVER (PARTITION BY part ORDER BY bucket)
                       AS cum_c,
                     sum(n_base) OVER (PARTITION BY part ORDER BY bucket)
                       AS cum_b
              FROM j),
            ks AS (
              SELECT part, max(abs(cum_c * 1.0 / tot_c
                                   - cum_b * 1.0 / tot_b)) AS ks
              FROM s GROUP BY part)
            SELECT 'drift:ks' AS keyword,
                   '$.o_totalprice' AS json_path,
                   'x-spark/drift/o_totalprice/ks' AS schema_path,
                   'partition o_orderstatus=' || part || ': KS statistic '
                     || printf('%.4f', ks) || ' exceeds 0.005' AS message,
                   printf('%.6f', ks) AS failing_value
            FROM ks WHERE ks > 0.005 ORDER BY message
        """,
        "formats_customer": _FORMATS_ORACLE,
        "text_quality": r"""
            SELECT doc_id,
                   len(text) AS n_chars,
                   (CASE WHEN len(trim(text)) = 0 THEN 0
                         ELSE len(string_split_regex(trim(text), '\s+'))
                    END)::BIGINT AS n_tokens,
                   round(greatest(len(text), 1) * 1.0
                         / greatest(CASE WHEN len(trim(text)) = 0 THEN 0
                                    ELSE len(string_split_regex(trim(text),
                                             '\s+')) END, 1), 6)
                     AS mean_token_len,
                   round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0
                         / greatest(len(text), 1), 6) AS punct_ratio,
                   round(len(regexp_extract_all(text,
                         '(?i)\b(the|and|of|to|in|is|that|with)\b')) * 1.0
                         / greatest(CASE WHEN len(trim(text)) = 0 THEN 0
                                    ELSE len(string_split_regex(trim(text),
                                             '\s+')) END, 1), 6)
                     AS stopword_rate,
                   round(len(list_distinct(string_split_regex(trim(text),
                                                              '\s+'))) * 1.0
                         / greatest(CASE WHEN len(trim(text)) = 0 THEN 0
                                    ELSE len(string_split_regex(trim(text),
                                             '\s+')) END, 1), 6)
                     AS distinct_token_ratio
            FROM documents
        """,
        "embeddings_topk": """
            WITH p AS (
              SELECT a.vec_id AS id, b.vec_id AS neighbour_id,
                     round(list_cosine_similarity(
                         CAST(a.embedding AS DOUBLE[]),
                         CAST(b.embedding AS DOUBLE[])), 4) AS cosine
              FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY id ORDER BY cosine DESC, neighbour_id ASC)
                    AS rn FROM p)
            SELECT id, neighbour_id, cosine FROM r WHERE rn <= 3
        """,
        "events_sessions": """
            WITH s AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM s GROUP BY user_id
        """,
        "violations_draft4": """
            SELECT 'maximum' AS keyword, '$.o_totalprice' AS json_path,
                   count(*) AS n
            FROM orders
            WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice < 200000)
            HAVING count(*) > 0
            UNION ALL
            SELECT 'dependencies', '$', count(*)
            FROM orders
            WHERE o_custkey IS NOT NULL AND o_orderdate IS NULL
            HAVING count(*) > 0
        """,
        "standard_output": """
            SELECT FALSE AS valid, '/required' AS keywordLocation,
                   '' AS instanceLocation, count(*) AS n
            FROM orders WHERE o_orderkey IS NULL HAVING count(*) > 0
            UNION ALL
            SELECT FALSE, '/properties/o_totalprice/maximum',
                   '/o_totalprice', count(*)
            FROM orders
            WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice <= 300000)
            HAVING count(*) > 0
            UNION ALL
            SELECT FALSE, '/properties/o_orderpriority/pattern',
                   '/o_orderpriority', count(*)
            FROM orders
            WHERE o_orderpriority IS NOT NULL
              AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
            HAVING count(*) > 0
        """,
        # char-5-shingle exact Jaccard ground truth (brute force is fine
        # in the oracle at sf0.01; the Spark side verifies candidates
        # only) — certifies minhash/simhash candidate recall + precision
        "minhash_vs_exact": _SHINGLE_JACCARD_ORACLE,
        "simhash_vs_exact": _SHINGLE_JACCARD_ORACLE.replace(
            "WHERE text IS NOT NULL",
            "WHERE text IS NOT NULL AND doc_id % 3 = 0"),
        "ngram_jaccard_pairs": """
            WITH w AS (SELECT doc_id,
                              regexp_split_to_array(trim(text), '\\s+') AS ws
                       FROM documents WHERE text IS NOT NULL),
            g AS (SELECT DISTINCT doc_id,
                         array_to_string(ws[i:i+2], ' ') AS gram
                  FROM (SELECT doc_id, ws,
                               unnest(generate_series(
                                   1, greatest(len(ws)-2, 1))) AS i
                        FROM w)),
            sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                             count(*) AS i
                      FROM g a JOIN g b
                        ON a.gram = b.gram AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6
        """,
        "docs_dup_clusters": _DUP_CLUSTER_CTE + """
            SELECT id AS doc_id, min(comp) AS cluster_id
            FROM reach GROUP BY id
        """,
        "docs_curate": _DUP_CLUSTER_CTE + """,
            cc AS (SELECT id, min(comp) AS cluster_id
                   FROM reach GROUP BY id),
            -- survivor election is VALIDITY-AWARE (pipeline.curate):
            -- valid members beat invalid ones, then longest text,
            -- then smallest id
            mem AS (SELECT c.id AS doc_id, c.cluster_id,
                           len(d.text) AS L,
                           (d.doc_id IS NOT NULL AND d.text IS NOT NULL
                            AND (d.n_chars IS NULL
                                 OR (d.n_chars >= 1
                                     AND d.n_chars <= 300))
                            AND (d.lang IS NULL
                                 OR d.lang IN ('en','de','fr','es')))
                             AS v
                    FROM cc c JOIN documents d ON d.doc_id = c.id),
            surv AS (SELECT doc_id FROM (
                       SELECT doc_id,
                              row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY v DESC, L DESC, doc_id) AS rn
                       FROM mem) WHERE rn = 1),
            uhash AS (SELECT doc_id,
                             CAST(('0x' || substr(md5(
                                 CAST(doc_id AS VARCHAR) || '|r5'), 1, 8))
                                  AS BIGINT) / 4294967296.0 AS u
                      FROM documents),
            lab AS (SELECT
                      (d.doc_id IS NOT NULL AND d.text IS NOT NULL
                       AND (d.n_chars IS NULL
                            OR (d.n_chars >= 1 AND d.n_chars <= 300))
                       AND (d.lang IS NULL
                            OR d.lang IN ('en','de','fr','es')))
                        AS valid,
                      (cm.doc_id IS NULL OR sv.doc_id IS NOT NULL)
                        AS is_canonical,
                      CASE WHEN uh.u < 0.8 THEN 'train'
                           WHEN uh.u < 0.9 THEN 'val'
                           ELSE 'test' END AS split
                    FROM documents d
                    LEFT JOIN (SELECT DISTINCT doc_id FROM mem) cm
                      ON cm.doc_id = d.doc_id
                    LEFT JOIN surv sv ON sv.doc_id = d.doc_id
                    JOIN uhash uh ON uh.doc_id = d.doc_id)
            SELECT valid, is_canonical, split,
                   CAST(count(*) AS BIGINT) AS n
            FROM lab GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """,
        "docs_split": """
            WITH u AS (SELECT doc_id,
                              CAST(('0x' || substr(md5(
                                  CAST(doc_id AS VARCHAR) || '|r5'), 1, 8))
                                   AS BIGINT) / 4294967296.0 AS u
                       FROM documents)
            SELECT doc_id,
                   CASE WHEN u < 0.8 THEN 'train'
                        WHEN u < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM u
        """,
        "docs_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5(
                      CAST(doc_id AS VARCHAR) || '|r5'), 1, 8))
                       AS BIGINT) / 4294967296.0
                  < CASE lang WHEN 'en' THEN 0.25
                              WHEN 'fr' THEN 0.5
                              WHEN 'zh' THEN 1.0
                              ELSE 0.0 END
        """,
        "docs_repetition": _REPETITION_ORACLE,
        "docs_pii": _pii_oracle(),
        "docs_contamination": """
            WITH base AS (
              SELECT doc_id, source,
                     list_filter(string_split_regex(coalesce(text, ''),
                                 '\\s+'), w -> w <> '') AS ws
              FROM documents
            ),
            grams AS (
              SELECT DISTINCT doc_id, source,
                     array_to_string(ws[i:i+3], ' ') AS g
              FROM base,
                   LATERAL (SELECT unnest(range(1, greatest(len(ws) + 1, 1))))
                     r(i)
              WHERE i <= len(ws) - 4 + 1
            ),
            ref AS (SELECT DISTINCT g FROM grams WHERE source = 'src0')
            SELECT b.doc_id,
                   CAST(count(g.g) AS BIGINT) AS n_grams,
                   CAST(count(CASE WHEN g.g IN (SELECT g FROM ref)
                                   THEN 1 END) AS BIGINT) AS n_hit,
                   CASE WHEN count(g.g) > 0
                        THEN round(count(CASE WHEN g.g IN (SELECT g FROM ref)
                                              THEN 1 END)
                                   / CAST(count(g.g) AS DOUBLE), 6)
                        ELSE 0.0 END AS contaminated_frac,
                   count(CASE WHEN g.g IN (SELECT g FROM ref) THEN 1 END) > 0
                     AS contaminated
            FROM base b
            LEFT JOIN grams g ON b.doc_id = g.doc_id AND g.source <> 'src0'
            WHERE b.source <> 'src0'
            GROUP BY b.doc_id
        """,
        "docs_dedup_dropped": _DUP_CLUSTER_CTE + """,
            cc AS (SELECT id, min(comp) AS cluster_id
                   FROM reach GROUP BY id),
            mem AS (SELECT c.id AS doc_id, c.cluster_id,
                           len(d.text) AS L
                    FROM cc c JOIN documents d ON d.doc_id = c.id)
            SELECT doc_id, cluster_id FROM (
                SELECT doc_id, cluster_id,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY L DESC, doc_id) AS rn
                FROM mem)
            WHERE rn > 1
        """,
        "dynamic_ref_orders": """
            SELECT 'maximum' AS keyword,
                   '$.detail.o_totalprice' AS json_path, count(*) AS n
            FROM orders
            WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice <= 250000)
            HAVING count(*) > 0
            UNION ALL
            SELECT 'pattern', '$.detail.o_orderpriority', count(*)
            FROM orders
            WHERE o_orderpriority IS NOT NULL
              AND NOT regexp_matches(o_orderpriority, '^[1-4]-')
            HAVING count(*) > 0
        """,
        "embeddings_ann_recall": """
            SELECT CAST(3 AS INTEGER) AS k,
                   (SELECT count(DISTINCT vec_id) FROM embeddings
                    WHERE embedding IS NOT NULL) AS n_queries,
                   TRUE AS recall_ok
        """,
        # minhash_pairs / simhash_pairs / embeddings_ann_ivf:
        # non-SQL-expressible (LSH banding, KMeans cells) -> rows-only
        # driver check; each is certified by an oracle-green
        # *_vs_exact / ann_recall companion query.
        "images_validation": f"""
            WITH t AS (SELECT * FROM
                       read_parquet('{IMAGES_ORACLE_PATH}/*.parquet')),
            -- stub decode in SQL: the synthetic payload header is
            -- ASCII 'IMG0' + 4 hex w + 4 hex h + checksum, body md5
            -- text; PSNR < 40 iff the body is shorter than the
            -- expected min(240, w*h//65536 + 16) samples
            dec AS (
              SELECT *,
                octet_length(bytes) AS olen,
                (octet_length(bytes) >= 16
                 AND substr(bytes::VARCHAR, 1, 4) = 'IMG0') AS header_ok,
                TRY_CAST(('0x' || substr(bytes::VARCHAR, 5, 4)) AS BIGINT)
                  AS dw,
                TRY_CAST(('0x' || substr(bytes::VARCHAR, 9, 4)) AS BIGINT)
                  AS dh
              FROM t),
            px AS (
              SELECT *,
                (NOT header_ok)
                OR ((olen - 16) <
                    LEAST(240, (dw * dh) // 65536 + 16))
                OR (dw != w) OR (dh != h) AS pixel_bad
              FROM dec),
            counts(keyword, n) AS (
              SELECT 'enum', count(*) FROM t
                WHERE fmt IS NOT NULL
                  AND fmt NOT IN ('jpeg', 'png', 'webp')
              UNION ALL
              SELECT 'pattern', count(*) FROM t
                WHERE image_id IS NOT NULL
                  AND NOT regexp_matches(image_id,
                                         '^img_[0-9a-f]{{12}}$')
              UNION ALL
              SELECT 'minimum',
                (SELECT count(*) FROM t WHERE w < 1)
                + (SELECT count(*) FROM t WHERE h < 1)
                + (SELECT count(*) FROM t WHERE phash < 0)
              UNION ALL
              SELECT 'maximum',
                (SELECT count(*) FROM t WHERE w > 16384)
                + (SELECT count(*) FROM t WHERE h > 16384)
              UNION ALL
              SELECT 'minLength', count(*) FROM t
                WHERE caption IS NOT NULL AND length(caption) < 1
              UNION ALL
              SELECT 'maxLength', count(*) FROM t
                WHERE caption IS NOT NULL AND length(caption) > 2048
              UNION ALL
              SELECT 'required', count(*) FROM t WHERE caption IS NULL
              UNION ALL
              SELECT 'uniqueItems:image_id', count(*) FROM t
                WHERE image_id IN (SELECT image_id FROM t
                                   GROUP BY image_id HAVING count(*) > 1)
              UNION ALL
              SELECT 'uniqueItems:phash', count(*) FROM t
                WHERE phash IN (SELECT phash FROM t
                                GROUP BY phash HAVING count(*) > 1)
              UNION ALL
              SELECT 'referential:license_id', count(*) FROM t
                WHERE license_id IS NOT NULL
                  AND license_id NOT IN ('lic_0','lic_1','lic_2','lic_3',
                                         'lic_4','lic_5','lic_6','lic_7')
              UNION ALL
              SELECT 'pixelInvariant', count(*) FROM px WHERE pixel_bad
              UNION ALL
              SELECT 'stats:max_null_rate',
                CASE WHEN (SELECT count(*) FILTER (caption IS NULL)
                           * 1.0 / count(*) FROM t) > 0.001
                     THEN 1 ELSE 0 END
              UNION ALL
              SELECT 'stats:max',
                CASE WHEN (SELECT max(w) FROM t) > 16384
                     THEN 1 ELSE 0 END
            )
            SELECT keyword, CAST(n AS BIGINT) AS n
            FROM counts WHERE n > 0 ORDER BY keyword
        """,
        "phash_near_dups": f"""
            -- TRUE all-pairs brute force over the persisted 6k panel:
            -- every unordered image_id pair's bit_count(xor) distance,
            -- no blocking — certifies the engine's bit-flip enumeration
            -- path for BOTH recall and precision
            WITH t AS (SELECT * FROM
                       read_parquet('{PHASH_PANEL_ORACLE_PATH}/*.parquet'))
            SELECT a.image_id AS id_a, b.image_id AS id_b,
                   CAST(min(bit_count(xor(a.phash, b.phash))) AS INT)
                     AS hamming
            FROM t a JOIN t b ON a.image_id < b.image_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 3
            GROUP BY 1, 2
            ORDER BY id_a, id_b
        """,
        "phash_integrity": f"""
            -- decode_fail derived STRUCTURALLY (BMP little-endian
            -- declared file size at bytes 3-6 vs actual length over
            -- the same persisted bytes); mismatch from the planted
            -- two-bit-flip rule (id % 211, decodable rows only)
            WITH t AS (SELECT * FROM
                       read_parquet('{PHASH_INTEG_ORACLE_PATH}/*.parquet')),
            hdr AS (
              SELECT id, octet_length(bytes) AS olen,
                  CAST(('0x' || substr(hex(bytes), 5, 2)) AS BIGINT)
                + CAST(('0x' || substr(hex(bytes), 7, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hex(bytes), 9, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hex(bytes), 11, 2)) AS BIGINT)
                  * 16777216 AS declared
              FROM t)
            SELECT
              count(*) AS n_rows,
              CAST(sum(CASE WHEN olen < declared THEN 1 ELSE 0 END)
                   AS BIGINT) AS decode_fail,
              CAST(sum(CASE WHEN olen >= declared AND id % 211 = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS phash_mismatch,
              CAST(sum(CASE WHEN olen >= declared AND id % 211 != 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS verified_ok
            FROM hdr
        """,
        "video_frame_sample": f"""
            WITH t AS (SELECT * FROM
                       read_parquet('{VIDEOS_ORACLE_PATH}/*.parquet')),
            -- frame count parsed from the VID0 container header:
            -- uint32 little-endian at bytes 5-8
            hdr AS (
              SELECT video_id,
                  CAST(('0x' || substr(hex(bytes), 9, 2)) AS BIGINT)
                + CAST(('0x' || substr(hex(bytes), 11, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hex(bytes), 13, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hex(bytes), 15, 2)) AS BIGINT)
                  * 16777216 AS nf
              FROM t)
            SELECT video_id,
                   CAST((nf + 3) // 4 AS BIGINT) AS n_sampled,
                   CAST(((nf - 1) // 4) * 4 AS INT) AS max_idx,
                   CAST((nf + 3) // 4 AS BIGINT) AS decoded_8px
            FROM hdr ORDER BY video_id
        """,
        "images_bmp_validation": f"""
            WITH t AS (SELECT * FROM
                       read_parquet('{BMP_ORACLE_PATH}/*.parquet')),
            b AS (
              SELECT id, w, h, octet_length(bytes) AS olen,
                     hex(bytes) AS hx
              FROM t),
            -- BMP header fields re-parsed from raw bytes: signature at
            -- bytes 1-2, little-endian declared file size at 3-6,
            -- width int32 at 19-22, height int32 at 23-26
            hdr AS (
              SELECT *,
                substr(hx, 1, 4) = '424D' AS sig,
                  CAST(('0x' || substr(hx, 5, 2)) AS BIGINT)
                + CAST(('0x' || substr(hx, 7, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 9, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hx, 11, 2)) AS BIGINT) * 16777216
                  AS declared,
                  CAST(('0x' || substr(hx, 37, 2)) AS BIGINT)
                + CAST(('0x' || substr(hx, 39, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 41, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hx, 43, 2)) AS BIGINT) * 16777216
                  AS hw,
                  CAST(('0x' || substr(hx, 45, 2)) AS BIGINT)
                + CAST(('0x' || substr(hx, 47, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 49, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hx, 51, 2)) AS BIGINT) * 16777216
                  AS hh
              FROM b)
            SELECT
              count(*) AS n_rows,
              CAST(sum(CASE WHEN sig THEN 1 ELSE 0 END) AS BIGINT)
                AS sig_ok,
              CAST(sum(CASE WHEN olen < declared THEN 1 ELSE 0 END)
                   AS BIGINT) AS truncated,
              CAST(sum(CASE WHEN hw = w AND hh = h THEN 1 ELSE 0 END)
                   AS BIGINT) AS hdr_dims_ok,
              -- planted rules: id%251 -> truncated payload (decode
              -- must fail), id%157 (minus overlap) -> one pixel row
              -- flipped (decodes, PSNR collapses)
              CAST(sum(CASE WHEN id % 251 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS decode_fail,
              CAST(sum(CASE WHEN id % 157 = 0 AND id % 251 != 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_psnr
            FROM hdr
        """,
        "images_png_validation": f"""
            WITH t AS (SELECT * FROM
                       read_parquet('{PNGS_ORACLE_PATH}/*.parquet')),
            b AS (
              SELECT id, w, h, hex(bytes) AS hx FROM t),
            -- PNG header fields re-parsed from raw bytes: 8-byte
            -- signature, then IHDR width/height as BIG-endian uint32
            -- at bytes 17-20 / 21-24
            hdr AS (
              SELECT *,
                substr(hx, 1, 16) = '89504E470D0A1A0A' AS sig,
                  CAST(('0x' || substr(hx, 33, 2)) AS BIGINT) * 16777216
                + CAST(('0x' || substr(hx, 35, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hx, 37, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 39, 2)) AS BIGINT)
                  AS hw,
                  CAST(('0x' || substr(hx, 41, 2)) AS BIGINT) * 16777216
                + CAST(('0x' || substr(hx, 43, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hx, 45, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 47, 2)) AS BIGINT)
                  AS hh
              FROM b)
            SELECT
              count(*) AS n_rows,
              CAST(sum(CASE WHEN sig THEN 1 ELSE 0 END) AS BIGINT)
                AS sig_ok,
              CAST(sum(CASE WHEN hw = w AND hh = h THEN 1 ELSE 0 END)
                   AS BIGINT) AS hdr_dims_ok,
              -- planted rules: id%251 -> mid-IDAT truncation and
              -- id%311 -> one IDAT byte flipped (CRC mismatch): both
              -- decode failures the codec must detect structurally;
              -- id%157 (minus overlaps) -> pre-encode pixel damage
              -- (valid PNG, PSNR collapses); everything else must
              -- round-trip bit-exact with matching dims
              CAST(sum(CASE WHEN id % 251 = 0
                              OR (id % 311 = 0 AND id % 251 != 0
                                  AND id != 0)
                            THEN 1 ELSE 0 END) AS BIGINT) AS decode_fail,
              CAST(sum(CASE WHEN id % 157 = 0 AND id % 251 != 0
                            AND id % 311 != 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_psnr,
              CAST(sum(CASE WHEN NOT (id % 251 = 0
                                      OR (id % 311 = 0 AND id != 0))
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS dims_roundtrip
            FROM hdr
        """,
        "images_jpeg_validation": f"""
            WITH t AS (SELECT * FROM
                       read_parquet('{JPEGS_ORACLE_PATH}/*.parquet')),
            b AS (
              SELECT id, w, h, hex(bytes) AS hx FROM t),
            -- JPEG header fields re-parsed from raw bytes: the SOI
            -- marker at bytes 1-2, the SOF0 marker at the encoder's
            -- deterministic offset (bytes 159-160: SOI+APP0+2xDQT
            -- precede it with fixed lengths), and the frame
            -- height/width as BIG-endian uint16 at bytes 164-165 /
            -- 166-167
            hdr AS (
              SELECT *,
                substr(hx, 1, 4) = 'FFD8' AS sig,
                substr(hx, 317, 4) = 'FFC0' AS sof,
                  CAST(('0x' || substr(hx, 327, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 329, 2)) AS BIGINT)
                  AS hh,
                  CAST(('0x' || substr(hx, 331, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 333, 2)) AS BIGINT)
                  AS hw
              FROM b)
            SELECT
              count(*) AS n_rows,
              CAST(sum(CASE WHEN sig THEN 1 ELSE 0 END) AS BIGINT)
                AS sig_ok,
              CAST(sum(CASE WHEN sof THEN 1 ELSE 0 END) AS BIGINT)
                AS sof_ok,
              CAST(sum(CASE WHEN hw = w AND hh = h THEN 1 ELSE 0 END)
                   AS BIGINT) AS hdr_dims_ok,
              -- planted rules: id%251 -> mid-entropy truncation and
              -- id%311 -> SOF0 marker zeroed: both decode failures
              -- the codec must detect structurally; id%157 (minus
              -- overlaps) -> pre-encode pixel damage (valid JPEG,
              -- lossy round-trip PSNR collapses); every other row
              -- must decode at the declared dims AND reconstruct
              -- the reference pixels above 40 dB
              CAST(sum(CASE WHEN id % 251 = 0
                              OR (id % 311 = 0 AND id % 251 != 0
                                  AND id != 0)
                            THEN 1 ELSE 0 END) AS BIGINT) AS decode_fail,
              CAST(sum(CASE WHEN id % 157 = 0 AND id % 251 != 0
                            AND id % 311 != 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_psnr,
              CAST(sum(CASE WHEN NOT (id % 251 = 0
                                      OR (id % 311 = 0 AND id != 0))
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS dims_roundtrip
            FROM hdr
        """,
        "images_webp_validation": f"""
            WITH t AS (SELECT * FROM
                       read_parquet('{WEBPS_ORACLE_PATH}/*.parquet')),
            b AS (
              SELECT id, w, h, octet_length(bytes) AS olen,
                     hex(bytes) AS hx FROM t),
            -- WebP header fields re-parsed from raw bytes: the RIFF /
            -- WEBP+VP8L fourccs and the 0x2F signature byte, the RIFF
            -- size as LITTLE-endian uint32 at bytes 5-8 (an intact
            -- file has riff_size + 8 = file length), and the VP8L
            -- width/height from the 28 LSB-first bits after the
            -- signature: (w-1) = bits 0..13, (h-1) = bits 14..27 of
            -- the LE dword at bytes 22-25
            hdr AS (
              SELECT *,
                substr(hx, 1, 8) = '52494646'
                  AND substr(hx, 17, 16) = '574542505650384C'
                  AND substr(hx, 41, 2) = '2F' AS sig,
                  CAST(('0x' || substr(hx, 9, 2)) AS BIGINT)
                + CAST(('0x' || substr(hx, 11, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 13, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hx, 15, 2)) AS BIGINT) * 16777216
                  AS riff_size,
                  CAST(('0x' || substr(hx, 43, 2)) AS BIGINT)
                + CAST(('0x' || substr(hx, 45, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 47, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hx, 49, 2)) AS BIGINT) * 16777216
                  AS dims
              FROM b)
            SELECT
              count(*) AS n_rows,
              CAST(sum(CASE WHEN sig THEN 1 ELSE 0 END) AS BIGINT)
                AS sig_ok,
              CAST(sum(CASE WHEN riff_size + 8 <= olen THEN 1 ELSE 0
                       END) AS BIGINT) AS riff_covered,
              CAST(sum(CASE WHEN (dims % 16384) + 1 = w
                             AND ((dims // 16384) % 16384) + 1 = h
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS hdr_dims_ok,
              -- planted rules: id%251 -> mid-chunk truncation and
              -- id%311 -> VP8L signature byte zeroed: both decode
              -- failures the codec must detect structurally; id%157
              -- (minus overlaps) -> pre-encode pixel damage (valid
              -- WebP, lossless round-trip, PSNR collapses vs the
              -- reference pixels); every other row must decode
              -- bit-exact at the declared dims
              CAST(sum(CASE WHEN id % 251 = 0
                              OR (id % 311 = 0 AND id % 251 != 0
                                  AND id != 0)
                            THEN 1 ELSE 0 END) AS BIGINT) AS decode_fail,
              CAST(sum(CASE WHEN id % 157 = 0 AND id % 251 != 0
                            AND id % 311 != 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_psnr,
              CAST(sum(CASE WHEN NOT (id % 251 = 0
                                      OR (id % 311 = 0 AND id != 0))
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS dims_roundtrip
            FROM hdr
        """,
        "audio_validation": f"""
            WITH t AS (SELECT * FROM
                       read_parquet('{AUDIO_ORACLE_PATH}/*.parquet')),
            b AS (
              SELECT id, n_samples, sample_rate, hex(bytes) AS hx
              FROM t),
            -- RIFF/WAVE header fields re-parsed from raw bytes:
            -- 'RIFF' magic, sample rate LE uint32 at bytes 25-28,
            -- data-chunk size LE uint32 at 41-44
            hdr AS (
              SELECT *,
                substr(hx, 1, 8) = '52494646' AS sig,
                  CAST(('0x' || substr(hx, 49, 2)) AS BIGINT)
                + CAST(('0x' || substr(hx, 51, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 53, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hx, 55, 2)) AS BIGINT) * 16777216
                  AS rate,
                  CAST(('0x' || substr(hx, 81, 2)) AS BIGINT)
                + CAST(('0x' || substr(hx, 83, 2)) AS BIGINT) * 256
                + CAST(('0x' || substr(hx, 85, 2)) AS BIGINT) * 65536
                + CAST(('0x' || substr(hx, 87, 2)) AS BIGINT) * 16777216
                  AS dlen
              FROM b)
            SELECT
              count(*) AS n_rows,
              CAST(sum(CASE WHEN sig THEN 1 ELSE 0 END) AS BIGINT)
                AS sig_ok,
              CAST(sum(CASE WHEN rate = sample_rate THEN 1 ELSE 0 END)
                   AS BIGINT) AS hdr_rate_ok,
              CAST(sum(CASE WHEN dlen = n_samples * 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS hdr_len_ok,
              -- planted rules: id%251 -> data chunk truncated (decode
              -- must fail); id%157 (minus overlap) -> zeroed samples
              -- (decodes, SNR collapses); everything else round-trips
              CAST(sum(CASE WHEN id % 251 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS decode_fail,
              CAST(sum(CASE WHEN id % 157 = 0 AND id % 251 != 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_snr,
              CAST(sum(CASE WHEN id % 251 != 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS len_roundtrip
            FROM hdr
        """,
        "caption_equality": """
            -- expected caption-invariant mismatches per class from the
            -- planted-rule id arithmetic alone (earlier when-branch
            -- wins: null > empty > long), over the same 20k id range
            WITH ids AS (SELECT unnest(generate_series(0, 19999)) AS id),
            cls AS (
              SELECT CASE
                WHEN id % 200 = 3
                  THEN 'caption is null, reference is not'
                WHEN id % 500 = 101 THEN 'caption is empty'
                WHEN id % 1000 = 207
                  THEN 'caption differs from reference'
              END AS message FROM ids)
            SELECT message, count(*) AS n FROM cls
            WHERE message IS NOT NULL
            GROUP BY message ORDER BY message
        """,
        "images_quality": f"""
            -- same thresholds, same skip rules as the Spark block:
            -- geometry checks need w > 0 AND h > 0 (non-positive dims
            -- are the row keywords' finding); byte checks need a
            -- non-NULL payload.  Thresholds are exact-binary doubles
            -- (2^-6, 2^-4) so float comparison order cannot differ.
            WITH t AS (SELECT *, octet_length(bytes) AS olen FROM
                       read_parquet('{IMAGES_ORACLE_PATH}/*.parquet')),
            counts(keyword, n) AS (
              SELECT 'imageQuality:aspect', count(*) FROM t
                WHERE w > 0 AND h > 0
                  AND (w / h < 0.015625 OR w / h > 64.0)
              UNION ALL
              SELECT 'imageQuality:pixels', count(*) FROM t
                WHERE w > 0 AND h > 0
                  AND (w * h < 1024 OR w * h > 16777216)
              UNION ALL
              SELECT 'imageQuality:bytes', count(*) FROM t
                WHERE olen IS NOT NULL AND olen < 16
              UNION ALL
              SELECT 'imageQuality:bytesPerPixel', count(*) FROM t
                WHERE w > 0 AND h > 0 AND olen IS NOT NULL
                  AND olen / (w * h) > 0.0625)
            SELECT keyword, CAST(n AS BIGINT) AS n FROM counts
            WHERE n > 0 ORDER BY keyword
        """,
        "caption_alignment": f"""
            -- recompute every cosine independently: DuckDB's own
            -- list_cosine_similarity vs the engine's zip_with/aggregate
            -- expression.  Unscorable rows (NULL / zero-norm) are
            -- classified FIRST, exactly like alignment_violations.
            WITH t AS (SELECT * FROM
                       read_parquet('{ALIGN_ORACLE_PATH}/*.parquet')),
            nrm AS (
              -- manual double-precision cosine: list_transform /
              -- list_sum / list_zip are NULL-list-safe where
              -- list_dot_product and list_cosine_similarity raise
              -- (DuckDB evaluates them eagerly across the chunk even
              -- under a guarding CASE), and summing in DOUBLE in
              -- element order is exactly the engine's aggregate fold
              SELECT pair_id,
                list_sum(list_transform(img,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS ni,
                list_sum(list_transform(txt,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nt,
                list_sum(list_transform(list_zip(img, txt),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                  AS dot
              FROM t),
            s AS (
              SELECT pair_id,
                (ni IS NULL OR nt IS NULL OR ni = 0 OR nt = 0)
                  AS missing,
                dot / (sqrt(ni) * sqrt(nt)) AS cos
              FROM nrm),
            counts(keyword, n) AS (
              SELECT 'alignment:missing', count(*) FROM s WHERE missing
              UNION ALL
              SELECT 'alignment:cosine', count(*) FROM s
                WHERE NOT missing AND cos < 0.5)
            SELECT keyword, CAST(n AS BIGINT) AS n FROM counts
            WHERE n > 0 ORDER BY keyword
        """,
        "images_luma_quality": f"""
            -- structural oracle: the decoded-luma classes are planted
            -- by id arithmetic (luma_images_df; priority trunc >
            -- solid > dark > bright), so the class counts are
            -- recomputable without decoding — over the SAME persisted
            -- ids the engine decoded.  Truncated rows decode-fail and
            -- are skipped by the quality check (the pixel-invariant's
            -- finding).
            WITH t AS (SELECT id FROM
                       read_parquet('{LUMA_ORACLE_PATH}/*.parquet')),
            counts(keyword, n) AS (
              SELECT 'lumaQuality:contrast', count(*) FROM t
                WHERE id % 251 != 0 AND id % 97 = 0
              UNION ALL
              SELECT 'lumaQuality:brightness', count(*) FROM t
                WHERE id % 251 != 0 AND id % 97 != 0
                  AND (id % 89 = 0 OR id % 83 = 0))
            SELECT keyword, CAST(n AS BIGINT) AS n FROM counts
            WHERE n > 0 ORDER BY keyword
        """,
    }


#: all true near-dup pairs by exact character-5-shingle Jaccard >= 0.5
_SHINGLE_JACCARD_ORACLE = """
    WITH pos AS (
      SELECT DISTINCT doc_id, substr(text, i, 5) AS g
      FROM (SELECT doc_id, text,
                   unnest(generate_series(
                       1, greatest(length(text) - 4, 1))) AS i
            FROM documents WHERE text IS NOT NULL)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM pos GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM pos a JOIN pos b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
"""
