#!/usr/bin/env python
"""Physical-plan audit -> PLANS.md: proves the plan properties the
engine's scale claims rest on (pruning, pushdown, codegen, broadcast,
partial aggregation, no document shuffles)."""
from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def plan_of(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict:
    return {
        "read_schema": (re.search(r"ReadSchema: struct<([^>]*)", plan) or
                        [None, ""])[1][:90],
        "pushed": (re.search(r"PushedFilters: (\[[^\]]*\])", plan) or
                   [None, "[]"])[1][:90],
        # shuffle exchanges only: BroadcastExchange is counted below
        "exchanges": len(re.findall(r"(?<!\w)Exchange ", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange|BroadcastHashJoin"
                                     r"|BroadcastNestedLoop", plan)),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        # count detail headers "(N) NodeName" only — each physical node
        # appears TWICE in formatted output (tree + detail section), so
        # a bare substring count double-reports every Python stage
        "python": len(re.findall(
            r"^\(\d+\) \S*(?:EvalPython|ArrowEval|MapInPandas"
            r"|CoGroupsInPandas|MapInArrow)", plan, re.M)),
        "partial_agg": ("partial" in plan.lower()
                        or "HashAggregate" in plan),
        "left_semi": len(re.findall(r"Join type: LeftSemi", plan)),
    }


def main() -> None:
    from jsonschema_spark import CompiledValidator
    from jsonschema_spark.operators.dedup import (minhash_signatures_df,
                                                  simhash_packed_df)
    from jsonschema_spark.operators.referential import orphans
    from jsonschema_spark.operators.stats import column_stats
    from jsonschema_spark.operators.uniqueness import duplicate_keys
    from jsonschema_spark.session import get_spark
    from jsonschema_spark.sources.images import (IMAGES_SCHEMA, images_df,
                                                 licenses_df)

    spark = get_spark("plan-audit", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    img_path = "/tmp/plan_audit_images"
    if not os.path.exists(os.path.join(img_path, "_SUCCESS")):
        images_df(spark, 50_000, partitions=8, with_license=True) \
            .write.mode("overwrite").parquet(img_path)
    img = spark.read.parquet(img_path)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    spec = {k: v for k, v in IMAGES_SCHEMA.items() if k != "x-spark"}
    v = CompiledValidator(spec, img)

    cases = []

    # 1. row validation counts: bytes pruned, single codegen, no shuffle
    counts_q = img.select(v.valid_column.alias("v")).agg(
        F.sum(F.col("v").cast("long")), F.count(F.lit(1)))
    cases.append((
        "row_validation_counts",
        "is_valid over 6 constrained columns; `bytes` (the payload, ~60% "
        "of on-disk size) must be pruned; one codegen span; the only "
        "exchange is the 2-row final aggregate",
        counts_q))

    # 2. violations with pre-explode filter: still a narrow scan
    cases.append((
        "violations",
        "iter_errors: the pushed filter is the boolean validity chain "
        "(valid = false) BEFORE explode, so passing rows never "
        "materialize error structs; narrow (no exchange at all)",
        v.violations(img, ["image_id"])))

    # 3. manifest: partial+final agg only
    cases.append((
        "manifest",
        "per-partition pass/fail: map-side partial aggregation then one "
        "exchange on the group key",
        v.manifest(img, ["fmt"])))

    # 4. uniqueness: one partial-aggregated groupBy on the key
    cases.append((
        "uniqueness_groupby",
        "duplicate_keys(groupby): rows with a NULL key are filtered in "
        "the scan (SQL UNIQUE: a NULL key is never a duplicate), then "
        "one groupBy(key) count with map-side partial aggregation — "
        "the only exchange carries (key, partial count), never the "
        "row, and no join or broadcast follows",
        duplicate_keys(img, ["image_id"], strategy="groupby")))

    # 5. referential: broadcast anti-join (dim side tiny)
    cases.append((
        "referential_orphans",
        "left_anti against an 8-row dim: must be BroadcastHashJoin / "
        "BroadcastNestedLoop — never a sort-merge shuffle of the fact "
        "table",
        orphans(img, "license_id", licenses_df(spark), "license_id")))

    # 6. stats: ONE pass for all columns
    cases.append((
        "column_stats",
        "all column stats in one agg: exactly one exchange (partial -> "
        "final), one scan",
        column_stats(img, ["w", "h", "phash"])))

    # 7. minhash signatures: shuffle carries signatures, never shingles
    cases.append((
        "minhash_signatures",
        "explode shingles -> 64 codegen'd min-aggs; partial aggregation "
        "means the exchange carries one partial signature per doc per "
        "partition, never shingle strings",
        minhash_signatures_df(docs, "doc_id", "text")))

    # 8. simhash packed: same property, 16 packed lanes
    cases.append((
        "simhash_packed",
        "packed 4-per-long lane counts; narrow until the per-doc agg "
        "exchange",
        simhash_packed_df(docs, "doc_id", "text")))

    # 9. pixel invariant: joinless native decode projection
    from jsonschema_spark import validate_dataset
    cases.append((
        "pixel_invariant",
        "decoded-pixel PSNR invariant, stub tier (validate_dataset with "
        "only `pixel_invariant: {decode: stub}`): the header parse is a "
        "projection of native Columns beside (w, h) in the same row, so "
        "the whole check is ONE narrow scan — zero exchanges, zero "
        "python nodes (the former image_id join both shuffled and "
        "cross-matched duplicate ids)",
        validate_dataset(
            img, {"type": "object",
                  "x-spark": {"pixel_invariant": {"decode": "stub"}}},
            ["image_id"])))

    # 10. best_match: single window over the violations
    from jsonschema_spark.operators.bestmatch import best_match
    cases.append((
        "best_match",
        "by_relevance ranking: one window (one exchange on the id "
        "cols) over violation rows; the sortable-path regex chain is "
        "gated behind contains('[') so bracket-free paths stay cheap",
        best_match(v.violations(img, ["image_id"]), ["image_id"])))

    # 11. IVF ANN, kernel path: the audit table fits the bounded
    # collect, so no scan and no pair rows reach the plan
    from jsonschema_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cases.append((
        "ivf_topk",
        "IVF ANN, broadcast-kernel path (the table is under "
        "IVF_KERNEL_MAX_ROWS): ONE bounded Arrow collect of the raw "
        "vectors already fed the driver-side quantizer fit and the "
        "broadcast, so the plan reads no table — a range of "
        "(cell, chunk) groups, ONE MapInArrow scoring node emitting "
        "only per-chunk top-k rows (no pair rows), and the global "
        "top-k window's single exchange",
        ivf_topk(emb, "vec_id", "embedding", k=3, n_lists=16,
                 n_probe=4)))

    # 12. chunk-salted simhash band join: bounded groups, broadcast
    # bucket histogram, signatures only in the shuffle
    from jsonschema_spark.operators.dedup import simhash_duplicates
    cases.append((
        "simhash_duplicates_chunked",
        "chunk-salted (band, bucket) self-join over the cached "
        "(id, signature) frame (one InMemoryRelation feeds the "
        "histogram and both join sides): the per-bucket count "
        "aggregate (<= 65,536 rows/band by construction) comes back as "
        "a BROADCAST; one join side is salted into ~chunk_size chunks, "
        "the other replicates per chunk — so no join group is ever "
        "quadratic in a degenerate bucket, and the only shuffled rows "
        "are 16-byte (id, signature) pairs, never documents",
        simhash_duplicates(docs, "doc_id", "text")))

    # 13. caption-equality invariant: pure codegen narrow scan
    from jsonschema_spark.operators.multimodal import caption_check
    from jsonschema_spark.sources.images import reference_caption
    img_id = images_df(spark, 50_000, with_id=True)
    cases.append((
        "caption_equality",
        "caption vs deterministic reference caption (north-rule per-row "
        "invariant, equality half): NULL-safe comparison compiled to "
        "native expressions — zero exchanges, zero python nodes, "
        "`bytes` pruned",
        caption_check(img_id, reference_caption(F.col("id")))))

    # 14. phash near-dup: narrow (id, phash) projection, exact 32-bit
    # block-key join, hamming inside the join condition
    from jsonschema_spark.operators.dedup import phash_near_duplicates
    cases.append((
        "phash_near_duplicates",
        "bit-flip enumeration over the STORED phash column: the scan "
        "projects only (image_id, phash) — `bytes`/caption pruned — "
        "each code explodes into its 2 exact 32-bit block keys (`_blk`, "
        "`_key`) on one join side and 2 x 33 identity/single-bit-flip "
        "variants on the other, all codegen'd shift/mask/xor; only the "
        "hot keys (count > chunk_size) are aggregated and broadcast to "
        "chunk-salt both sides, and the final distance is "
        "bit_count(xor) evaluated INSIDE the join condition, so "
        "non-qualifying pairs never materialize rows",
        phash_near_duplicates(img, "image_id", "phash")))

    # 15. per-partition drift: one data shuffle + tiny windows
    from jsonschema_spark.operators.drift import histogram, partitioned_drift
    base_hist = histogram(img, "w", 0.0, 4096.0, 16)
    cases.append((
        "partitioned_drift",
        "per-partition KS/L1/chi2/PSI vs baseline: the ONLY wide "
        "shuffle over data is groupBy(part, bucket); the dense grid "
        "is a sequence explode over the distinct parts, the baseline "
        "joins as a BROADCAST, and each window runs over bins rows "
        "per partition — per-partition cost is O(bins), independent "
        "of table size",
        partitioned_drift(img, "fmt", "w", 0.0, 4096.0, 16, base_hist)))

    # 16. deterministic split: pure codegen scan predicate, no shuffle
    from jsonschema_spark.operators.sampling import (deterministic_sample,
                                                     split_assign)
    cases.append((
        "split_assign",
        "hash-keyed train/val/test assignment: membership is a pure "
        "function of md5(key||salt) evaluated inside the scan's "
        "codegen — zero exchanges, zero python nodes, no count/sort "
        "job; `bytes` pruned; composes with partition pruning (the "
        "rand()-free property that makes task retries and corpus "
        "growth unable to move rows between splits)",
        split_assign(img.select("image_id", "w"), "image_id",
                     {"train": 0.98, "val": 0.01, "test": 0.01})))

    # 17. stratified sample: same zero-shuffle property with per-stratum
    # rates
    cases.append((
        "deterministic_sample",
        "per-stratum deterministic sampling (rebalance): the stratum "
        "rate lookup is a codegen'd CASE, the keep predicate a hash "
        "comparison — still zero exchanges, the whole filter evaluated "
        "inside the scan's single codegen stage (a computed-hash "
        "predicate cannot be a parquet-level PushedFilter, but the "
        "scan projects only the key/strata columns, so row-group "
        "pruning on real partition columns still composes)",
        deterministic_sample(img.select("image_id", "fmt", "w"),
                             "image_id",
                             {"bmp": 0.5, "png": 0.25,
                              "jpeg": 0.25, "webp": 1.0},
                             strata_col="fmt")))

    # 18. connected components (distributed path): every shuffle in a
    # round carries only 2-column id pairs; the returned labeling is
    # one groupBy over the converged star edges (lineage truncated, so
    # the audit sees the final frame, not the per-round history)
    from jsonschema_spark.operators.clusters import connected_components
    chain = spark.range(2_000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    cases.append((
        "connected_components",
        "large-star/small-star transitive closure on an adversarial "
        "2,000-node chain, distributed path forced "
        "(small_graph_threshold=0): converges in O(log n) alternating "
        "rounds — each round two groupBy shuffles + two joins carrying "
        "ONLY (id, id) pairs, never documents; lineage is truncated "
        "per round (localCheckpoint) so plan depth stays constant; the "
        "audited final labeling is one exchange over the star edges",
        connected_components(chain, "id_a", "id_b",
                             small_graph_threshold=0)))

    # 19. survivor election: min_by groupBy (map-side partial), not a
    # window — a mega-cluster cannot serialize through one task
    from jsonschema_spark.operators.clusters import resolve_duplicates
    doc_pairs = docs.select(
        F.col("doc_id").cast("string").alias("id_a"),
        F.concat(F.col("doc_id").cast("string"),
                 F.lit("_v2")).alias("id_b"))
    cases.append((
        "resolve_duplicates",
        "survivor election per duplicate cluster: min_by/struct-min "
        "aggregation (partial map-side combine) instead of a "
        "row_number window, so a boilerplate mega-cluster partially "
        "aggregates in parallel — and the groupBy input is the INNER "
        "join with the cluster labeling, so only pair members enter "
        "the election (the singleton majority of a 10^12-row corpus "
        "never shuffles on cluster_id); the corpus itself is touched "
        "only by two joins against small frames, planned as broadcasts "
        "(the union-find labeling is a local frame of known size; a "
        "distributed labeling is AQE-convertible to broadcast at "
        "runtime)",
        resolve_duplicates(
            docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                        "text").union(
                docs.select(F.concat(F.col("doc_id").cast("string"),
                                     F.lit("_v2")), "text")),
            doc_pairs, "doc_id", prefer=-F.length("text"))))

    # 20. repetition signals: per-doc n-gram histograms in one
    # mapInArrow pass, never exploded or shuffled
    from jsonschema_spark.operators.repetition import repetition_signals
    cases.append((
        "repetition_signals",
        "Gopher repetition block (top 2/3/4-gram + dup 5..10-gram char "
        "fractions): one narrow (doc_id, text) pass through a mapInArrow "
        "kernel (the one python node) returns each document's integer "
        "n-gram masses, then a codegen'd projection divides; the one "
        "exchange is the small-input parallelism floor "
        "(ensure_parallelism repartitions an input with fewer partitions "
        "than cores), so no shuffle carries n-grams — the explode+groupBy "
        "formulation would shuffle ~9x the corpus text",
        repetition_signals(docs, "doc_id", "text",
                           top_ns=(2, 3, 4), dup_ns=(5, 10))))

    # 21. decontamination: ref grams distinct+broadcast; train side one
    # narrow explode into a broadcast join, partial-agg on doc_id
    from jsonschema_spark.operators.contamination import ngram_contamination
    cases.append((
        "ngram_contamination",
        "benchmark decontamination at corpus scale: the benchmark side "
        "aggregates to DISTINCT 8-byte gram hashes and BROADCASTS; the "
        "train side pays one Generate + BroadcastHashJoin + "
        "partial-agg groupBy on its own id — no shuffle ever carries "
        "document text",
        ngram_contamination(
            docs.filter(F.col("source") != "src0"),
            docs.filter(F.col("source") == "src0"),
            "doc_id", "text", n=4, on_hash=True)))

    # 22. PII profile: zero-shuffle regexp projection
    from jsonschema_spark.operators.pii import pii_profile
    cases.append((
        "pii_profile",
        "PII counts + redaction (email/phone/IPv4): pure regexp_count/"
        "regexp_replace — zero exchanges, zero python nodes, one "
        "codegen'd projection over (id, text)",
        pii_profile(docs, "doc_id", "text")))

    # 23. metadata-tier image quality: zero-shuffle violation projection
    from jsonschema_spark.operators.quality import (
        alignment_violations, image_quality_violations)
    cases.append((
        "image_quality_metadata",
        "aspect / pixel-count / payload-size / bytes-per-pixel bands "
        "over stored (w, h, length(bytes)): one Generate over the "
        "violation structs inside the scan's projection — zero "
        "exchanges, zero python nodes (the check rides the same "
        "narrow scan as the row keywords)",
        image_quality_violations(
            img, {"min_aspect": 0.015625, "max_aspect": 64.0,
                  "min_pixels": 1024, "min_bytes": 16},
            ["image_id"])))

    # 24. caption-image alignment: codegen'd cosine, no shuffle
    from jsonschema_spark.sources.images import aligned_embeddings_df
    pairs = aligned_embeddings_df(spark, 50_000)
    cases.append((
        "caption_alignment",
        "CLIP-score seam: cosine between paired array<float> "
        "embeddings as one zip_with/aggregate expression evaluated "
        "inside the projection — zero exchanges, zero python nodes; "
        "NULL/zero-norm pairs classified in the same pass",
        alignment_violations(
            pairs, {"image_col": "img", "text_col": "txt",
                    "min_cosine": 0.5}, ["pair_id"])))

    # 25. decoded-tier luma quality fused with phash integrity: ONE
    # decode_pixels node feeds both violation streams (persist the
    # synthetic corpus first — its generator is itself a mapInPandas
    # and would otherwise pollute the audited plan)
    from jsonschema_spark.sources.images import luma_images_df
    luma_path = "/tmp/plan_audit_luma"
    if not os.path.exists(os.path.join(luma_path, "_SUCCESS")):
        luma_images_df(spark, 2_000).withColumn(
            "phash", F.lit(0).cast("long")) \
            .write.mode("overwrite").parquet(luma_path)
    luma_img = spark.read.parquet(luma_path)
    cases.append((
        "luma_quality_fused",
        "image_quality_decoded + phash_integrity in one spec: one "
        "decode_pixels(phash=True, luma=True) pass and one violation "
        "projection over it — exactly ONE python node in the whole "
        "plan (decoding is the expensive stage and must not run "
        "twice), zero exchanges before the violation union",
        validate_dataset(
            luma_img,
            {"type": "object",
             "x-spark": {"phash_integrity": {"max_hamming": 0},
                         "image_quality_decoded": {"min_luma": 20,
                                                   "max_luma": 235,
                                                   "min_contrast": 2}}},
            ["image_id"])))

    # 26. curate composition: dedup's two small-frame joins are the
    # ONLY wide operators; validity and split ride as projections
    from jsonschema_spark import curate
    from jsonschema_spark.operators.dedup import exact_fingerprint_pairs
    ex_pairs = exact_fingerprint_pairs(docs, "doc_id", "text")
    cases.append((
        "curate_composition",
        "validate + dedup survivor election + deterministic split in "
        "one labeled frame: validity and the split hash are "
        "projections riding the scan; the only wide operators are the "
        "dedup stage's joins against the (small) cluster labeling and "
        "survivor frames — composing the three stages adds ZERO "
        "passes, zero python nodes",
        curate(docs, {"required": ["text"]}, "doc_id", pairs=ex_pairs,
               prefer=-F.length("text"),
               split={"train": 0.9, "val": 0.1})))

    # 27. validate_dataset on the north-star table: uniqueness counts
    # over windows and stats is an aggregate inside the plan
    xs = {**IMAGES_SCHEMA["x-spark"],
          "stats": {"caption": {"max_null_rate": 0.001},
                    "w": {"max": 16384}},
          "pixel_invariant": {"min_psnr": 40.0, "decode": "stub"}}
    cases.append((
        "validate_dataset_images",
        "row keywords + unique[image_id, phash] + referential + stats + "
        "stub pixel invariant as one lazy union: each unique key is one "
        "exchange into a window count over the narrow (image_id, phash) "
        "scan, with no LeftSemi join back to the table; stats is one "
        "partial+final aggregate of only the null count and max its "
        "rules read; the licence dim is broadcast without a shuffle "
        "(no distinct: a left-anti join only tests existence); the "
        "stub decode is a native projection, so no python node",
        validate_dataset(img, {**spec, "x-spark": xs}, ["image_id"],
                         tables={"licenses": licenses_df(spark)})))

    lines = [
        "# PLANS.md — physical-plan audit",
        "",
        "Evidence (from `.explain`/executedPlan, generated by "
        "`tools/plan_audit.py`) that each operator compiles to the plan "
        "its 100 TB scale claim requires.  `exchanges` counts shuffle "
        "boundaries; `python` counts Python-eval nodes (0 = fully "
        "JVM-side).  AQE wraps plans before execution, so codegen-span "
        "counts show 0 for adaptive plans (the spans exist at runtime — "
        "see the non-adaptive `violations` plan for the raw count).",
        "",
    ]
    for name, claim, df in cases:
        p = plan_of(df)
        s = summarize(p)
        lines += [
            f"## {name}",
            "",
            claim + ".",
            "",
            f"- ReadSchema: `{s['read_schema']}`",
            f"- PushedFilters: `{s['pushed']}`",
            f"- exchanges: **{s['exchanges']}**, broadcasts: "
            f"{s['broadcasts']}, whole-stage-codegen spans: "
            f"{s['codegen_spans']}, python nodes: {s['python']}, "
            f"LeftSemi joins: {s['left_semi']}",
            "",
        ]
        print(name, s)
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
