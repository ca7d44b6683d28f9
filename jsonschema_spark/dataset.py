"""Whole-table validation: the ``x-spark`` extension block executed.

A constraint spec may carry an ``x-spark`` object declaring the
dataset-scope checks that have no row-local JSON-Schema analogue::

    "x-spark": {
        "unique": ["image_id", "phash"],
        "referential": [{"column": "license_id",
                         "ref": {"table": "licenses", "key": "license_id"}}],
        "stats": {"caption": {"max_null_rate": 0.01}},
        "drift": {"baseline": "<path>",
                  "numeric": {"w": [0.0, 16384.0, 32]},
                  "categorical": ["fmt"]},     # add "by": "fmt" for
                                               # per-partition scoring
        "pixel_invariant": {"min_psnr": 40.0,
                            "decode": "auto"},   # "stub"|"real"|"auto"
        "phash_integrity": {"max_hamming": 0},
        "near_dup_phash": {"max_hamming": 3, "max_pairs": 0},
        "repetition": {"column": "text",          # Gopher Table A1
                       "max_top": {"2": 0.20},    # n -> max char frac
                       "max_dup": {"5": 0.15}},   # omit both: defaults
        "pii": {"column": "text", "max_hits": 0},
        "contamination": {"column": "text", "ref_table": "benchmark",
                          "ref_column": "text", "n": 13,
                          "max_frac": 0.0, "on_hash": true},
        "image_quality": {"min_aspect": 0.05, "max_aspect": 20.0,
                          "min_pixels": 1024, "min_bytes": 16},
        "image_quality_decoded": {"min_luma": 20, "max_luma": 235,
                                  "min_contrast": 2},  # real-decode tier
        "alignment": {"image_col": "img_vec", "text_col": "txt_vec",
                      "min_cosine": 0.5,
                      "method": "native"}   # "arrow" = BLAS batch path
    }

``validate_dataset`` compiles the row-level keywords through the normal
registry AND runs every declared dataset check, returning one unified
violation-rows DataFrame (same schema as ``CompiledValidator.violations``)
— the engine's complete answer to BASELINE.json's north_star.

Physical notes: the row pass is one narrow scan; uniqueness is one
window count (one key shuffle) per key over a narrow scan, with no join
back; referential checks broadcast small dims; stats is one lazy
aggregate of only what its rules read; drift scores each profiled
column's histogram with one lazy scorer, in the table scope as one
constant partition and with ``by`` per partition; only the real-codec
pixel checks are Python (Arrow-batched)
and only the pixel checks read ``bytes``.  The pixel checks decode each
input at most once per tier: ``pixel_invariant`` on the stub tier
(synthetic-header fast path) is one ``decode_images`` projection of
native Columns, and every real-codec block (``pixel_invariant`` on the
real tier, ``phash_integrity``, ``image_quality_decoded``) shares ONE
``decode_pixels`` pass.
``pixel_invariant``'s tier is an explicit option: ``"decode": "stub"``,
``"real"`` (the built-in BMP/PNG/JPEG/WebP codecs), or ``"auto"``
(default), which resolves to "real" when ``phash_integrity`` is also
configured and "stub" otherwise.  Pin "stub" or "real" when the verdict
must not depend on which other blocks are present.
"""

from __future__ import annotations

from typing import Any, Mapping, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .compiler import sql
from .compiler.context import json_path_join
from .validator import CompiledValidator, _violation_rows, _vrow

VIOLATION_COLS = ("keyword", "json_path", "schema_path", "message",
                  "failing_value")


def validate_dataset(df: DataFrame, schema: dict,
                     id_cols: Sequence[str] = (),
                     tables: Optional[Mapping[str, DataFrame]] = None,
                     registry: Any = None,
                     schema_store: Optional[dict] = None,
                     format_checker: bool = False,
                     retrieve=None) -> DataFrame:
    """Row-level + x-spark dataset checks -> unified violation rows.
    `schema_store`/`format_checker`/`retrieve` forward to the row-level
    :class:`CompiledValidator` (same semantics as constructing one)."""
    xs = schema.get("x-spark", {}) or {}
    if xs:
        # CompiledValidator only meta-checks the row keywords it is
        # given; validate the stripped extension block explicitly so a
        # config typo fails here, not mid-job (spec._check_x_spark)
        from .spec import _check_x_spark
        _check_x_spark(xs, "#/x-spark")
    row_schema = {k: v for k, v in schema.items() if k != "x-spark"}
    v = CompiledValidator(row_schema, df, registry,
                          schema_store=schema_store,
                          format_checker=format_checker,
                          retrieve=retrieve)
    keep = list(id_cols)

    def pad(frame: DataFrame) -> DataFrame:
        cols = set(frame.columns)
        out = frame
        for c in keep:
            if c not in cols:
                out = out.withColumn(c, F.lit(None).cast("string"))
        return out.select(*map(sql.ref, keep), *VIOLATION_COLS)

    parts = [v.violations(df, keep)]

    if xs.get("unique"):
        from .operators.uniqueness import uniqueness_violations
        parts.append(pad(uniqueness_violations(df, xs["unique"], keep)))

    for ref in xs.get("referential", []):
        from .operators.referential import referential_violations
        table = ref["ref"]["table"]
        if tables is None or table not in tables:
            raise ValueError(f"x-spark referential check needs table "
                             f"{table!r} in `tables`")
        parts.append(pad(referential_violations(
            df, ref["column"], tables[table], ref["ref"]["key"], keep)))

    if "stats" in xs:
        from .operators.stats import stats_violations
        parts.append(pad(stats_violations(df, xs["stats"])))

    if "drift" in xs:
        # table scope or, with "by", per partition (north_star:
        # "distribution-drift checks comparing per-partition
        # histograms/KS statistics against a baseline snapshot"): one
        # lazy scorer either way, one violation row per tripped
        # (partition, column, statistic)
        from .operators.drift import check_against_baseline
        d = xs["drift"]
        parts.append(pad(check_against_baseline(
            df, d["baseline"],
            numeric={c: tuple(b)
                     for c, b in (d.get("numeric") or {}).items()},
            categorical=d.get("categorical") or (),
            # `is None`, not dict-default: a present-but-JSON-null key
            # also means "use the default" (0.0 is a legitimate max_ks)
            max_ks=0.1 if d.get("max_ks") is None else d["max_ks"],
            max_l1=d.get("max_l1"), by=d.get("by"))))

    # pixel checks: one decode per tier (module docstring), and one
    # projection per decode emits every violation kind — a union of
    # per-kind filters would re-execute the decode once per branch
    pix_tier = None
    if "pixel_invariant" in xs:
        from .operators.quality import pixel_invariant_struct
        pix_cfg = xs["pixel_invariant"] or {}
        pix_struct = pixel_invariant_struct(pix_cfg.get("min_psnr", 40.0))
        pix_tier = pix_cfg.get("decode", "auto")
        if pix_tier == "auto":
            pix_tier = "real" if "phash_integrity" in xs else "stub"
    if pix_tier == "stub":
        from .operators.multimodal import decode_images
        parts.append(pad(_violation_rows(decode_images(df), [pix_struct],
                                         keep)))
    real_psnr = pix_tier == "real"
    phash = "phash_integrity" in xs
    luma = "image_quality_decoded" in xs
    if real_psnr or phash or luma:
        from .operators.multimodal import decode_pixels
        structs = [pix_struct] if real_psnr else []
        if phash:
            # undecodable rows have a NULL hamming: they are the
            # pixel_invariant's finding, not a phash mismatch
            maxh = (xs["phash_integrity"] or {}).get("max_hamming", 0)
            hamming = sql.col("hamming")
            structs.append(sql.when(hamming > maxh, _vrow(
                "phashIntegrity", json_path_join("$", "phash"),
                "x-spark/phash_integrity",
                sql.concat("stored phash differs from recomputed pixel "
                           "hash by ", hamming.cast("string"), " bits"),
                sql.col("stored_phash"))))
        if luma:
            from .operators.quality import luma_quality_structs
            structs += luma_quality_structs(xs["image_quality_decoded"])
        # the decode already emits image_id and fmt
        carry = [c for c in keep if c not in ("image_id", "fmt")]
        if real_psnr:
            carry += [c for c in ("w", "h") if c not in carry]
        dec = decode_pixels(df, psnr=real_psnr, phash=phash, luma=luma,
                            carry=tuple(carry))
        parts.append(pad(_violation_rows(dec, structs, keep)))

    if "near_dup_phash" in xs:
        # dataset-level assertion: at most max_pairs near-duplicate
        # images by phash hamming <= max_hamming (one aggregate
        # violation row, mirroring the stats assertions)
        from .operators.dedup import phash_near_duplicates
        cfg = xs["near_dup_phash"] or {}
        maxh = cfg.get("max_hamming", 3)
        maxp = cfg.get("max_pairs", 0)
        pairs = phash_near_duplicates(df, "image_id", "phash",
                                      max_hamming=maxh)
        n = sql.col("_n")
        parts.append(pad(_violation_rows(
            pairs.agg(F.count(F.lit(1)).alias("_n")),
            [sql.when(n > maxp, _vrow(
                "nearDup:phash", json_path_join("$", "phash"),
                "x-spark/near_dup_phash",
                sql.concat(n.cast("string"),
                           f" near-duplicate image pairs at hamming <= "
                           f"{maxh} (allowed {maxp})"), n))])))

    if "repetition" in xs:
        # Gopher-style repetition thresholds as per-row violations
        # (operators/repetition.py: zero-shuffle sorted-run fold)
        from .operators.repetition import (dup_ngram_char_frac,
                                           top_ngram_char_frac)
        cfg = xs["repetition"] or {}
        col = cfg.get("column", "text")
        max_top = {int(k): float(v)
                   for k, v in (cfg.get("max_top") or {}).items()}
        max_dup = {int(k): float(v)
                   for k, v in (cfg.get("max_dup") or {}).items()}
        if not max_top and not max_dup:    # Gopher Table A1 defaults
            max_top = {2: 0.20, 3: 0.18, 4: 0.16}
            max_dup = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11,
                       10: 0.10}
        t = sql.ref(col)
        fracs = [("top", n, lim, top_ngram_char_frac(t, n))
                 for n, lim in sorted(max_top.items())]
        fracs += [("dup", n, lim, dup_ngram_char_frac(t, n))
                  for n, lim in sorted(max_dup.items())]
        scored = df.select(*map(sql.ref, dict.fromkeys(keep)),
                           *[c.alias(f"_{kind}{n}")
                             for kind, n, _, c in fracs])
        structs = []
        for kind, n, lim, _ in fracs:
            frac = sql.format_string("%.6f", sql.col(f"_{kind}{n}"))
            structs.append(sql.when(sql.col(f"_{kind}{n}") > lim, _vrow(
                f"repetition:{kind}{n}", json_path_join("$", col),
                f"x-spark/repetition/{kind}_{n}gram",
                sql.concat(f"{kind} {n}-gram char fraction ", frac,
                           f" exceeds {lim}"), frac)))
        parts.append(pad(_violation_rows(scored, structs, keep)))

    if "pii" in xs:
        # PII budget per row (operators/pii.py: zero-shuffle regexps)
        from .operators.pii import PII_PATTERNS, pii_counts
        cfg = xs["pii"] or {}
        col = cfg.get("column", "text")
        max_hits = cfg.get("max_hits", 0)
        c = pii_counts(sql.ref(col))
        total = sum((c.getField(f"n_{n}") for n in PII_PATTERNS),
                    F.lit(0).cast("long"))
        n = sql.col("_n")
        counted = df.select(*map(sql.ref, keep), total.alias("_n"))
        parts.append(pad(_violation_rows(counted, [sql.when(
            n > max_hits, _vrow(
                "pii", json_path_join("$", col), "x-spark/pii",
                sql.concat(n.cast("string"),
                           f" PII matches exceed allowed {max_hits}"),
                n))], keep)))

    if "image_quality" in xs:
        # metadata-tier image quality (operators/quality.py): aspect /
        # pixel-count / payload-size bands, pure Columns on the same
        # narrow scan as the row keywords — zero extra passes
        from .operators.quality import image_quality_violations
        parts.append(pad(image_quality_violations(df, xs["image_quality"],
                                                  keep)))

    if "alignment" in xs:
        # caption-image embedding alignment (CLIP-score seam): one
        # codegen'd zip_with/aggregate cosine per row, no shuffle
        from .operators.quality import alignment_violations
        parts.append(pad(alignment_violations(df, xs["alignment"], keep)))

    if "contamination" in xs:
        # benchmark decontamination as per-row violations
        # (operators/contamination.py: broadcast gram join)
        from .operators.contamination import ngram_contamination
        cfg = xs["contamination"]
        ref_name = cfg["ref_table"]
        if tables is None or ref_name not in tables:
            raise ValueError(f"x-spark contamination check needs table "
                             f"{ref_name!r} in `tables`")
        if not keep:
            raise ValueError("x-spark contamination check needs id_cols "
                             "(violations are reported per document id)")
        col = cfg.get("column", "text")
        max_frac = cfg.get("max_frac", 0.0)
        sc = ngram_contamination(
            df, tables[ref_name], id_col=keep[0], text_col=col,
            ref_text_col=cfg.get("ref_column", col),
            n=cfg.get("n", 13), on_hash=cfg.get("on_hash", True))
        frac = sql.col("contaminated_frac")
        parts.append(pad(_violation_rows(sc, [sql.when(frac > max_frac, _vrow(
            "contamination", json_path_join("$", col),
            "x-spark/contamination",
            sql.concat(sql.col("n_hit").cast("string"), " of ",
                       sql.col("n_grams").cast("string"),
                       f" {cfg.get('n', 13)}-grams appear in {ref_name} "
                       f"(allowed frac {max_frac})"),
            sql.format_string("%.6f", frac)))], keep[:1])))

    out = parts[0].select(*map(sql.ref, keep), *VIOLATION_COLS)
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

