"""Image-metadata quality + caption-image alignment checks.

Two dataset checks a 10^12-row image+caption curation pipeline runs
constantly (LAION/DataComp-style filters), both pure native Column
expressions — no UDFs, no shuffle, one narrow projection each:

- :func:`image_quality_violations` — **metadata tier**: aspect-ratio
  bounds, pixel-count bounds, absolute payload-size bounds and a
  bytes-per-pixel anomaly band, all computed from the stored
  ``(w, h, bytes)`` columns.  Rows whose dimensions are non-positive or
  NULL are skipped for the geometry checks (those already fail the
  row-level ``minimum``/``required`` keywords — double-reporting the
  same defect under two keywords would double-count in manifests).
- :func:`alignment_violations` — the CLIP-score seam: cosine between a
  per-row image embedding and caption embedding (``zip_with`` +
  ``aggregate``, JVM codegen'd), flagged when below ``min_cosine``.
  A missing / zero-norm vector on either side is its own violation
  (``alignment:missing``) — a row that *cannot* be scored must not
  silently pass a threshold check.  A production deployment swaps the
  stored embeddings for real CLIP encoder output; the check itself is
  encoder-agnostic.

Reference analogue: these extend the same violation-row contract as
jsonschema's ValidationError stream (reference
jsonschema/exceptions.py:28 `ValidationError`) to dataset-scope image
checks the reference has no analogue for (SURVEY.md brief mandate).

Float-formatting note: messages embed dimensions as integers
(``"20000x16"``), never formatted ratios — Java's ``format_string``
rounds half-up while C printf rounds half-even, and w/h ratios with
power-of-two denominators land exactly on 5-tails (1/32 = 0.03125), so
a formatted ratio could hash-mismatch a SQL oracle.  Cosines are
formatted to 6 places only in messages, never compared.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compiler import sql
from ..compiler.context import json_path_join
from ..validator import _violation_rows, _vrow


def image_quality_violations(df: DataFrame, cfg: dict,
                             id_cols: Sequence[str] = ()) -> DataFrame:
    """Metadata-tier image quality -> per-row violation rows.

    ``cfg`` keys (all optional, at least one required — enforced by
    spec._check_x_spark):

    - ``min_aspect`` / ``max_aspect``: bounds on w/h (floats).  Only
      rows with w > 0 AND h > 0 are evaluated.
    - ``min_pixels`` / ``max_pixels``: bounds on w*h.
    - ``min_bytes`` / ``max_bytes``: bounds on the payload's absolute
      octet length (catches truncated / absurdly padded files).
    - ``min_bytes_per_pixel`` / ``max_bytes_per_pixel``: bounds on
      octet_length(bytes) / (w*h) — the compression-anomaly band (a
      4096x4096 "jpeg" of 300 bytes is not a photograph).
    - ``w_col`` / ``h_col`` / ``bytes_col``: column names (default
      ``w`` / ``h`` / ``bytes``).

    Everything is a codegen'd Column over the narrow (w, h,
    length(bytes)) projection — at 10^12 rows this rides the same scan
    as the row keywords; ``bytes`` itself is never shipped anywhere
    (only its length is read, which parquet can answer from page
    metadata without decompressing the value... in practice the column
    is read, but never shuffled)."""
    w_col, bytes_col = cfg.get("w_col", "w"), cfg.get("bytes_col", "bytes")
    narrow = df.select(*map(sql.ref, dict.fromkeys(id_cols)),
                       sql.ref(w_col).cast("double").alias("_w"),
                       sql.ref(cfg.get("h_col", "h")).cast("double")
                       .alias("_h"),
                       F.length(sql.ref(bytes_col)).cast("double")
                       .alias("_blen"))
    w, h, blen = sql.col("_w"), sql.col("_h"), sql.col("_blen")
    w_path, bytes_path = (json_path_join("$", w_col),
                          json_path_join("$", bytes_col))
    geom_ok = w.isNotNull() & h.isNotNull() & (w > 0) & (h > 0)
    # try_divide: the bands gate on geom_ok, but subexpression
    # elimination may evaluate a shared division before the gate, and
    # under ANSI a plain division by h = 0 raises there
    aspect = sql.try_divide(w, h)
    pixels = w * h
    bpp = sql.try_divide(blen, pixels)
    dims = sql.concat(sql.coalesce(w.cast("long").cast("string"), "?"), "x",
                      sql.coalesce(h.cast("long").cast("string"), "?"))

    def _band_text(lo, hi):
        if lo is not None and hi is not None:
            return f"outside [{lo}, {hi}]"
        return f"below {lo}" if lo is not None else f"above {hi}"

    def _banded(lo, hi, value):
        bad = sql.lit(False)
        if lo is not None:
            bad = bad | (value < lo)
        if hi is not None:
            bad = bad | (value > hi)
        return bad

    structs = []
    lo, hi = cfg.get("min_aspect"), cfg.get("max_aspect")
    if lo is not None or hi is not None:
        structs.append(sql.when(geom_ok & _banded(lo, hi, aspect), _vrow(
            "imageQuality:aspect", w_path, "x-spark/image_quality/aspect",
            sql.concat("aspect ratio of ", dims, f" {_band_text(lo, hi)}"),
            dims)))
    lo, hi = cfg.get("min_pixels"), cfg.get("max_pixels")
    if lo is not None or hi is not None:
        structs.append(sql.when(geom_ok & _banded(lo, hi, pixels), _vrow(
            "imageQuality:pixels", w_path, "x-spark/image_quality/pixels",
            sql.concat("pixel count of ", dims, f" {_band_text(lo, hi)}"),
            pixels.cast("long").cast("string"))))
    lo, hi = cfg.get("min_bytes"), cfg.get("max_bytes")
    if lo is not None or hi is not None:
        structs.append(sql.when(
            blen.isNotNull() & _banded(lo, hi, blen), _vrow(
                "imageQuality:bytes", bytes_path,
                "x-spark/image_quality/bytes",
                sql.concat("payload of ", blen.cast("long").cast("string"),
                           f" bytes {_band_text(lo, hi)}"),
                blen.cast("long").cast("string"))))
    lo, hi = (cfg.get("min_bytes_per_pixel"),
              cfg.get("max_bytes_per_pixel"))
    if lo is not None or hi is not None:
        structs.append(sql.when(
            geom_ok & blen.isNotNull() & _banded(lo, hi, bpp), _vrow(
                "imageQuality:bytesPerPixel", bytes_path,
                "x-spark/image_quality/bytes_per_pixel",
                sql.concat("payload bytes ", blen.cast("long").cast("string"),
                           " for ", dims,
                           f" pixels, ratio {_band_text(lo, hi)}"),
                blen.cast("long").cast("string"))))
    if not structs:           # spec meta-check rejects this upstream
        raise ValueError("image_quality needs at least one threshold")
    return _violation_rows(narrow, structs, id_cols)


def luma_quality_structs(cfg: dict) -> list:
    """Violation structs for the DECODED-tier image-quality block
    (``image_quality_decoded``: min_luma / max_luma mean-brightness
    band, min_contrast luma-std floor) over any frame carrying
    ``(decode_ok, luma_mean, luma_std)``, such as
    ``multimodal.decode_pixels(luma=True)``.  Gated on ``decode_ok``:
    undecodable rows are the pixel-invariant's finding (and their NaN
    stats would otherwise compare as greater-than-everything under
    Spark's NaN ordering)."""
    ok = sql.col("decode_ok")
    mean, std = sql.col("luma_mean"), sql.col("luma_std")
    structs = []
    lo, hi = cfg.get("min_luma"), cfg.get("max_luma")
    if lo is not None or hi is not None:
        bad = sql.lit(False)
        if lo is not None:
            bad = bad | (mean < lo)
        if hi is not None:
            bad = bad | (mean > hi)
        band = (f"outside [{lo}, {hi}]" if lo is not None
                and hi is not None
                else (f"below {lo}" if lo is not None else f"above {hi}"))
        structs.append(sql.when(ok & bad, _vrow(
            "lumaQuality:brightness", json_path_join("$", "bytes"),
            "x-spark/image_quality_decoded/luma",
            sql.concat("decoded mean luma ", sql.format_string("%.2f", mean),
                       f" {band}"),
            sql.format_string("%.4f", mean))))
    mc = cfg.get("min_contrast")
    if mc is not None:
        structs.append(sql.when(ok & (std < mc), _vrow(
            "lumaQuality:contrast", json_path_join("$", "bytes"),
            "x-spark/image_quality_decoded/contrast",
            sql.concat("decoded luma std ", sql.format_string("%.2f", std),
                       f" below {mc} (flat/solid image)"),
            sql.format_string("%.4f", std))))
    if not structs:           # spec meta-check rejects this upstream
        raise ValueError("image_quality_decoded needs at least one "
                         "threshold")
    return structs


def pixel_invariant_struct(min_psnr: float) -> sql.Expr:
    """The pixelInvariant violation struct over any frame carrying
    ``(decode_ok, psnr, decoded_w, decoded_h, w, h)`` — the output of
    either decode tier: ``multimodal.decode_images`` (a projection that
    keeps every table column) or ``decode_pixels(psnr=True)`` with
    ``w, h`` carried through."""
    psnr = sql.col("psnr")
    pix_bad = (~sql.col("decode_ok") | (psnr < min_psnr)
               | (sql.col("decoded_w") != sql.col("w"))
               | (sql.col("decoded_h") != sql.col("h")))
    return sql.when(pix_bad, _vrow(
        "pixelInvariant", json_path_join("$", "bytes"), "x-spark/pixel/psnr",
        sql.concat("decoded payload fails PSNR/metadata invariant (psnr=",
                   sql.round(psnr, 2).cast("string"), ")"),
        psnr.cast("string")))


def cosine_columns(a: Column, b: Column) -> Column:
    """Cosine similarity between two array columns as one codegen'd
    expression (cast to double first — float32 accumulation drifts).
    NULL if either side is NULL, zero-norm, or NaN/Inf-poisoned — a
    NaN would otherwise slip through the threshold comparison
    unflagged: Spark orders NaN greater than every double, so
    ``NaN > 0`` is TRUE and ``NaN < min_cosine`` is FALSE.  The guard
    sits on the FINAL ratio: Inf inputs give na=Inf (not NaN), and
    Inf/Inf only becomes NaN after the division (both found by review;
    pinned by NaN+Inf parity tests against the arrow path)."""
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    c = dot / (na * nb)
    return F.when(a.isNotNull() & b.isNotNull()
                  & (na > 0) & (nb > 0) & ~F.isnan(c),
                  c)


def arrow_cosine(df: DataFrame, img_c: str, txt_c: str,
                 id_cols: Sequence[str] = ()) -> DataFrame:
    """Batch cosine via ``mapInArrow``: the list columns' FLAT Arrow
    buffers reshape zero-copy into (n, dim) matrices and one BLAS-class
    einsum scores the whole batch — measured 2x the interpreted-HOF
    fold at dim 768 (Spark's higher-order lambdas evaluate per
    ELEMENT; at CLIP dims that is ~1.7k rows/s/core vs ~3.5k here, see
    MICROBENCH.md).  Unscorable rows (either side NULL, zero-norm, or
    length-mismatched) come back as NULL cosine.  Output:
    ``(*id_cols, cos double)``."""
    import numpy as np
    import pyarrow as pa

    n_ids = len(id_cols)

    def run(batches):
        for rb in batches:
            u, v = rb.column(n_ids), rb.column(n_ids + 1)

            def parts(col):
                if isinstance(col, pa.ChunkedArray):
                    col = col.combine_chunks()
                # offsets are reinterpreted as int32 below — a
                # large_list batch (int64 offsets) would be silently
                # misread as garbage, so refuse it loudly (ADVICE-r5)
                if pa.types.is_large_list(col.type) or not (
                        pa.types.is_list(col.type)
                        and col.type.value_type == pa.float32()):
                    raise TypeError(
                        "arrow_cosine expects list<float32> columns; "
                        f"got {col.type} — large_list (int64 offsets) "
                        "or a different child type would be silently "
                        "misread; disable spark.sql.execution.arrow."
                        "useLargeVarTypes or widen this reader")
                # normalize BOTH offset windows: a sliced batch's list
                # offsets need not start at 0, and the child values
                # array can itself carry an offset after slicing
                offs = np.frombuffer(col.buffers()[1], dtype=np.int32,
                                     count=len(col) + 1 + col.offset)
                offs = offs[col.offset:]
                vals = col.values
                flat = np.frombuffer(
                    vals.buffers()[1], dtype=np.float32,
                    count=vals.offset + len(vals))[vals.offset:]
                valid = np.asarray(col.is_valid())
                # element-level nulls inside a vector make the row
                # unscorable (the native zip_with fold returns NULL
                # there too) — gather the child validity bitmap
                evalid = None
                vb = vals.buffers()[0]
                if vb is not None and vals.null_count:
                    bits = np.unpackbits(
                        np.frombuffer(vb, dtype=np.uint8),
                        bitorder="little")
                    evalid = bits[vals.offset:
                                  vals.offset + len(vals)].astype(bool)
                return offs, flat, valid, evalid

            ou, fu, vu, eu = parts(u)
            ov, fv, vv, ev = parts(v)
            lu, lv = np.diff(ou), np.diff(ov)
            n = len(lu)
            cos = np.full(n, np.nan)
            good = vu & vv & (lu == lv) & (lu > 0)
            # rectangular gather per distinct dim (one group in
            # practice — embeddings are fixed-width)
            for d in np.unique(lu[good]):
                idx = np.where(good & (lu == d))[0]
                gi = ou[idx][:, None] + np.arange(d)
                gj = ov[idx][:, None] + np.arange(d)
                if eu is not None or ev is not None:
                    row_ok = np.ones(len(idx), dtype=bool)
                    if eu is not None:
                        row_ok &= eu[gi].all(axis=1)
                    if ev is not None:
                        row_ok &= ev[gj].all(axis=1)
                    idx, gi, gj = idx[row_ok], gi[row_ok], gj[row_ok]
                U = fu[gi].astype(np.float64)
                V = fv[gj].astype(np.float64)
                dot = np.einsum("ij,ij->i", U, V)
                nu = np.sqrt(np.einsum("ij,ij->i", U, U))
                nv = np.sqrt(np.einsum("ij,ij->i", V, V))
                den = nu * nv
                cos[idx] = np.where(den > 0,
                                    dot / np.where(den == 0, 1, den),
                                    np.nan)
            arrays = [rb.column(i) for i in range(n_ids)]
            arrays.append(pa.array(cos, mask=np.isnan(cos)))
            yield pa.RecordBatch.from_arrays(arrays,
                                            names=[*id_cols, "cos"])

    id_schema = "".join(
        f"{c} {df.schema[c].dataType.simpleString()}, " for c in id_cols)
    return df.select(*id_cols, img_c, txt_c).mapInArrow(
        run, schema=id_schema + "cos double")


def alignment_violations(df: DataFrame, cfg: dict,
                         id_cols: Sequence[str] = ()) -> DataFrame:
    """Caption-image embedding alignment (CLIP-score seam) -> per-row
    violation rows.

    ``cfg``: ``image_col`` / ``text_col`` (required: the two
    ``array<float>`` embedding columns), ``min_cosine`` (default 0.5),
    ``method`` — ``"native"`` (default; one codegen'd
    zip_with/aggregate expression, zero Python nodes, streams
    anywhere) or ``"arrow"`` (:func:`arrow_cosine`, the BLAS batch
    path — 2x faster at CLIP dims where the interpreted per-element
    HOF fold dominates; identical violation sets, asserted in tests).

    Two violation kinds:

    - ``alignment:cosine`` — the pair scored below ``min_cosine``.
    - ``alignment:missing`` — either embedding NULL or zero-norm (or,
      arrow path, length-mismatched); an unscorable row must surface,
      not silently pass.
    """
    img_c, txt_c = cfg["image_col"], cfg["text_col"]
    min_cos = cfg.get("min_cosine", 0.5)
    if cfg.get("method", "native") == "arrow":
        scored = arrow_cosine(df, img_c, txt_c, id_cols)
    else:
        scored = df.select(*map(sql.ref, dict.fromkeys(id_cols)),
                           cosine_columns(sql.ref(img_c), sql.ref(txt_c))
                           .alias("cos"))
    cos = sql.col("cos")
    structs = [
        sql.when(cos.isNull(), _vrow(
            "alignment:missing", json_path_join("$", txt_c),
            "x-spark/alignment",
            "image or caption embedding missing or zero-norm — "
            "pair cannot be scored", None)),
        sql.when(cos < min_cos, _vrow(
            "alignment:cosine", json_path_join("$", txt_c),
            "x-spark/alignment",
            sql.concat("caption-image cosine ",
                       sql.format_string("%.6f", cos), f" below {min_cos}"),
            sql.format_string("%.6f", cos))),
    ]
    return _violation_rows(scored, structs, id_cols)
