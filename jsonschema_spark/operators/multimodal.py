"""Multimodal (image/audio/video) column plumbing.

Payloads are opaque ``binary`` columns with typed metadata, as mandated
by the north-star input shape.  Images have two decode tiers, and both
emit ``image_id, fmt, decode_ok, decoded_w, decoded_h``:

- ``decode_images`` — the fast stub: one projection of native Columns
  (no Python worker) that parses the synthetic header written by
  ``sources.images._payload`` (for the 8M-row benchmark table whose
  payloads are compact placeholders).  Its "pixels" are the
  deterministic byte body, so PSNR is exact (99) for intact payloads
  and degrades for truncated ones;
- ``decode_pixels`` — the REAL codec tier, ONE mapInPandas pass over
  capped Arrow batches: ``decode_blob`` decodes
  Windows BMP (struct+numpy), PNG (pure-python, zlib is stdlib),
  baseline JPEG (``functions/jpeg``) and WebP-lossless
  (``functions/webp``), with Pillow as the fallback when importable.
  The caller asks for what to compute from the pixels: ``psnr``
  against the per-id reference image (``expected_pixels``), the
  recomputed ``phash`` vs the stored column, and ``luma`` quality
  stats.  Every real-codec check reads this one pass, so decoding
  never runs twice for one input.

The per-row invariant from BASELINE.json input_hint (decoded-pixel
PSNR >= 40 dB vs the reference decode + caption equality) is
``quality.pixel_invariant_struct`` over either tier's output, and
``caption_check`` below.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _codec_available() -> bool:
    try:
        import PIL.Image  # noqa: F401
        return True
    except ImportError:
        return False


def _carry_schema(df: DataFrame, schema: str, carry) -> str:
    reserved = {f.split()[0] for f in schema.split(", ")} | {"bytes"}
    clash = [c for c in carry if c in reserved]
    if clash:
        raise ValueError(
            f"carry column(s) {clash} collide with decode input/output "
            f"names {sorted(reserved)}; rename before decoding")
    return schema + "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in carry)


def decode_images(df: DataFrame) -> DataFrame:
    """Stub decode: `df` plus ``(decode_ok, decoded_w, decoded_h, psnr)``
    parsed from the 16-byte synthetic header (magic ``IMG0`` | w as 4
    hex digits | h as 4 hex digits | checksum) of ``bytes``.  A plain
    projection, so every column of `df` rides along and the per-row
    invariant needs no join back (image_id is not guaranteed unique).

    A NULL, short (< 16 bytes) or wrong-magic payload decodes as not OK
    with dims 0 and psnr 0.0.  A header whose w or h field is not
    exactly 4 hex digits is not OK with dims 0, and its psnr is still
    scored as w = h = 0.  The stub's "pixels" are the body bytes: a
    body of at least ``E = min(240, w*h // 65536 + 16)`` bytes is exact
    (psnr 99.0); each missing byte counts as a max error (255), giving
    ``min(99, 10*log10(255^2 / mse))`` with ``mse = 255^2 * missing /
    E``."""
    b = F.col("bytes")

    def ascii4(pos: int) -> Column:
        return F.substring(b, pos, 4).cast("string")

    n = F.octet_length(b)
    header = F.coalesce((n >= 16) & (ascii4(1) == "IMG0"), F.lit(False))
    ok = header & ascii4(5).rlike("^[0-9A-Fa-f]{4}$") \
        & ascii4(9).rlike("^[0-9A-Fa-f]{4}$")
    w, h = (F.when(ok, F.conv(ascii4(pos), 16, 10).cast("int"))
            .otherwise(0) for pos in (5, 9))
    expected = F.least(F.lit(240),
                       F.shiftright(w.cast("long") * h, 16) + 16)
    missing = expected - (n - 16)
    # keep this operation order (mse = 255^2 * missing / E, then
    # 10*log10(255^2 / mse)): reordering it changes psnr's last bits
    psnr = (F.when(~header, 0.0).when(missing <= 0, 99.0)
            .otherwise(F.least(F.lit(99.0), 10 * F.log10(
                65025.0 / (65025.0 * missing / expected)))))
    return df.withColumns({"decode_ok": ok, "decoded_w": w,
                           "decoded_h": h, "psnr": psnr})


# ------------------------------------------------- real BMP codec ---------
#
# Windows BMP v3 (BITMAPINFOHEADER, 24-bit BGR, bottom-up, rows padded
# to 4 bytes) is decodable with struct+numpy alone — a REAL standard
# format, viewable by any image tool, with no library dependency.  This
# gives the pixel-invariant pipeline one genuinely decoded format;
# PNG (below), baseline JPEG (functions/jpeg) and WebP-lossless
# (functions/webp) complete the built-in set — no third-party
# dependency anywhere in the decode path.

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def encode_png(pixels: np.ndarray, compress_level: int = 6) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG file bytes (8-bit truecolor,
    non-interlaced, filter type 0 per scanline, zlib-compressed IDAT
    with correct CRCs).  A real, spec-conformant encoder — any PNG
    reader decodes it; no Pillow involved."""
    import zlib
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = pixels.reshape(h, w * 3)          # filter byte 0 + row
    idat = zlib.compress(raw.tobytes(), compress_level)
    return (PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat) + _png_chunk(b"IEND", b""))


def _png_unfilter(raw: np.ndarray, h: int, w: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters (types 0-4).  Up/None vectorize whole
    rows; Sub is a per-channel cumulative sum (uint8 wraparound makes
    cumsum exact); Average/Paeth depend nonlinearly on the left pixel,
    so they walk pixels within the row with numpy ops per step."""
    stride = 1 + w * bpp
    rows = raw.reshape(h, stride)
    out = np.zeros((h, w * bpp), dtype=np.uint8)
    prev = np.zeros(w * bpp, dtype=np.uint8)
    for y in range(h):
        ftype = int(rows[y, 0])
        cur = rows[y, 1:].copy()
        if ftype == 0:
            pass
        elif ftype == 1:                       # Sub
            cur = np.cumsum(cur.reshape(w, bpp), axis=0,
                            dtype=np.uint32).astype(np.uint8).reshape(-1)
        elif ftype == 2:                       # Up
            cur += prev
        elif ftype == 3:                       # Average
            cur = cur.reshape(w, bpp)
            pv = prev.reshape(w, bpp).astype(np.uint16)
            left = np.zeros(bpp, dtype=np.uint16)
            for x in range(w):
                cur[x] = (cur[x] + ((left + pv[x]) >> 1)).astype(np.uint8)
                left = cur[x].astype(np.uint16)
            cur = cur.reshape(-1)
        elif ftype == 4:                       # Paeth
            cur = cur.reshape(w, bpp)
            pv = prev.reshape(w, bpp).astype(np.int16)
            left = np.zeros(bpp, dtype=np.int16)
            ul = np.zeros(bpp, dtype=np.int16)
            for x in range(w):
                p = left + pv[x] - ul
                pa, pb, pc = (np.abs(p - left), np.abs(p - pv[x]),
                              np.abs(p - ul))
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, pv[x], ul))
                cur[x] = (cur[x] + pred).astype(np.uint8)
                left = cur[x].astype(np.int16)
                ul = pv[x]
            cur = cur.reshape(-1)
        else:
            raise ValueError(f"bad filter type {ftype}")
        out[y] = cur
        prev = cur
    return out


def decode_png(blob: bytes):
    """PNG file bytes -> (h, w, 3) uint8 RGB, or None if malformed.

    Pure-python/numpy: signature + chunk walk with CRC verification,
    zlib-inflated IDAT, all five scanline filters.  8-bit color types
    0 (grey, broadcast to RGB), 2 (RGB), and 6 (RGBA, alpha dropped);
    interlaced and paletted images return None (out of the typed
    pipeline's data model, documented)."""
    import zlib
    try:
        if blob[:8] != PNG_SIG:
            return None
        pos, ihdr, idat = 8, None, []
        n = len(blob)
        while pos + 8 <= n:
            (length,) = struct.unpack_from(">I", blob, pos)
            tag = blob[pos + 4:pos + 8]
            data = blob[pos + 8:pos + 8 + length]
            if len(data) < length:
                return None                     # truncated chunk
            (crc,) = struct.unpack_from(">I", blob, pos + 8 + length)
            if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
                return None                     # corrupt chunk
            if tag == b"IHDR":
                ihdr = data
            elif tag == b"IDAT":
                idat.append(data)
            elif tag == b"IEND":
                break
            pos += 12 + length
        else:
            return None                         # no IEND reached
        if ihdr is None or not idat:
            return None
        w, h, depth, ctype, comp, filt, interlace = struct.unpack(
            ">IIBBBBB", ihdr)
        if depth != 8 or comp != 0 or filt != 0 or interlace != 0 \
                or ctype not in (0, 2, 6) or w <= 0 or h <= 0:
            return None
        bpp = {0: 1, 2: 3, 6: 4}[ctype]
        raw = np.frombuffer(zlib.decompress(b"".join(idat)),
                            dtype=np.uint8)
        if raw.size != h * (1 + w * bpp):
            return None
        px = _png_unfilter(raw, h, w, bpp).reshape(h, w, bpp)
        if ctype == 0:
            return np.repeat(px, 3, axis=2)
        if ctype == 6:
            return px[:, :, :3].copy()
        return px
    except (struct.error, ValueError, zlib.error):
        return None


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> BMP file bytes."""
    h, w, _ = pixels.shape
    row = w * 3
    pad = (-row) % 4
    body_len = (row + pad) * h
    header = struct.pack("<2sIHHI", b"BM", 54 + body_len, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, body_len,
                       2835, 2835, 0, 0)
    bgr = pixels[::-1, :, ::-1]                    # bottom-up, RGB->BGR
    if pad:
        rows = np.zeros((h, row + pad), dtype=np.uint8)
        rows[:, :row] = bgr.reshape(h, row)
        body = rows.tobytes()
    else:
        body = bgr.tobytes()
    return header + info + body


def decode_bmp(blob: bytes):
    """BMP file bytes -> (h, w, 3) uint8 RGB, or None if malformed."""
    try:
        if blob[:2] != b"BM" or len(blob) < 54:
            return None
        offset = struct.unpack_from("<I", blob, 10)[0]
        size, w, h, planes, bpp = struct.unpack_from("<IiiHH", blob, 14)
        if size != 40 or bpp != 24 or w <= 0 or h == 0:
            return None
        flip = h > 0
        h = abs(h)
        row = w * 3
        stride = row + ((-row) % 4)
        need = offset + stride * h
        if len(blob) < need:
            return None
        body = np.frombuffer(blob, dtype=np.uint8,
                             count=stride * h, offset=offset)
        bgr = body.reshape(h, stride)[:, :row].reshape(h, w, 3)
        rgb = bgr[:, :, ::-1]
        return rgb[::-1] if flip else rgb
    except (struct.error, ValueError):
        return None


def expected_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """The deterministic reference image for `image_id`: a seeded
    gradient+hash pattern — what the reference decode of an intact
    payload must reproduce (the per-row allclose/PSNR invariant's
    ground truth)."""
    seed = int.from_bytes(
        __import__("hashlib").md5(image_id.encode()).digest()[:4], "big")
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return base


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    if a.shape != b.shape:
        return 0.0
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else float(
        min(99.0, 10 * np.log10(255.0 ** 2 / mse)))


def _reference_psnr(image_id, px) -> float:
    """PSNR of decoded pixels against the id's reference image; 0.0
    for an undecodable payload."""
    if px is None:
        return 0.0
    h, w = px.shape[:2]
    return psnr(px, expected_pixels(str(image_id), w, h))


def decode_blob(blob, use_pil: bool = False):
    """Magic-byte codec dispatch shared by every real-decode pass: BMP,
    PNG, baseline JPEG and WebP-lossless; anything else tries Pillow
    when importable.  Returns an (h, w, 3) uint8 array or None on any
    structural failure.

    JPEG and WebP dispatch to the NATIVE fast path (libjpeg shim /
    libwebp via ctypes, functions/native_codecs) when available —
    same accept/reject envelope and bit-exact (WebP) / PSNR-equivalent
    (JPEG IDCT rounding) pixels vs the built-in pure-python codecs,
    which remain the fallback and the cross-certification oracle
    (differential tests in tests/test_native_codecs.py).  Disable with
    JSONSCHEMA_SPARK_NATIVE=0."""
    if blob is None:
        return None
    if blob[:2] == b"BM":
        return decode_bmp(bytes(blob))
    if blob[:8] == PNG_SIG:
        return decode_png(bytes(blob))
    if blob[:2] == b"\xff\xd8":
        from ..functions import native_codecs as nc
        if nc.jpeg_native_available():
            return nc.decode_jpeg_native(bytes(blob))
        from ..functions.jpeg import decode_jpeg
        return decode_jpeg(bytes(blob))
    if blob[:4] == b"RIFF" and blob[12:16] == b"VP8L":
        # lossless WebP only — lossy VP8/VP8X RIFF payloads fall
        # through to the Pillow path below
        from ..functions import native_codecs as nc
        if nc.webp_native_available():
            return nc.decode_webp_native(bytes(blob))
        from ..functions.webp import decode_webp
        return decode_webp(bytes(blob))
    if use_pil:  # pragma: no cover
        import io

        import PIL.Image
        try:
            return np.asarray(
                PIL.Image.open(io.BytesIO(bytes(blob))).convert("RGB"))
        except Exception:
            return None
    return None


_DCT32 = None


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (type-II, norm='ortho')."""
    k = np.arange(n, dtype=np.float64)[:, None]
    i = np.arange(n, dtype=np.float64)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0] *= np.sqrt(0.5)
    return m


def dct_phash(px: np.ndarray) -> int:
    """63-bit DCT perceptual hash of an (h, w, 3) uint8 image — the
    derivation contract for the north-star table's ``phash`` column
    (BASELINE.json input_hint: phash:int64).

    Spec (deterministic, documented so independent implementations
    agree bit-for-bit): Rec.601 grayscale -> nearest-neighbor sample
    to 32x32 (index ``floor(i*dim/32)``) -> orthonormal 2-D DCT-II ->
    top-left 8x8 coefficient block, DC dropped (63 coefficients) ->
    bit j (row-major) set iff coef_j > median(coefs).  Only bits 0..62
    are used, so the result is always a non-negative int64 — it can
    live in the table's ``phash >= 0`` schema unchanged."""
    return dct_phash_batch([px])[0]


_BIT_WEIGHTS = (1 << np.arange(63, dtype=np.uint64))


def dct_phash_batch(imgs) -> list:
    """:func:`dct_phash` over a whole Arrow batch: the per-image
    gray/resample stays per-image (shapes differ), but the 32x32 DCTs
    run as ONE broadcast matmul chain and the median/threshold/bit-pack
    as batched numpy — the per-call numpy dispatch overhead dominated
    tiny matmuls (measured: einsum and np.stack are both traps here —
    40x and 10x slower than the preallocated matmul chain).
    Bit-identical to the documented single-image spec (asserted in
    tests)."""
    global _DCT32
    if not imgs:
        return []
    if _DCT32 is None:
        _DCT32 = _dct_matrix(32)
    # per-image work is ONLY the 32x32 nearest-neighbor sample (two
    # basic-index ops, sample grids memoized per size); gray weighting
    # and the DCTs run once over the whole (B, 32, 32[, 3]) batch
    grids: dict = {}
    s = np.empty((len(imgs), 32, 32, 3), np.uint8)
    for i, px in enumerate(imgs):
        h, w = px.shape[:2]
        if (h, w) not in grids:
            grids[(h, w)] = ((np.arange(32) * h) // 32,
                             (np.arange(32) * w) // 32)
        ys, xs = grids[(h, w)]
        s[i] = px[ys][:, xs]
    g = s[..., 0] * 0.299 + s[..., 1] * 0.587 + s[..., 2] * 0.114
    # two single LARGE dgemms instead of a broadcast matmul (which
    # loops a tiny dgemm per image), and only the 8 DCT rows/cols the
    # hash reads (16x fewer FLOPs): coefs[b] = M8 @ g[b] @ M8.T
    B = len(imgs)
    m8 = _DCT32[:8]                                     # (8, 32)
    t1 = (m8 @ g.transpose(1, 0, 2).reshape(32, B * 32))
    t1 = t1.reshape(8, B, 32).transpose(1, 0, 2)        # (B, 8, 32)
    coefs = (t1.reshape(B * 8, 32) @ m8.T).reshape(B, 64)
    coefs = coefs[:, 1:]                                 # drop DC
    med = np.median(coefs, axis=1, keepdims=True)
    bits = coefs > med                                   # (B, 63)
    return [int(v) for v in (bits * _BIT_WEIGHTS).sum(axis=1)]


def luma_stats(px: np.ndarray) -> tuple:
    """Decoded-tier quality metrics: full-resolution Rec.601 luma mean
    and population std (contrast).  Double math over the whole frame —
    the documented contract the planted-corpus oracle and the numpy
    unit tests both pin."""
    luma = (px[..., 0] * 0.299 + px[..., 1] * 0.587
            + px[..., 2] * 0.114)
    return float(luma.mean()), float(luma.std())


def _batch_luma(pxs, ok_idx) -> tuple:
    means = [float("nan")] * len(pxs)
    stds = [float("nan")] * len(pxs)
    for i in ok_idx:
        m, s = luma_stats(pxs[i])
        means[i], stds[i] = m, s
    return means, stds


def decode_pixels(df: DataFrame, *, psnr: bool = False,
                  phash: bool = False, luma: bool = False,
                  carry: tuple = ()) -> DataFrame:
    """The real-codec decode: ONE mapInPandas pass that calls
    :func:`decode_blob` once per row and emits ``(image_id, fmt,
    decode_ok, decoded_w, decoded_h)`` plus only what was asked for:

    - ``psnr``: PSNR of the decoded pixels against the deterministic
      reference image for the id (:func:`expected_pixels`), 0.0 when
      undecodable;
    - ``phash``: the stored ``phash`` column vs the perceptual hash
      recomputed from the pixels (:func:`dct_phash_batch`, one batched
      DCT per Arrow batch) as ``(stored_phash, computed_phash,
      hamming)``; hamming is NULL when undecodable or stored NULL;
    - ``luma``: full-resolution Rec.601 ``(luma_mean, luma_std)``, NaN
      when undecodable.

    Undecodable rows report ``decoded_w = decoded_h = 0``; callers gate
    on ``decode_ok``.  `carry` columns pass through the decode
    untouched, so per-row invariants need no join back to the source
    (image_id is not guaranteed unique — a join on it would both
    shuffle and cross-match duplicate ids).

    The stored phash travels into Arrow as a STRING: pandas coerces an
    int64 column containing any NULL to float64, which silently loses
    low bits of 63-bit values (> 2^53) and would fabricate mismatches
    on every other row of the batch."""
    schema = ("image_id string, fmt string, decode_ok boolean, "
              "decoded_w int, decoded_h int")
    if psnr:
        schema += ", psnr double"
    if phash:
        schema += ", stored_phash long, computed_phash long, hamming int"
    if luma:
        schema += ", luma_mean double, luma_std double"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        use_pil = _codec_available()
        for pdf in batches:
            pxs = [decode_blob(b, use_pil=use_pil) for b in pdf["bytes"]]
            ok_idx = [i for i, p in enumerate(pxs) if p is not None]
            res = pd.DataFrame({
                "image_id": list(pdf["image_id"]),
                "fmt": list(pdf["fmt"]),
                "decode_ok": [p is not None for p in pxs],
                "decoded_w": [0 if p is None else int(p.shape[1])
                              for p in pxs],
                "decoded_h": [0 if p is None else int(p.shape[0])
                              for p in pxs],
            })
            if psnr:
                res["psnr"] = [_reference_psnr(i, p) for i, p in
                               zip(pdf["image_id"], pxs)]
            if phash:
                comps: list = [None] * len(pxs)
                for i, hsh in zip(ok_idx, dct_phash_batch(
                        [pxs[i] for i in ok_idx])):
                    comps[i] = hsh
                stored = [None if s is None else int(s)
                          for s in pdf["_phash_str"]]
                ham = [None if c is None or s is None
                       else int(bin(c ^ s).count("1"))
                       for c, s in zip(comps, stored)]
                # int-lists containing None become float64 in pandas,
                # truncating 63-bit values — force nullable Int64
                res["stored_phash"] = pd.array(stored, dtype="Int64")
                res["computed_phash"] = pd.array(comps, dtype="Int64")
                res["hamming"] = pd.array(ham, dtype="Int64")
            if luma:
                res["luma_mean"], res["luma_std"] = _batch_luma(pxs, ok_idx)
            for c in carry:
                res[c] = list(pdf[c])
            yield res

    src = [F.col("phash").cast("string").alias("_phash_str")] if phash \
        else []
    return df.select("image_id", "fmt", "bytes", *src, *carry).mapInPandas(
        run, schema=_carry_schema(df, schema, carry))


# ------------------------------------------ video: frame sampling --------
#
# Deterministic container: b'VID0' | uint32 n_frames | n x (uint32 len |
# BMP file bytes).  A real-enough shape for the frame-sample plumbing
# (schema, partitioning, batch sizes, per-frame decode) while staying
# dependency-free; a production deployment swaps decode_video for an
# ffmpeg/pyav-backed iterator with the SAME signature.

def encode_video(frames) -> bytes:
    parts = [b"VID0", struct.pack("<I", len(frames))]
    for px in frames:
        blob = encode_bmp(px)
        parts.append(struct.pack("<I", len(blob)))
        parts.append(blob)
    return b"".join(parts)


def iter_video_frames(blob: bytes):
    """Yield (frame_idx, bmp_bytes) WITHOUT materializing all frames —
    the per-row memory shape frame sampling needs."""
    if blob is None or blob[:4] != b"VID0" or len(blob) < 8:
        return
    (n,) = struct.unpack_from("<I", blob, 4)
    off = 8
    for i in range(n):
        if off + 4 > len(blob):
            return
        (ln,) = struct.unpack_from("<I", blob, off)
        off += 4
        if off + ln > len(blob):
            return
        yield i, blob[off:off + ln]
        off += ln


def sample_frames(df: DataFrame, stride: int,
                  id_col: str = "video_id",
                  bytes_col: str = "bytes") -> DataFrame:
    """Frame sampling (brief: 'frame-sample'): every `stride`-th frame
    of each video payload becomes its own row (video_id, frame_idx,
    frame_bytes, w, h) — one mapInPandas pass, frames decoded lazily
    so a long video never fully materializes per row."""
    if stride < 1:
        raise ValueError("stride must be >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"video_id": [], "frame_idx": [], "frame_bytes": [],
                   "w": [], "h": []}
            for video_id, blob in zip(pdf[id_col], pdf[bytes_col]):
                for i, fb in iter_video_frames(
                        bytes(blob) if blob is not None else None):
                    if i % stride:
                        continue
                    px = decode_bmp(fb)
                    out["video_id"].append(video_id)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(fb)
                    out["w"].append(0 if px is None else px.shape[1])
                    out["h"].append(0 if px is None else px.shape[0])
            yield pd.DataFrame(out)

    return df.select(F.col(id_col).alias("video_id"),
                     F.col(bytes_col).alias(bytes_col)).mapInPandas(
        run, schema="video_id string, frame_idx int, "
                    "frame_bytes binary, w int, h int")


# ---------------------------------------- caption-equality invariant ------

def caption_check(df: DataFrame, expected,
                  caption_col: str = "caption",
                  id_cols: tuple = ("image_id",)) -> DataFrame:
    """The *caption equality* half of the north-rule per-row invariant
    (BASELINE.json input_hint: "decoded-pixel allclose ... + caption
    equality"): violation rows where the table's caption differs from
    the caller-supplied reference-caption expression (NULL-safe
    equality — a NULL caption vs a non-NULL reference is a mismatch).

    `expected` is a Column (e.g. ``sources.images.reference_caption``
    over the generating id), so the whole check is ONE codegen'd narrow
    scan — no UDF, no shuffle, `bytes` pruned."""
    from ..compiler import sql
    from ..compiler.context import json_path_join
    from ..validator import _violation_rows, _vrow

    cap = F.col(caption_col)
    bad = df.filter(~cap.eqNullSafe(expected)).withColumn("_cap", cap)
    text = sql.col("_cap")
    return _violation_rows(bad, [_vrow(
        "captionEquality", json_path_join("$", caption_col),
        "x-spark/caption/equality",
        sql.coalesce(sql.when(text.isNull(),
                              "caption is null, reference is not"),
                     sql.when(sql.length(text) == 0, "caption is empty"),
                     "caption differs from reference"),
        sql.substring(sql.coalesce(text, "<null>"), 1, 64))], id_cols)


# ------------------------------------------------- real WAV codec ---------
#
# RIFF/WAVE PCM (16-bit little-endian) is the third REAL format the
# multimodal tier decodes with struct+numpy alone — audio payloads get
# the same treatment as BMP/PNG images and VID0 video: a genuine
# standard container, planted corruption, header fields byte-parseable
# by an independent SQL oracle.

def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """(n,) or (n, channels) int16 PCM -> canonical 44-byte-header WAV
    file bytes (RIFF + fmt + data chunks)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(blob: bytes):
    """WAV file bytes -> ((n, channels) int16 array, sample_rate), or
    None if malformed: bad magic, truncated data chunk (actual bytes <
    declared size), non-PCM format, or non-16-bit samples."""
    try:
        if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
            return None
        (riff_len,) = struct.unpack_from("<I", blob, 4)
        if len(blob) < 8 + riff_len:
            return None                          # container truncated
        pos, fmt, data = 12, None, None
        n = len(blob)
        while pos + 8 <= n:
            tag = blob[pos:pos + 4]
            (length,) = struct.unpack_from("<I", blob, pos + 4)
            chunk = blob[pos + 8:pos + 8 + length]
            if len(chunk) < length:
                return None                      # chunk truncated
            if tag == b"fmt ":
                fmt = chunk
            elif tag == b"data":
                data = chunk
            pos += 8 + length + (length & 1)     # chunks are word-aligned
        if fmt is None or data is None or len(fmt) < 16:
            return None
        audio_fmt, ch, rate, _br, _ba, bits = struct.unpack_from(
            "<HHIIHH", fmt)
        if audio_fmt != 1 or bits != 16 or ch < 1:
            return None
        samples = np.frombuffer(data, dtype="<i2")
        if len(samples) % ch:
            return None
        return samples.reshape(-1, ch), int(rate)
    except (struct.error, ValueError):
        return None


def expected_samples(audio_id: str, n: int) -> np.ndarray:
    """Deterministic int16 reference signal for `audio_id` — the audio
    analogue of expected_pixels."""
    seed = int.from_bytes(
        __import__("hashlib").md5(audio_id.encode()).digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(-2 ** 15, 2 ** 15, size=n, dtype=np.int64) \
        .astype(np.int16)


def snr_db(ref: np.ndarray, got: np.ndarray) -> float:
    """Signal-to-noise ratio in dB (capped 99; shape mismatch -> 0)."""
    if ref.shape != got.shape:
        return 0.0
    err = ref.astype(np.float64) - got.astype(np.float64)
    pe = np.mean(err ** 2)
    if pe == 0:
        return 99.0
    ps = np.mean(ref.astype(np.float64) ** 2)
    return float(min(99.0, 10 * np.log10(max(ps, 1e-12) / pe)))


AUDIO_DECODE_SCHEMA = ("audio_id string, header_ok boolean, "
                       "decoded_rate int, decoded_samples int, "
                       "snr double")


def decode_audio(df: DataFrame, carry: tuple = ()) -> DataFrame:
    """Real WAV decode over Arrow batches; SNR measured against the
    per-id deterministic reference signal (true decoded-sample
    comparison).  `carry` columns pass through — same joinless shape
    as decode_images."""
    schema = AUDIO_DECODE_SCHEMA + "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in carry)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("audio_id", "header_ok",
                                   "decoded_rate", "decoded_samples",
                                   "snr")}
            for audio_id, blob in zip(pdf["audio_id"], pdf["bytes"]):
                out["audio_id"].append(audio_id)
                dec = decode_wav(bytes(blob)) if blob is not None else None
                if dec is None:
                    out["header_ok"].append(False)
                    out["decoded_rate"].append(0)
                    out["decoded_samples"].append(0)
                    out["snr"].append(0.0)
                    continue
                samples, rate = dec
                mono = samples[:, 0]
                out["header_ok"].append(True)
                out["decoded_rate"].append(rate)
                out["decoded_samples"].append(len(mono))
                out["snr"].append(snr_db(
                    expected_samples(str(audio_id), len(mono)), mono))
            res = pd.DataFrame(out)
            for c in carry:
                res[c] = list(pdf[c])
            yield res

    return df.select("audio_id", "bytes", *carry).mapInPandas(
        run, schema=schema)

