"""Pure-python baseline JPEG (JFIF) codec — numpy + stdlib only.

The north rule's per-row invariant is *decoded-pixel allclose with
PSNR >= 40 dB for lossy formats* (BASELINE.json input_hint).  BMP and
PNG give the pipeline real lossless tiers; this module supplies the
real LOSSY tier: a spec-conformant baseline sequential DCT JPEG
encoder/decoder (ITU-T T.81 / ISO 10918-1, JFIF container) written
with numpy and the standard library alone — no Pillow.

Encoder: JFIF APP0, 4:4:4 sampling (no chroma subsampling — chosen so
high-entropy reference images survive the 40 dB bar), IJG-style
quality-scaled quantization tables, the well-known "typical" Huffman
tables (T.81 Annex K), interleaved MCU entropy coding with byte
stuffing.  Tables are emitted in-file (DQT/DHT), so the stream is
fully self-describing: any JPEG reader decodes it, and the decoder
below reads whatever tables a file declares rather than assuming
these.

Decoder: marker parse (APP*/COM skipped, DQT/DHT/SOF0/SOS honored),
canonical Huffman decode, dequantize + inverse zigzag + IDCT
(vectorized over all blocks per image), YCbCr->RGB.  Baseline
sequential only; progressive (SOF2) and subsampled streams return
None like any other undecodable payload.

Scale shape: the codec is called per-row inside mapInPandas
(operators/multimodal.decode_pixels), so the work distributes
with the partitioning; all per-image math that can vectorize does
(DCT/IDCT/quant over every block at once via einsum), leaving only
the inherently serial entropy coding in the Python loop.

Reference parity note: the reference engine (python-jsonschema) has no
image path at all — this tier implements the graft's north-star
payload axis, not a reference feature; file:line citations therefore
point at the public JPEG spec structure rather than reference code.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------- tables ---

# Base quantization tables (T.81 Annex K.1, in zigzag-free row order).
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)

_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32).reshape(8, 8)

# Zigzag scan order: _ZIGZAG[k] = flat (row-major) index of the k-th
# zigzag coefficient.  Derived, not transcribed.  T.81 Figure 5 starts
# each anti-diagonal s=u+v moving RIGHT from (0,0): odd diagonals run
# down-left (row u ascending), even diagonals up-right (u descending,
# i.e. col v ascending) — so the tie-break key inside a diagonal is u
# for odd s and v for even s.  (An earlier derivation had the keys
# swapped, producing the TRANSPOSED order: self-consistent for our
# encoder+decoder pair but non-standard on the wire — caught by the
# libjpeg cross-certification, tests/test_native_codecs.py.)
def _zigzag_order() -> np.ndarray:
    order = sorted(((u + v, (u if (u + v) % 2 else v), u, v)
                    for u in range(8) for v in range(8)))
    return np.array([u * 8 + v for _, _, u, v in order], dtype=np.int64)


_ZIGZAG = _zigzag_order()
_UNZIGZAG = np.argsort(_ZIGZAG)

# "Typical" Huffman tables (T.81 Annex K.3): (BITS[1..16], HUFFVAL).
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]

_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]


def _canonical_codes(bits_counts, vals):
    """BITS/HUFFVAL -> {symbol: (code, length)} (T.81 C.2 flow)."""
    codes = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits_counts[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits_counts, vals):
    """BITS/HUFFVAL -> {(length, code): symbol} for incremental decode."""
    out = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits_counts[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


# 8x8 DCT-II basis: _DCT_MAT @ block @ _DCT_MAT.T is the forward
# transform; transpose pair inverts it (orthonormal).
_DCT_MAT = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else np.sqrt(0.25)
    for _x in range(8):
        _DCT_MAT[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16)


def quality_tables(quality: int):
    """IJG quality scaling: 1..100 -> (luma, chroma) int32 tables."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    luma = np.clip((_Q_LUMA * scale + 50) // 100, 1, 255).astype(np.int32)
    chroma = np.clip((_Q_CHROMA * scale + 50) // 100, 1,
                     255).astype(np.int32)
    return luma, chroma


def _rgb_to_ycbcr(px: np.ndarray):
    r = px[:, :, 0].astype(np.float64)
    g = px[:, :, 1].astype(np.float64)
    b = px[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return y, cb, cr


def _ycbcr_to_rgb(y, cb, cr):
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _to_blocks(chan: np.ndarray) -> np.ndarray:
    """(H, W) float, H/W multiples of 8 -> (nby, nbx, 8, 8)."""
    h, w = chan.shape
    return (chan.reshape(h // 8, 8, w // 8, 8)
            .transpose(0, 2, 1, 3))


class _BitWriter:
    """MSB-first bit accumulator with JPEG 0xFF byte stuffing."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)    # pad with 1-bits (F.1.2.3)


def _magnitude(v: int):
    """(size, appended-bits) for amplitude v (T.81 F.1.2.1/F.1.2.2)."""
    if v == 0:
        return 0, 0
    a = v if v > 0 else -v
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_component_blocks(writer, zz_blocks, dc_codes, ac_codes,
                             pred: int) -> int:
    """Entropy-encode one component's zigzagged blocks in MCU order.

    zz_blocks: python list of 64-int lists (already zigzag-ordered and
    quantized).  Returns the updated DC predictor."""
    for zz in zz_blocks:
        diff = zz[0] - pred
        pred = zz[0]
        size, bits = _magnitude(diff)
        code, ln = dc_codes[size]
        writer.write(code, ln)
        writer.write(bits, size)
        run = 0
        last_nz = 0
        for k in range(63, 0, -1):
            if zz[k]:
                last_nz = k
                break
        for k in range(1, last_nz + 1):
            v = zz[k]
            if v == 0:
                run += 1
                continue
            while run >= 16:
                code, ln = ac_codes[0xF0]        # ZRL
                writer.write(code, ln)
                run -= 16
            size, bits = _magnitude(v)
            code, ln = ac_codes[(run << 4) | size]
            writer.write(code, ln)
            writer.write(bits, size)
            run = 0
        if last_nz < 63:
            code, ln = ac_codes[0x00]            # EOB
            writer.write(code, ln)
    return pred


def _dht_segment(tc_th: int, bits_counts, vals) -> bytes:
    payload = bytes([tc_th]) + bytes(bits_counts) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def _block_zigzags(chan: np.ndarray, q: np.ndarray) -> list:
    """(H, W) float channel (H/W multiples of 8) -> list of 64-int
    zigzag lists, blocks in raster order; DCT+quantization vectorized
    over every block at once."""
    blocks = _to_blocks(chan) - 128.0
    coefs = np.einsum("ux,ryxc,vc->ryuv", _DCT_MAT, blocks, _DCT_MAT,
                      optimize=True)
    # AC magnitudes are < 1024 in exact math (so SSSS <= 10, which
    # the baseline AC tables require); clip to guard the rounded
    # boundary case.
    quant = np.clip(np.round(coefs / q), -1023, 1023).astype(np.int64)
    nby, nbx = quant.shape[:2]
    return quant.reshape(nby * nbx, 64)[:, _ZIGZAG].tolist(), nbx


def _pad_to(chan: np.ndarray, mult_h: int, mult_w: int) -> np.ndarray:
    ph, pw = (-chan.shape[0]) % mult_h, (-chan.shape[1]) % mult_w
    if ph or pw:
        chan = np.pad(chan, ((0, ph), (0, pw)), mode="edge")
    return chan


def encode_jpeg(pixels: np.ndarray, quality: int = 95,
                subsampling: str = "4:4:4") -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF JPEG bytes.

    subsampling: "4:4:4" (default — every component full-resolution,
    the right choice for the PSNR invariant on high-entropy payloads)
    or "4:2:0" (chroma box-averaged 2x2, the common photographic
    layout — exercises the general MCU interleave).

    Header layout is deterministic for a given encoder version:
    SOI, APP0(JFIF), DQT(luma), DQT(chroma), SOF0, DHT x4, SOS, data,
    EOI — the SOF0 height/width land at fixed byte offsets 163..166
    (0-based), which the DuckDB oracle re-parses independently."""
    h, w, _ = pixels.shape
    luma_q, chroma_q = quality_tables(quality)
    if subsampling == "4:4:4":
        hv = [(1, 1), (1, 1), (1, 1)]
    elif subsampling == "4:2:0":
        hv = [(2, 2), (1, 1), (1, 1)]
    else:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    hmax = max(hi for hi, _ in hv)
    vmax = max(vi for _, vi in hv)

    y, cb, cr = _rgb_to_ycbcr(pixels)
    if subsampling == "4:2:0":
        cb = _pad_to(cb, 2, 2)
        cr = _pad_to(cr, 2, 2)
        cb = (cb.reshape(cb.shape[0] // 2, 2, cb.shape[1] // 2, 2)
              .mean(axis=(1, 3)))
        cr = (cr.reshape(cr.shape[0] // 2, 2, cr.shape[1] // 2, 2)
              .mean(axis=(1, 3)))
    # Pad each plane so every MCU is fully covered: the luma grid must
    # be a multiple of 8*h_i per MCU column (ditto rows).
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    comps, nbxs = [], []
    for chan, q, (hi, vi) in ((y, luma_q, hv[0]), (cb, chroma_q, hv[1]),
                              (cr, chroma_q, hv[2])):
        target_h, target_w = mcus_y * vi * 8, mcus_x * hi * 8
        chan = np.pad(chan,
                      ((0, target_h - chan.shape[0]),
                       (0, target_w - chan.shape[1])), mode="edge")
        zz, nbx = _block_zigzags(chan, q)
        comps.append(zz)
        nbxs.append(nbx)

    dc_l = _canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_l = _canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)

    writer = _BitWriter()
    preds = [0, 0, 0]
    tables = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    # Interleaved MCU order (T.81 A.2.3): per MCU, component i emits
    # its h_i x v_i blocks in raster order within the MCU.
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in range(3):
                hi, vi = hv[c]
                mcu_blocks = [
                    comps[c][(my * vi + by) * nbxs[c] + mx * hi + bx]
                    for by in range(vi) for bx in range(hi)]
                preds[c] = _encode_component_blocks(
                    writer, mcu_blocks, tables[c][0], tables[c][1],
                    preds[c])
    writer.flush()

    out = bytearray(b"\xff\xd8")                              # SOI
    out += (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
            + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1)
            + bytes([0, 0]))                                  # APP0
    for tq, q in ((0, luma_q), (1, chroma_q)):
        zz_q = q.reshape(64)[_ZIGZAG]
        out += (b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
                + bytes(int(v) for v in zz_q))                # DQT
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
    for cid, (hi, vi), tq in ((1, hv[0], 0), (2, hv[1], 1),
                              (3, hv[2], 1)):
        sof += bytes([cid, (hi << 4) | vi, tq])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof  # SOF0
    out += _dht_segment(0x00, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += _dht_segment(0x10, _AC_LUMA_BITS, _AC_LUMA_VALS)
    out += _dht_segment(0x01, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
    out += _dht_segment(0x11, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    sos = bytes([3]) + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + bytes(
        [0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos  # SOS
    out += writer.buf
    out += b"\xff\xd9"                                        # EOI
    return bytes(out)


# --------------------------------------------------------------- decoder --

def _decode_huffman(bits, pos: int, table):
    code = 0
    for length in range(1, 17):
        code = (code << 1) | bits[pos]
        pos += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym, pos
    raise ValueError("invalid Huffman code")


def _receive_extend(bits, pos: int, size: int):
    if size == 0:
        return 0, pos
    v = 0
    for _ in range(size):
        v = (v << 1) | bits[pos]
        pos += 1
    if v < (1 << (size - 1)):                      # EXTEND (F.2.2.1)
        v -= (1 << size) - 1
    return v, pos


def decode_jpeg(blob: bytes):
    """Baseline JFIF JPEG bytes -> (h, w, 3) uint8 RGB, or None.

    Accepts any baseline sequential 3-component stream — 4:4:4,
    4:2:0, 4:2:2, or any other legal (h_i, v_i) sampling combination —
    with in-file DQT/DHT (tables are READ, not assumed); subsampled
    chroma planes are upsampled by pixel replication.  Returns None
    for truncated/corrupt data, progressive streams, or
    restart-interval streams (the encoder never emits DRI)."""
    try:
        if blob[:2] != b"\xff\xd8":
            return None
        qtabs, htabs = {}, {}
        frame = None
        pos = 2
        n = len(blob)
        while pos + 4 <= n:
            if blob[pos] != 0xFF:
                return None
            marker = blob[pos + 1]
            if marker == 0xD9:                     # EOI before SOS
                return None
            seg_len = struct.unpack_from(">H", blob, pos + 2)[0]
            seg = blob[pos + 4:pos + 2 + seg_len]
            if len(seg) != seg_len - 2:
                return None
            if marker == 0xDB:                     # DQT
                sp = 0
                while sp < len(seg):
                    pq, tq = seg[sp] >> 4, seg[sp] & 0x0F
                    if pq != 0:
                        return None                # 16-bit tables: no
                    tab = np.frombuffer(seg[sp + 1:sp + 65],
                                        dtype=np.uint8).astype(np.int32)
                    qtabs[tq] = tab[_UNZIGZAG].reshape(8, 8)
                    sp += 65
            elif marker == 0xC4:                   # DHT
                sp = 0
                while sp < len(seg):
                    tc_th = seg[sp]
                    counts = list(seg[sp + 1:sp + 17])
                    nv = sum(counts)
                    vals = list(seg[sp + 17:sp + 17 + nv])
                    htabs[tc_th] = _decode_table(counts, vals)
                    sp += 17 + nv
            elif marker == 0xC0:                   # SOF0 baseline
                prec, fh, fw, nc = seg[0], *struct.unpack_from(
                    ">HH", seg, 1), seg[5]
                if prec != 8 or nc != 3:
                    return None
                frame = {"h": fh, "w": fw, "comps": []}
                for c in range(nc):
                    cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                    hi, vi = hv >> 4, hv & 0x0F
                    if not (1 <= hi <= 4 and 1 <= vi <= 4):
                        return None
                    frame["comps"].append((cid, tq, hi, vi))
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None                        # non-baseline frame
            elif marker == 0xDD:                   # DRI
                if struct.unpack_from(">H", seg, 0)[0] != 0:
                    return None
            elif marker == 0xDA:                   # SOS
                if frame is None:
                    return None
                ns = seg[0]
                if ns != 3:
                    return None
                scan = []
                for c in range(ns):
                    cs, tsel = seg[1 + 2 * c], seg[2 + 2 * c]
                    scan.append((cs, tsel >> 4, tsel & 0x0F))
                data_start = pos + 2 + seg_len
                eoi = blob.rfind(b"\xff\xd9")
                if eoi < data_start:
                    return None
                entropy = blob[data_start:eoi].replace(
                    b"\xff\x00", b"\xff")
                return _decode_scan(frame, scan, qtabs, htabs, entropy)
            # APPn/COM/anything else: skip
            pos += 2 + seg_len
        return None
    except (ValueError, IndexError, KeyError, struct.error):
        return None


def _decode_scan(frame, scan, qtabs, htabs, entropy: bytes):
    fh, fw = frame["h"], frame["w"]
    if fh <= 0 or fw <= 0:
        return None
    hmax = max(hi for _, _, hi, _ in frame["comps"])
    vmax = max(vi for _, _, _, vi in frame["comps"])
    mcus_x = (fw + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (fh + 8 * vmax - 1) // (8 * vmax)
    bits = np.unpackbits(
        np.frombuffer(entropy, dtype=np.uint8)).tolist()
    comp_q, dc_tabs, ac_tabs, hvs, coefs = [], [], [], [], []
    for ci, (cid, tq, hi, vi) in enumerate(frame["comps"]):
        comp_q.append(qtabs[tq])
        scid, td, ta = scan[ci]
        if scid != cid:
            return None
        dc_tabs.append(htabs[0x00 | td])
        ac_tabs.append(htabs[0x10 | ta])
        if hmax % hi or vmax % vi:     # replication needs integer ratio
            return None
        hvs.append((hi, vi))
        coefs.append(np.zeros((mcus_y * vi * mcus_x * hi, 64),
                              dtype=np.int64))
    pos = 0
    preds = [0, 0, 0]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in range(3):
                hi, vi = hvs[c]
                nbx_c = mcus_x * hi
                for by in range(vi):
                    for bx in range(hi):
                        block = coefs[c][
                            (my * vi + by) * nbx_c + mx * hi + bx]
                        sym, pos = _decode_huffman(bits, pos, dc_tabs[c])
                        diff, pos = _receive_extend(bits, pos, sym)
                        preds[c] += diff
                        block[0] = preds[c]
                        k = 1
                        while k < 64:
                            sym, pos = _decode_huffman(
                                bits, pos, ac_tabs[c])
                            if sym == 0x00:        # EOB
                                break
                            run, size = sym >> 4, sym & 0x0F
                            if size == 0:
                                if run != 15:
                                    return None
                                k += 16            # ZRL
                                continue
                            k += run
                            if k > 63:
                                return None
                            v, pos = _receive_extend(bits, pos, size)
                            block[k] = v
                            k += 1
    planes = []
    for c in range(3):
        hi, vi = hvs[c]
        nbx_c, nby_c = mcus_x * hi, mcus_y * vi
        n_blocks = nbx_c * nby_c
        deq = (coefs[c][:, _UNZIGZAG].reshape(n_blocks, 8, 8)
               * comp_q[c][None, :, :]).astype(np.float64)
        spatial = np.einsum("xu,ruv,vc->rxc", _DCT_MAT.T, deq,
                            _DCT_MAT, optimize=True) + 128.0
        chan = (spatial.reshape(nby_c, nbx_c, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(nby_c * 8, nbx_c * 8))
        if hi != hmax or vi != vmax:
            rv, rh = vmax // vi, hmax // hi
            # 2x ratios use libjpeg's "fancy" triangular filter (T.81
            # leaves the upsampling filter to the decoder; matching
            # libjpeg keeps pure and native verdicts interchangeable —
            # replication diverged ~23dB from libjpeg on noisy chroma,
            # triangular agrees to ~45dB+).  Like libjpeg, the filter
            # runs on uint8-quantized samples; other ratios replicate
            # (libjpeg's int_upsample does the same for non-2x).
            q8 = np.clip(np.round(chan), 0, 255).astype(np.int32)
            if rv == 2 and rh == 2:
                chan = _h2v2_fancy_upsample(q8).astype(np.float64)
            elif rv == 1 and rh == 2:
                chan = _h2v1_fancy_upsample(q8).astype(np.float64)
            else:
                chan = np.repeat(np.repeat(chan, rv, axis=0),
                                 rh, axis=1)
        planes.append(chan[:fh, :fw])
    return _ycbcr_to_rgb(*planes)


def _h2v1_fancy_upsample(s: np.ndarray) -> np.ndarray:
    """libjpeg jdsample.c h2v1_fancy_upsample, vectorized: (H, W) int32
    samples -> (H, 2W); 3:1 triangular horizontally, edges copied."""
    prev = np.concatenate([s[:, :1], s[:, :-1]], axis=1)
    nxt = np.concatenate([s[:, 1:], s[:, -1:]], axis=1)
    left = (3 * s + prev + 1) >> 2
    right = (3 * s + nxt + 2) >> 2
    left[:, 0] = s[:, 0]
    right[:, -1] = s[:, -1]
    out = np.empty((s.shape[0], s.shape[1] * 2), np.int32)
    out[:, 0::2] = left
    out[:, 1::2] = right
    return out


def _h2v2_fancy_upsample(s: np.ndarray) -> np.ndarray:
    """libjpeg jdsample.c h2v2_fancy_upsample, vectorized: (H, W) int32
    samples -> (2H, 2W).  Vertical 3:1 column sums (nearer row x3 +
    farther row, edge rows duplicated), then the same triangular pass
    horizontally with libjpeg's exact rounding biases."""
    up = np.concatenate([s[:1], s[:-1]], axis=0)
    down = np.concatenate([s[1:], s[-1:]], axis=0)

    def hpass(cs):
        prev = np.concatenate([cs[:, :1], cs[:, :-1]], axis=1)
        nxt = np.concatenate([cs[:, 1:], cs[:, -1:]], axis=1)
        left = (3 * cs + prev + 8) >> 4
        right = (3 * cs + nxt + 7) >> 4
        left[:, 0] = (cs[:, 0] * 4 + 8) >> 4
        right[:, -1] = (cs[:, -1] * 4 + 7) >> 4
        out = np.empty((cs.shape[0], cs.shape[1] * 2), np.int32)
        out[:, 0::2] = left
        out[:, 1::2] = right
        return out

    top = hpass(3 * s + up)          # output row 2i:   farther = above
    bot = hpass(3 * s + down)        # output row 2i+1: farther = below
    out = np.empty((s.shape[0] * 2, s.shape[1] * 2), np.int32)
    out[0::2] = top
    out[1::2] = bot
    return out
