"""Pure-python WebP-lossless (VP8L) codec — numpy + stdlib only.

Completes the engine's built-in codec set (BMP, PNG, JPEG, WAV —
operators/multimodal + functions/jpeg): the synthetic north-star table
plants ``fmt='webp'`` rows (sources/images.py), previously decodable
only when Pillow happened to be importable.  This module implements
the public "WebP Lossless Bitstream Specification" (RFC 9649 §3-5 /
Google VP8L spec, 2012) from scratch so the webp tier is real.

Decoder: a GENERAL VP8L decoder, not encoder-matched — RIFF/VP8L
container parse, LSB-first bit reader, simple + complex (code-length
coded, max-symbol) canonical prefix codes, color cache, LZ77 backward
references with the spec's 120-entry 2D distance mapping, meta prefix
(entropy-image) code selection, and all four transforms: PREDICTOR
(14 modes), COLOR (cross-color deltas), SUBTRACT_GREEN and
COLOR_INDEXING (palette, incl. sub-byte pixel bundling).  Its
generality is certified in tests by decoding streams produced by the
system's libwebp encoder (ctypes, when present) bit-exactly — a
third-party encoder that uses the transform/cache/LZ77 machinery
heavily — never just our own encoder's output.

Encoder: spec-conformant streams with real entropy coding (canonical
Huffman per alphabet, complex code-length-coded headers with zero-run
codes, simple codes for 1-2 symbol alphabets), optional
SUBTRACT_GREEN, optional COLOR_INDEXING palette mode (with pixel
bundling), optional color cache, and greedy run-length LZ77.  Output
decodes with libwebp (asserted in tests when the system library is
present), so the streams are interoperable, not merely self-readable.

Scale shape: called per-row inside mapInPandas
(operators/multimodal.decode_pixels) — the codec distributes
with the partitioning and needs no Spark-side state.

Reference parity note: the reference engine (python-jsonschema) has no
image path — this tier implements the graft's north-star payload axis
(BASELINE.json input_hint: "decoded-pixel allclose ... for lossy
fmt"); citations therefore point at the public VP8L spec structure
rather than reference code.
"""

from __future__ import annotations

import struct

import numpy as np

# ------------------------------------------------------------ constants ---

_NUM_LITERALS = 256
_NUM_LENGTH_CODES = 24
_NUM_DISTANCE_CODES = 40
_CODE_LENGTH_CODES = 19
#: order in which code-length-code lengths are transmitted (spec §5.2.2)
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10,
             11, 12, 13, 14, 15)

#: spec §4.2.2: the first 120 distance codes map to 2D neighborhood
#: offsets (dx, dy), ordered by proximity; verified entry-by-entry
#: against the system libwebp decoder (tests/test_webp.py drives a
#: crafted stream through every code and checks which pixel each one
#: copies).
def _gen_distance_map():
    """The spec's table enumerates every (dx, dy) with dy in 0..7 and
    dx in -7..8 (dx >= 1 when dy == 0), sorted by squared Euclidean
    distance, then |dx| (nearer the current column first), positive dx
    (left neighbour) before negative (right).  Generating it beats a
    120-entry hand transcription; tests certify every entry against
    the system libwebp decoder when the library is present."""
    cands = [(dx, dy)
             for dy in range(8)
             for dx in range(-7, 9)
             if dy > 0 or dx > 0]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1],
                              abs(p[0]), p[0] < 0))
    return tuple(cands)


_DISTANCE_MAP = _gen_distance_map()
assert len(_DISTANCE_MAP) == 120

_HASH_MUL = 0x1E35A7BD  # color-cache hash multiplier (spec §4.2.3)


class WebPError(ValueError):
    """Malformed VP8L stream."""


# ------------------------------------------------------------- bit I/O ---


class _BitReader:
    """LSB-first bit reader (spec §5.1), buffered: bits accumulate in a
    small int so each read is O(1) integer ops, not a per-bit loop —
    the entropy-decode hot path runs one read per symbol bit."""

    def __init__(self, data: bytes):
        self.data = data
        self.nbytes = len(data)
        self.bytepos = 0
        self.buf = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        buf, nbits, p = self.buf, self.nbits, self.bytepos
        while nbits < n:
            if p >= self.nbytes:
                raise WebPError("bitstream truncated")
            buf |= self.data[p] << nbits
            p += 1
            nbits += 8
        self.buf = buf >> n
        self.nbits = nbits - n
        self.bytepos = p
        return buf & ((1 << n) - 1)

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.bytepos >= self.nbytes:
                raise WebPError("bitstream truncated")
            self.buf = self.data[self.bytepos]
            self.bytepos += 1
            self.nbits = 8
        v = self.buf & 1
        self.buf >>= 1
        self.nbits -= 1
        return v



class _BitWriter:
    """LSB-first bit writer; prefix codes go in MSB-first."""

    def __init__(self):
        self.bytes = bytearray()
        self.bit = 0      # bits used in last byte

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.bytes.append(0)
            if (value >> i) & 1:
                self.bytes[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def write_code(self, code: int, length: int) -> None:
        # prefix codes are written most-significant-bit first
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def getvalue(self) -> bytes:
        return bytes(self.bytes)


# ------------------------------------------------- canonical prefix codes ---


def _canonical_codes(lengths) -> dict:
    """symbol -> (code, length) for nonzero lengths, canonical
    (DEFLATE-style) assignment: shorter codes first, ties by symbol."""
    pairs = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    codes = {}
    code = 0
    prev_len = 0
    for l, s in pairs:
        code <<= (l - prev_len)
        codes[s] = (code, l)
        code += 1
        prev_len = l
    if code > (1 << prev_len):
        raise WebPError("over-subscribed prefix code")
    return codes


class _PrefixCode:
    """Decoding table: (length, code) -> symbol; zero-bit single-symbol
    codes read no input."""

    def __init__(self, lengths):
        used = [s for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise WebPError("empty prefix code")
        if len(used) == 1:
            self.single = used[0]
            self.table = None
            return
        self.single = None
        codes = _canonical_codes(lengths)
        self.table = {(l, c): s for s, (c, l) in codes.items()}
        self.max_len = max(l for l, _ in self.table)
        # 8-bit-root LUT over LSB-first stream bits: codes <= 8 bits
        # resolve in one peek+index; longer codes leave their slots
        # None (prefix-freedom means a long code's first byte never
        # collides with a short code's padded slots) and fall back to
        # the bit-walk
        lut = [None] * 256
        for s, (c, l) in codes.items():
            if l <= 8:
                pat = 0
                for i in range(l):                  # bit-reverse c
                    pat |= ((c >> i) & 1) << (l - 1 - i)
                step = 1 << l
                lut[pat::step] = [(s, l)] * (256 >> l)
        self.lut = lut

    @classmethod
    def trivial(cls, symbol: int) -> "_PrefixCode":
        out = cls.__new__(cls)
        out.single = symbol
        out.table = None
        return out

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        # inlined peek8 — this is the per-symbol hot path
        while br.nbits < 8 and br.bytepos < br.nbytes:
            br.buf |= br.data[br.bytepos] << br.nbits
            br.bytepos += 1
            br.nbits += 8
        ent = self.lut[br.buf & 0xFF]
        if ent is not None:
            sym, l = ent
            if l > br.nbits:
                raise WebPError("bitstream truncated")
            br.buf >>= l
            br.nbits -= l
            return sym
        code = 0
        table = self.table
        for length in range(1, self.max_len + 1):
            code = (code << 1) | br.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise WebPError("invalid prefix code")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    """Spec §5.2.1-5.2.2: simple (1-2 symbols) or code-length-coded."""
    if br.read_bit():                                   # simple
        num_symbols = br.read_bit() + 1
        first_is_8bit = br.read_bit()
        sym0 = br.read(8 if first_is_8bit else 1)
        if num_symbols == 1:
            return _PrefixCode.trivial(sym0)
        sym1 = br.read(8)
        if sym0 >= alphabet_size or sym1 >= alphabet_size:
            raise WebPError("simple-code symbol out of range")
        # CANONICAL assignment (code 0 -> numerically smaller symbol),
        # NOT transmission order: the spec's pseudo-code sets
        # code_lengths[sym0] = code_lengths[sym1] = 1 and builds the
        # usual canonical table from the lengths, and the system
        # libwebp agrees — verified empirically with a crafted
        # DESCENDING pair (sym0=200, sym1=3): libwebp.so.7 decodes
        # code 0 as 3 (tests/test_webp.py
        # test_simple_pair_canonical_order*).
        lengths = [0] * alphabet_size
        lengths[sym0] = 1
        lengths[sym1] = 1
        return _PrefixCode(lengths)

    num_cl = 4 + br.read(4)
    cl_lengths = [0] * _CODE_LENGTH_CODES
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _PrefixCode(cl_lengths)

    if br.read_bit():                                   # max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size

    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl != 0:
                prev_len = cl
        else:
            if cl == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif cl == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise WebPError("code-length repeat overflow")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _PrefixCode(lengths)


# -------------------------------------------------------- LZ77 prefix ---


def _lz77_read_value(br: _BitReader, code: int) -> int:
    """Length/distance prefix decoding (spec §4.2.2): code -> value."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _lz77_code(value: int):
    """Inverse of _lz77_read_value: value -> (code, extra_bits, nbits)."""
    if value <= 4:
        return value - 1, 0, 0
    x = value - 1
    hb = x.bit_length() - 1
    second = (x >> (hb - 1)) & 1
    code = 2 * hb + second
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return code, x - offset, extra


# ---------------------------------------------------------- transforms ---

# transform types (spec §4.2.4)
_T_PREDICTOR, _T_COLOR, _T_SUBTRACT_GREEN, _T_COLOR_INDEXING = 0, 1, 2, 3


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _avg2(a, b):
    return tuple((x + y) >> 1 for x, y in zip(a, b))


def _select(top, left, tl):
    d = sum(abs(l - c) - abs(t - c)
            for t, l, c in zip(top, left, tl))
    return top if d <= 0 else left


def _clamp_add_full(l, t, tl):
    return tuple(min(255, max(0, a + b - c))
                 for a, b, c in zip(l, t, tl))


def _clamp_add_half(ave, tl):
    out = []
    for a, c in zip(ave, tl):
        d = a - c
        half = d // 2 if d >= 0 else -((-d) // 2)   # C truncation
        out.append(min(255, max(0, a + half)))
    return tuple(out)


def _predict(mode: int, l, t, tl, tr):
    if mode == 0:
        return (255, 0, 0, 0)
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(t, l, tl)
    if mode == 12:
        return _clamp_add_full(l, t, tl)
    if mode == 13:
        return _clamp_add_half(_avg2(l, t), tl)
    raise WebPError(f"invalid predictor mode {mode}")


def _inv_predictor(argb: np.ndarray, w: int, h: int, bits: int,
                   tiles: np.ndarray) -> None:
    """In-place inverse predictor transform over an (h*w, 4) uint8
    AGRB-order?? no: channel-order (a, r, g, b) residual array.

    Per spec: pixel (0,0) predicts black; rest of row 0 predicts L;
    rest of column 0 predicts T; others use the tile's mode.  The
    top-right of the last column is pixel[pos - w + 1] in scan order
    (the current row's first pixel), matching the 1-D addressing the
    spec defines and libwebp implements."""
    px = argb  # (h*w, 4) uint8; all math on python ints (uint8 wraps)
    tw = _subsample_size(w, bits)

    def ints(row) -> tuple:
        return (int(row[0]), int(row[1]), int(row[2]), int(row[3]))

    for pos in range(h * w):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = (255, 0, 0, 0)
        elif y == 0:
            pred = ints(px[pos - 1])
        elif x == 0:
            pred = ints(px[pos - w])
        else:
            mode = int(tiles[(y >> bits) * tw + (x >> bits)][2])
            l = ints(px[pos - 1])
            t = ints(px[pos - w])
            tl = ints(px[pos - w - 1])
            tr = ints(px[pos - w + 1])
            pred = _predict(mode, l, t, tl, tr)
        for c in range(4):
            px[pos][c] = (int(px[pos][c]) + pred[c]) & 0xFF


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _inv_color(argb: np.ndarray, w: int, h: int, bits: int,
               tiles: np.ndarray) -> None:
    """In-place inverse cross-color transform (spec §4.2.4.2): per-tile
    (green_to_red, green_to_blue, red_to_blue) signed 3.5 fixed-point
    deltas; element stored as (red=red_to_blue, green=green_to_blue,
    blue=green_to_red)."""
    tw = _subsample_size(w, bits)
    for pos in range(h * w):
        y, x = divmod(pos, w)
        el = tiles[(y >> bits) * tw + (x >> bits)]
        g2r, g2b, r2b = _s8(int(el[3])), _s8(int(el[2])), _s8(int(el[1]))
        a, r, g, b = (int(v) for v in argb[pos])
        sg = _s8(g)
        r = (r + ((g2r * sg) >> 5)) & 0xFF
        b = (b + ((g2b * sg) >> 5) + ((r2b * _s8(r)) >> 5)) & 0xFF
        argb[pos][1] = r
        argb[pos][3] = b


def _inv_subtract_green(argb: np.ndarray) -> None:
    g = argb[:, 2].astype(np.int32)
    argb[:, 1] = ((argb[:, 1].astype(np.int32) + g) & 0xFF).astype(np.uint8)
    argb[:, 3] = ((argb[:, 3].astype(np.int32) + g) & 0xFF).astype(np.uint8)


def _palette_width_bits(size: int) -> int:
    if size <= 2:
        return 3
    if size <= 4:
        return 2
    if size <= 16:
        return 1
    return 0


def _inv_color_indexing(argb: np.ndarray, packed_w: int, w: int, h: int,
                        palette: np.ndarray) -> np.ndarray:
    """Expand packed index pixels back to (h*w, 4) via the palette."""
    wb = _palette_width_bits(len(palette))
    out = np.zeros((h * w, 4), dtype=np.uint8)
    bpp = 8 >> wb                 # bits per index
    per = 1 << wb                 # indices per packed pixel
    mask = (1 << bpp) - 1
    for y in range(h):
        for x in range(w):
            packed = argb[y * packed_w + (x >> wb)]
            idx = (int(packed[2]) >> ((x % per) * bpp)) & mask
            if idx < len(palette):
                out[y * w + x] = palette[idx]
    return out


# ------------------------------------------------------------- decoder ---


def _decode_argb(br: _BitReader, w: int, h: int,
                 top_level: bool = False):
    """Decode one entropy-coded (or, at top level, spatially-coded)
    image to an (w*h, 4) uint8 array in (a, r, g, b) channel order.
    Returns (array, final_w) — final_w differs from w when a
    color-indexing transform packed the pixels."""
    transforms = []
    cur_w = w
    if top_level:
        seen = set()
        while br.read_bit():
            ttype = br.read(2)
            if ttype in seen:
                raise WebPError("duplicate transform")
            seen.add(ttype)
            if ttype == _T_PREDICTOR or ttype == _T_COLOR:
                bits = br.read(3) + 2
                tw = _subsample_size(cur_w, bits)
                th = _subsample_size(h, bits)
                tiles, _ = _decode_argb(br, tw, th)
                transforms.append((ttype, bits, tiles))
            elif ttype == _T_SUBTRACT_GREEN:
                transforms.append((ttype, None, None))
            else:                                   # color indexing
                psize = br.read(8) + 1
                pal_raw, _ = _decode_argb(br, psize, 1)
                # palette entries are component-wise deltas
                pal = pal_raw.astype(np.int32)
                for i in range(1, psize):
                    pal[i] = (pal[i] + pal[i - 1]) & 0xFF
                palette = pal.astype(np.uint8)
                transforms.append((ttype, cur_w, palette))
                cur_w = _subsample_size(cur_w, _palette_width_bits(psize))

    # color cache
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise WebPError("invalid color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    # meta prefix codes (top level only)
    meta = None
    num_groups = 1
    if top_level and br.read_bit():
        meta_bits = br.read(3) + 2
        mw = _subsample_size(cur_w, meta_bits)
        mh = _subsample_size(h, meta_bits)
        meta_img, _ = _decode_argb(br, mw, mh)
        meta_idx = (meta_img[:, 1].astype(np.int32) << 8) \
            | meta_img[:, 2].astype(np.int32)
        num_groups = int(meta_idx.max()) + 1
        meta = (meta_bits, mw, meta_idx)

    green_size = _NUM_LITERALS + _NUM_LENGTH_CODES + cache_size
    groups = []
    for _ in range(num_groups):
        groups.append((
            _read_prefix_code(br, green_size),
            _read_prefix_code(br, _NUM_LITERALS),      # red
            _read_prefix_code(br, _NUM_LITERALS),      # blue
            _read_prefix_code(br, _NUM_LITERALS),      # alpha
            _read_prefix_code(br, _NUM_DISTANCE_CODES),
        ))

    n = cur_w * h
    px = np.zeros((n, 4), dtype=np.uint8)
    pos = 0
    group = groups[0]
    while pos < n:
        if meta is not None:
            mb, mw, midx = meta
            y, x = divmod(pos, cur_w)
            group = groups[midx[(y >> mb) * mw + (x >> mb)]]
        g_code, r_code, b_code, a_code, d_code = group
        s = g_code.read(br)
        if s < _NUM_LITERALS:
            r = r_code.read(br)
            b = b_code.read(br)
            a = a_code.read(br)
            px[pos] = (a, r, s, b)
            if cache_size:
                argb = (a << 24) | (r << 16) | (s << 8) | b
                cache[((_HASH_MUL * argb) & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = argb
            pos += 1
        elif s < _NUM_LITERALS + _NUM_LENGTH_CODES:
            length = _lz77_read_value(br, s - _NUM_LITERALS)
            dist_val = _lz77_read_value(br, d_code.read(br))
            if dist_val > 120:
                dist = dist_val - 120
            else:
                dx, dy = _DISTANCE_MAP[dist_val - 1]
                dist = dy * cur_w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise WebPError("LZ77 reference out of range")
            for _ in range(length):
                px[pos] = px[pos - dist]
                if cache_size:
                    a, r, g, b = (int(v) for v in px[pos])
                    argb = (a << 24) | (r << 16) | (g << 8) | b
                    cache[((_HASH_MUL * argb) & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = argb
                pos += 1
        else:
            argb = cache[s - _NUM_LITERALS - _NUM_LENGTH_CODES]
            px[pos] = ((argb >> 24) & 0xFF, (argb >> 16) & 0xFF,
                       (argb >> 8) & 0xFF, argb & 0xFF)
            pos += 1

    # inverse transforms, reverse reading order
    for ttype, p1, p2 in reversed(transforms):
        if ttype == _T_COLOR_INDEXING:
            orig_w, palette = p1, p2
            px = _inv_color_indexing(px, cur_w, orig_w, h, palette)
            cur_w = orig_w
        elif ttype == _T_SUBTRACT_GREEN:
            _inv_subtract_green(px)
        elif ttype == _T_PREDICTOR:
            _inv_predictor(px, cur_w, h, p1, p2)
        else:
            _inv_color(px, cur_w, h, p1, p2)
    return px, cur_w


def decode_webp(blob: bytes):
    """RIFF/VP8L bytes -> (h, w, 3) uint8 RGB, or None if undecodable
    (bad container, bad signature, truncation, invalid codes...).
    Lossy VP8 payloads return None — this engine's webp tier is the
    lossless format."""
    try:
        if (len(blob) < 30 or blob[:4] != b"RIFF" or blob[8:12] != b"WEBP"
                or blob[12:16] != b"VP8L"):
            return None
        riff_size = struct.unpack("<I", blob[4:8])[0]
        if riff_size + 8 > len(blob):
            return None
        chunk_size = struct.unpack("<I", blob[16:20])[0]
        payload = blob[20:20 + chunk_size]
        if len(payload) < chunk_size or not payload or payload[0] != 0x2F:
            return None
        br = _BitReader(payload[1:])
        w = br.read(14) + 1
        h = br.read(14) + 1
        br.read(1)              # alpha hint
        if br.read(3) != 0:     # version
            return None
        px, final_w = _decode_argb(br, w, h, top_level=True)
        if final_w != w:
            return None
        return px.reshape(h, w, 4)[:, :, 1:4].copy()   # drop alpha
    except (WebPError, struct.error, IndexError):
        return None


# ------------------------------------------------------------- encoder ---


def _build_lengths(freqs, max_len: int = 15):
    """Frequencies -> canonical Huffman code lengths (<= max_len),
    Kraft-complete.  Package-merge-free: plain Huffman, then if any
    length exceeds max_len fall back to the flattest complete code
    (only reachable with pathological skew on big alphabets)."""
    import heapq
    used = [s for s, f in enumerate(freqs) if f > 0]
    lengths = [0] * len(freqs)
    if not used:
        return lengths
    if len(used) == 1:
        lengths[used[0]] = 1
        return lengths
    heap = [(freqs[s], s, (s,)) for s in used]
    heapq.heapify(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, t, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            lengths[s] += 1
        heapq.heappush(heap, (f1 + f2, t, s1 + s2))
    if max(lengths) > max_len:
        # near-flat complete code: a symbols at f-1 bits, b at f bits
        # with a = 2^f - k, b = 2k - 2^f  (Kraft sum exactly 1)
        k = len(used)
        f = (k - 1).bit_length()
        a = (1 << f) - k
        lengths = [0] * len(freqs)
        for i, s in enumerate(used):
            lengths[s] = (f - 1) if i < a else f
    return lengths


def _write_prefix_code(bw: _BitWriter, lengths) -> dict:
    """Emit the prefix-code header for `lengths`; returns symbol ->
    (code, len) for payload writing.  Uses the simple form for 1-2
    symbol alphabets, else the code-length-coded form with 17/18
    zero-run codes."""
    used = [s for s, l in enumerate(lengths) if l > 0]
    if len(used) <= 2 and all(s < 256 for s in used):
        bw.write(1, 1)                                  # simple
        bw.write(len(used) - 1, 1)
        s0 = used[0]
        if s0 <= 1:
            bw.write(0, 1)                              # 1-bit symbol
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        if len(used) == 2:
            bw.write(used[1], 8)
            return {used[0]: (0, 1), used[1]: (1, 1)}
        return {used[0]: (0, 0)}

    bw.write(0, 1)                                      # complex
    # run-length the symbol lengths with zero-run codes 17/18
    tokens = []          # (cl_symbol, extra_value, extra_bits)
    i = 0
    n = len(lengths)
    while i < n:
        if lengths[i] == 0:
            run = 1
            while i + run < n and lengths[i + run] == 0:
                run += 1
            left = run
            while left >= 11:
                take = min(left, 138)
                tokens.append((18, take - 11, 7))
                left -= take
            while left >= 3:
                take = min(left, 10)
                tokens.append((17, take - 3, 3))
                left -= take
            for _ in range(left):
                tokens.append((0, 0, 0))
            i += run
        else:
            tokens.append((lengths[i], 0, 0))
            i += 1
    # NOTE: trailing zero runs must be transmitted — without a
    # max_symbol header the decoder reads code-length symbols until
    # the full alphabet is covered.

    cl_freq = [0] * _CODE_LENGTH_CODES
    for t, _, _ in tokens:
        cl_freq[t] += 1
    cl_lengths = _build_lengths(cl_freq, max_len=7)
    num_cl = max((_CL_ORDER.index(s) + 1
                  for s, l in enumerate(cl_lengths) if l > 0), default=4)
    num_cl = max(num_cl, 4)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)                                      # no max_symbol
    cl_codes = _canonical_codes(cl_lengths)
    single_cl = len(cl_codes) == 1
    for t, extra, ebits in tokens:
        if not single_cl:
            c, l = cl_codes[t]
            bw.write_code(c, l)
        if ebits:
            bw.write(extra, ebits)
    out = _canonical_codes(lengths)
    if len(out) == 1:       # single-symbol codes read zero bits
        (s,) = out
        out[s] = (0, 0)
    return out


def _cache_key(argb: int, bits: int) -> int:
    return ((_HASH_MUL * argb) & 0xFFFFFFFF) >> (32 - bits)


def _tokenize(argb_list, cache_bits: int, use_lz77: bool):
    """Pixel stream -> symbol tokens.

    Tokens: ("lit", argb) / ("cache", idx) / ("copy", length, dist).
    Greedy run-length LZ77 only (distance 1 backward runs) — enough to
    exercise the copy path and compress flat regions; cache hits
    handle repeated colors at any distance."""
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size
    toks = []
    n = len(argb_list)
    i = 0
    while i < n:
        if use_lz77 and i > 0 and argb_list[i] == argb_list[i - 1]:
            run = 1
            while i + run < n and argb_list[i + run] == argb_list[i]:
                run += 1
            run = min(run, 4096)
            if run >= 3:
                toks.append(("copy", run, 1))
                if cache_size:
                    cache[_cache_key(argb_list[i], cache_bits)] = \
                        argb_list[i]
                i += run
                continue
        argb = argb_list[i]
        if cache_size:
            k = _cache_key(argb, cache_bits)
            if cache[k] == argb:
                toks.append(("cache", k))
                i += 1
                continue
            cache[k] = argb
        toks.append(("lit", argb))
        i += 1
    return toks


def _write_image_stream(bw: _BitWriter, argb_list, cache_bits: int,
                        use_lz77: bool, top_level: bool = False) -> None:
    """Entropy-coded image body: cache flag, one prefix-code group,
    token stream.  (No meta prefix codes — a single group; top-level
    streams must still transmit the meta-prefix-absent bit.)"""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if top_level:
        bw.write(0, 1)      # no meta prefix codes

    toks = _tokenize(argb_list, cache_bits, use_lz77)
    cache_size = (1 << cache_bits) if cache_bits else 0
    green_size = _NUM_LITERALS + _NUM_LENGTH_CODES + cache_size
    freqs = [np.zeros(green_size, dtype=np.int64),
             np.zeros(_NUM_LITERALS, dtype=np.int64),
             np.zeros(_NUM_LITERALS, dtype=np.int64),
             np.zeros(_NUM_LITERALS, dtype=np.int64),
             np.zeros(_NUM_DISTANCE_CODES, dtype=np.int64)]
    for tok in toks:
        if tok[0] == "lit":
            argb = tok[1]
            freqs[0][(argb >> 8) & 0xFF] += 1
            freqs[1][(argb >> 16) & 0xFF] += 1
            freqs[2][argb & 0xFF] += 1
            freqs[3][(argb >> 24) & 0xFF] += 1
        elif tok[0] == "cache":
            freqs[0][_NUM_LITERALS + _NUM_LENGTH_CODES + tok[1]] += 1
        else:
            _, length, dist = tok
            freqs[0][_NUM_LITERALS + _lz77_code(length)[0]] += 1
            freqs[4][_lz77_code(dist + 120)[0]] += 1
    # every alphabet needs a code even if unused
    for f in freqs[1:]:
        if f.sum() == 0:
            f[0] = 1
    if freqs[0].sum() == 0:
        freqs[0][0] = 1

    tables = [_write_prefix_code(bw, _build_lengths(list(f)))
              for f in freqs]
    g_t, r_t, b_t, a_t, d_t = tables

    def put(table, sym):
        c, l = table[sym]
        if l:
            bw.write_code(c, l)

    for tok in toks:
        if tok[0] == "lit":
            argb = tok[1]
            put(g_t, (argb >> 8) & 0xFF)
            put(r_t, (argb >> 16) & 0xFF)
            put(b_t, argb & 0xFF)
            put(a_t, (argb >> 24) & 0xFF)
        elif tok[0] == "cache":
            put(g_t, _NUM_LITERALS + _NUM_LENGTH_CODES + tok[1])
        else:
            _, length, dist = tok
            code, extra, ebits = _lz77_code(length)
            put(g_t, _NUM_LITERALS + code)
            if ebits:
                bw.write(extra, ebits)
            code, extra, ebits = _lz77_code(dist + 120)
            put(d_t, code)
            if ebits:
                bw.write(extra, ebits)


def encode_webp(pixels: np.ndarray, use_palette: bool = None,
                subtract_green: bool = True, cache_bits: int = 6,
                use_lz77: bool = True) -> bytes:
    """(h, w, 3) uint8 RGB -> lossless RIFF/VP8L WebP bytes.

    `use_palette=None` auto-selects COLOR_INDEXING when the image has
    <= 256 distinct colors (with sub-byte bundling under 17); pass
    False to force the literal/cache path, True to require a palette
    (raises if over 256 colors).  Streams decode with libwebp
    (asserted in tests when the system library is present)."""
    h, w, _ = pixels.shape
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("dimensions out of VP8L range")
    argb_px = (0xFF000000
               | (pixels[:, :, 0].astype(np.uint32) << 16)
               | (pixels[:, :, 1].astype(np.uint32) << 8)
               | pixels[:, :, 2].astype(np.uint32)).reshape(-1)

    colors = np.unique(argb_px)
    if use_palette is None:
        use_palette = len(colors) <= 256
    elif use_palette and len(colors) > 256:
        raise ValueError("palette mode needs <= 256 distinct colors")

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)          # no alpha
    bw.write(0, 3)          # version

    if use_palette:
        palette = sorted(int(c) for c in colors)
        lookup = {c: i for i, c in enumerate(palette)}
        bw.write(1, 1)                      # transform present
        bw.write(_T_COLOR_INDEXING, 2)
        bw.write(len(palette) - 1, 8)
        # palette is transmitted delta-coded, as its own image stream
        deltas = []
        prev = 0
        for c in palette:
            d = 0
            for shift in (0, 8, 16, 24):
                d |= (((c >> shift) - (prev >> shift)) & 0xFF) << shift
            deltas.append(d)
            prev = c
        _write_image_stream(bw, deltas, cache_bits=0, use_lz77=False)
        bw.write(0, 1)                      # no more transforms
        wb = _palette_width_bits(len(palette))
        packed_w = _subsample_size(w, wb)
        bpp = 8 >> wb
        per = 1 << wb
        packed = []
        idx = argb_px.reshape(h, w)
        for y in range(h):
            for px_ in range(packed_w):
                g = 0
                for j in range(per):
                    x = px_ * per + j
                    if x < w:
                        g |= lookup[int(idx[y, x])] << (j * bpp)
                packed.append(0xFF000000 | (g << 8))
        _write_image_stream(bw, packed, cache_bits, use_lz77,
                            top_level=True)
    else:
        stream = argb_px.copy()
        if subtract_green:
            bw.write(1, 1)
            bw.write(_T_SUBTRACT_GREEN, 2)
            g = (stream >> 8) & 0xFF
            r = (((stream >> 16) & 0xFF) - g) & 0xFF
            b = ((stream & 0xFF) - g) & 0xFF
            stream = (stream & 0xFF00FF00) | (r << 16) | b
        bw.write(0, 1)                      # no more transforms
        _write_image_stream(bw, [int(v) for v in stream],
                            cache_bits, use_lz77, top_level=True)

    payload = b"\x2f" + bw.getvalue()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
