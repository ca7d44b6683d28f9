"""WebP-lossless (VP8L) codec tests.

Certification strategy: the decoder must be a GENERAL VP8L decoder,
so beyond round-tripping our own encoder's streams, every test that
matters runs against the SYSTEM libwebp (ctypes, skipped when the
shared library is absent):

- libwebp must decode our encoder's streams bit-exactly
  (interoperability of the canonical-prefix-code writer);
- our decoder must decode libwebp's encoder output bit-exactly
  (exercises predictor/color transforms, color cache, meta prefix
  codes and 2D LZ77 distances that our own encoder never emits);
- a crafted stream drives a copy through EVERY one of the 120
  2D distance codes and both decoders must agree pixel-for-pixel
  (entry-by-entry certification of the generated distance map).
"""

import ctypes

import numpy as np
import pytest

from jsonschema_spark.functions import webp
from jsonschema_spark.functions.webp import (
    _BitWriter, _build_lengths, _lz77_code, _write_prefix_code,
    _NUM_LENGTH_CODES, _NUM_LITERALS, _NUM_DISTANCE_CODES,
    decode_webp, encode_webp,
)


def _libwebp():
    try:
        lib = ctypes.CDLL("libwebp.so.7")
    except OSError:
        return None
    lib.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
    lib.WebPEncodeLosslessRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.c_void_p)]
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
    return lib


LIB = _libwebp()
needs_libwebp = pytest.mark.skipif(LIB is None,
                                   reason="system libwebp not present")


def lib_encode(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    rgba = np.dstack([img, np.full((h, w, 1), 255, np.uint8)])
    out = ctypes.c_void_p()
    n = LIB.WebPEncodeLosslessRGBA(rgba.tobytes(), w, h, w * 4,
                                   ctypes.byref(out))
    assert n > 0
    blob = ctypes.string_at(out, n)
    LIB.WebPFree(out)
    return blob


def lib_decode(blob: bytes):
    w = ctypes.c_int()
    h = ctypes.c_int()
    p = LIB.WebPDecodeRGBA(blob, len(blob), ctypes.byref(w),
                           ctypes.byref(h))
    if not p:
        return None
    arr = np.ctypeslib.as_array(p, shape=(h.value, w.value, 4)).copy()
    LIB.WebPFree(p)
    return arr[:, :, :3]


def _corpus():
    rng = np.random.default_rng(11)
    return {
        "noise": rng.integers(0, 255, size=(23, 31, 3)).astype(np.uint8),
        "flat": np.full((16, 16, 3), 200, np.uint8),
        "gradient": (np.add.outer(np.arange(32), np.arange(48))[..., None]
                     * np.array([3, 5, 7]) % 256).astype(np.uint8),
        "palette7": (rng.integers(0, 7, size=(19, 27, 1))
                     * np.array([[[35, 20, 11]]])).astype(np.uint8),
        "2color": np.tile(np.array([[[0, 0, 0], [255, 255, 255]]],
                                   np.uint8), (3, 20, 1)),
        "tiled": np.tile(rng.integers(0, 255, size=(8, 8, 3))
                         .astype(np.uint8), (6, 6, 1)),
        "1x1": np.array([[[5, 6, 7]]], np.uint8),
        "1xN": rng.integers(0, 255, size=(1, 40, 3)).astype(np.uint8),
        "Nx1": rng.integers(0, 255, size=(40, 1, 3)).astype(np.uint8),
    }


def test_roundtrip_matrix():
    """Our encoder x our decoder across palette/cache/lz77/transform
    option combinations, bit-exact."""
    for name, img in _corpus().items():
        for kwargs in ({}, {"use_palette": False},
                       {"use_palette": False, "cache_bits": 0},
                       {"use_palette": False, "subtract_green": False,
                        "use_lz77": False},
                       {"use_palette": False, "cache_bits": 11}):
            blob = encode_webp(img, **kwargs)
            dec = decode_webp(blob)
            assert dec is not None, (name, kwargs)
            assert np.array_equal(dec, img), (name, kwargs)


def test_malformed_blobs_return_none():
    img = _corpus()["gradient"]
    blob = encode_webp(img)
    assert decode_webp(b"") is None
    assert decode_webp(b"RIFF\x00\x00\x00\x00WEBP") is None
    assert decode_webp(blob[:len(blob) // 2]) is None           # truncated
    assert decode_webp(blob[:20] + b"\x00" + blob[21:]) is None  # bad sig
    assert decode_webp(b"JUNK" + blob[4:]) is None               # bad RIFF
    # lossy VP8 payloads are out of scope -> None, not a crash
    assert decode_webp(blob[:12] + b"VP8 " + blob[16:]) is None


def _craft_descending_simple_stream():
    """Hand-built 2x1 VP8L stream whose green channel uses the 'simple'
    2-symbol prefix form with the symbols transmitted in DESCENDING
    order (sym0=200, sym1=3).  The spec's pseudo-code sets both code
    lengths to 1 and builds the usual CANONICAL table (code 0 -> the
    numerically smaller symbol) — and the system libwebp agrees
    (verified below) — so a transmission-order table would decode the
    two greens swapped.  libwebp's encoder always emits ascending
    pairs, so only a crafted stream can pin this down."""
    import struct
    bw = _BitWriter()
    bw.write(1, 14)                # w - 1  -> w = 2
    bw.write(0, 14)                # h - 1  -> h = 1
    bw.write(0, 1)                 # no alpha
    bw.write(0, 3)                 # version
    bw.write(0, 1)                 # no transforms
    bw.write(0, 1)                 # no color cache
    bw.write(0, 1)                 # no meta prefix codes
    # green: simple, 2 symbols, first 8-bit, DESCENDING (200 then 3)
    bw.write(1, 1)
    bw.write(1, 1)
    bw.write(1, 1)
    bw.write(200, 8)
    bw.write(3, 8)
    # red / blue / alpha: trivial single-symbol codes (0 payload bits)
    for sym in (7, 9, 255):
        bw.write(1, 1)
        bw.write(0, 1)
        bw.write(1, 1)
        bw.write(sym, 8)
    # distance: trivial single symbol 0 (1-bit symbol form)
    bw.write(1, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    # payload: pixel 0 green code 0 (-> 200), pixel 1 green code 1 (-> 3)
    bw.write_code(0, 1)
    bw.write_code(1, 1)
    payload = b"\x2f" + bw.getvalue()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def test_simple_pair_canonical_order():
    """Simple 2-symbol codes use CANONICAL assignment (code 0 -> the
    numerically smaller symbol) even when the stream transmits the
    pair in descending order — pinned against libwebp below."""
    blob = _craft_descending_simple_stream()
    dec = decode_webp(blob)
    assert dec is not None
    expected = np.array([[[7, 3, 9], [7, 200, 9]]], np.uint8)
    assert np.array_equal(dec, expected), dec.tolist()


@needs_libwebp
def test_simple_pair_canonical_order_vs_libwebp():
    """The authoritative check: libwebp.so.7 decodes the descending
    crafted pair canonically (first pixel green == 3, not 200)."""
    blob = _craft_descending_simple_stream()
    ours = decode_webp(blob)
    theirs = lib_decode(blob)
    assert theirs is not None
    assert theirs[0, 0, 1] == 3 and theirs[0, 1, 1] == 200
    assert np.array_equal(ours, theirs)


def test_palette_forced_over_256_colors_raises():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 255, size=(30, 30, 3)).astype(np.uint8)
    with pytest.raises(ValueError):
        encode_webp(img, use_palette=True)


@needs_libwebp
def test_libwebp_decodes_our_streams():
    for name, img in _corpus().items():
        for kwargs in ({}, {"use_palette": False},
                       {"use_palette": False, "cache_bits": 0}):
            dec = lib_decode(encode_webp(img, **kwargs))
            assert dec is not None, (name, kwargs)
            assert np.array_equal(dec, img), (name, kwargs)


@needs_libwebp
def test_we_decode_libwebp_streams():
    """libwebp's encoder uses predictor tiles, cross-color transforms,
    color cache, meta prefix codes and 2D LZ77 — machinery our own
    encoder never emits — so this is the decoder-generality proof."""
    for name, img in _corpus().items():
        dec = decode_webp(lib_encode(img))
        assert dec is not None, name
        assert np.array_equal(dec, img), name


def _craft_distance_stream(w=20, h=16, n_lead=160):
    """Hand-write a VP8L stream: `n_lead` distinct literals, then one
    length-1 copy through EACH of the 120 2D distance codes, then
    literals to fill.  No transforms / cache / meta codes."""
    n = w * h
    lits = [(0xFF000000 | (((p * 7) % 256) << 16) | (((p * 13) % 256) << 8)
             | ((p * 29) % 256)) for p in range(n)]
    toks = []
    for p in range(n_lead):
        toks.append(("lit", lits[p]))
    for i in range(120):
        toks.append(("copy", 1, i + 1))      # dist_val = 1..120 (2D map)
    for p in range(n_lead + 120, n):
        toks.append(("lit", lits[p]))

    green_size = _NUM_LITERALS + _NUM_LENGTH_CODES
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
        else:
            _, length, dist_val = tok
            freqs[0][_NUM_LITERALS + _lz77_code(length)[0]] += 1
            freqs[4][_lz77_code(dist_val)[0]] += 1

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)          # alpha hint
    bw.write(0, 3)          # version
    bw.write(0, 1)          # no transforms
    bw.write(0, 1)          # no color cache
    bw.write(0, 1)          # no meta prefix codes
    tables = [_write_prefix_code(bw, _build_lengths(list(f)))
              for f in freqs]
    g_t, r_t, b_t, a_t, d_t = tables

    def put(table, sym):
        c, length = table[sym]
        if length:
            bw.write_code(c, length)

    for tok in toks:
        if tok[0] == "lit":
            argb = tok[1]
            put(g_t, (argb >> 8) & 0xFF)
            put(r_t, (argb >> 16) & 0xFF)
            put(b_t, argb & 0xFF)
            put(a_t, (argb >> 24) & 0xFF)
        else:
            _, length, dist_val = tok
            code, extra, ebits = _lz77_code(length)
            put(g_t, _NUM_LITERALS + code)
            if ebits:
                bw.write(extra, ebits)
            code, extra, ebits = _lz77_code(dist_val)
            put(d_t, code)
            if ebits:
                bw.write(extra, ebits)

    import struct
    payload = b"\x2f" + bw.getvalue()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def test_distance_map_self_consistent():
    """The crafted every-code stream decodes, and each copy lands the
    pixel our generated (dx, dy) table says it should."""
    blob = _craft_distance_stream()
    dec = decode_webp(blob)
    assert dec is not None
    flat = dec.reshape(-1, 3)
    for i in range(120):
        pos = 160 + i
        dx, dy = webp._DISTANCE_MAP[i]
        dist = max(dy * 20 + dx, 1)
        assert np.array_equal(flat[pos], flat[pos - dist]), (i, dx, dy)


@needs_libwebp
def test_distance_map_entrywise_vs_libwebp():
    """libwebp decodes the same crafted stream; pixel-for-pixel
    equality certifies every one of the 120 generated map entries
    against the authoritative implementation."""
    blob = _craft_distance_stream()
    ours = decode_webp(blob)
    theirs = lib_decode(blob)
    assert ours is not None and theirs is not None
    assert np.array_equal(ours, theirs)


def test_webp_images_table_planted_violations(spark):
    """webp_images_df plants truncation (decode fail), VP8L-signature
    kill (decode fail), and pre-encode pixel damage (low PSNR) at
    known id rates; decode_pixels must find exactly those, and
    every intact row round-trips losslessly -> PSNR 99."""
    from jsonschema_spark.operators.multimodal import decode_pixels
    from jsonschema_spark.sources.images import webp_images_df

    n = 1200
    img = webp_images_df(spark, n)
    dec = {r["image_id"]: r
           for r in decode_pixels(img, psnr=True).collect()}
    assert len(dec) == n
    for i in range(n):
        r = dec[f"wbp_{i:012x}"]
        if i % 251 == 0 or (i % 311 == 0 and i != 0):
            assert not r["decode_ok"], i
        elif i % 157 == 0:
            assert r["decode_ok"] and r["psnr"] < 40.0, (i, r["psnr"])
        else:
            assert r["decode_ok"] and r["psnr"] == 99.0, (i, r["psnr"])
            assert r["decoded_w"] == 16 and r["decoded_h"] == 16


# ------------------------------------------------------------ fuzzing ---

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    _HAVE_HYP = True
except ImportError:                                   # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:
    _img_strategy = st.builds(
        lambda w, h, mode, seed: _fuzz_image(w, h, mode, seed),
        st.integers(1, 40), st.integers(1, 40),
        st.sampled_from(["noise", "flat", "palette", "gradient",
                         "stripes"]),
        st.integers(0, 2**31 - 1))

    def _fuzz_image(w, h, mode, seed):
        rng = np.random.default_rng(seed)
        if mode == "noise":
            return rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        if mode == "flat":
            return np.full((h, w, 3), rng.integers(0, 256), np.uint8)
        if mode == "palette":
            k = int(rng.integers(2, 17))
            pal = rng.integers(0, 256, size=(k, 3)).astype(np.uint8)
            return pal[rng.integers(0, k, size=(h, w))]
        if mode == "gradient":
            return (np.add.outer(np.arange(h), np.arange(w))[..., None]
                    * rng.integers(1, 9, size=3) % 256).astype(np.uint8)
        base = rng.integers(0, 256, size=(1, w, 3)).astype(np.uint8)
        return np.repeat(base, h, axis=0)

    @pytest.mark.skipif(LIB is None, reason="system libwebp not present")
    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(img=_img_strategy)
    def test_fuzz_roundtrip_and_interop(img):
        """Random dims x content classes: our round-trip is bit-exact,
        libwebp accepts our stream, and we accept libwebp's."""
        blob = encode_webp(img)
        assert np.array_equal(decode_webp(blob), img)
        assert np.array_equal(lib_decode(blob), img)
        assert np.array_equal(decode_webp(lib_encode(img)), img)
