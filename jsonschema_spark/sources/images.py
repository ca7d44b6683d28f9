"""Deterministic synthetic north-star table (FIXTURES.md §1).

Iceberg-shaped image+caption table ``(image_id string, bytes binary,
w int, h int, fmt string, caption string, phash long)`` with violations
planted at known rates.  Generation is **fully vectorized**: a single
``spark.range(n)`` plus native column expressions (xxhash64-derived
pseudo-randomness) — no driver loops, no Python UDFs — so the same code
path generates 10k rows for unit tests or 10^8+ rows for benchmarks with
linear scaling across executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42

_VOCAB = [
    "cat", "dog", "sunset", "mountain", "river", "portrait", "street",
    "macro", "night", "forest", "ocean", "city", "bird", "flower", "cloud",
    "vintage", "abstract", "light", "shadow", "mirror", "window", "bridge",
    "train", "market", "festival", "rain", "snow", "desert", "island",
    "garden", "museum", "library", "harbor", "canyon", "glacier", "meadow",
]

# planted violation rates (FIXTURES.md §1)
DUP_ID_MOD = 200        # 0.5% duplicated image_ids
BAD_ID_MOD = 1000       # 0.1% malformed image_ids
BAD_DIM_MOD = 500       # 0.2% out-of-range w/h
BAD_FMT_MOD = 100       # 1% out-of-enum fmt
NULL_CAPTION_MOD = 200  # 0.5% null captions
EMPTY_CAPTION_MOD = 500  # 0.2% empty captions
LONG_CAPTION_MOD = 1000  # 0.1% over-long captions
DUP_PHASH_MOD = 333     # 0.3% colliding phash
NEAR_PHASH_MOD = 389    # ~0.5% NEAR-dup phash (hamming 1 / 3 vs prev row)
TRUNC_BYTES_MOD = 1000  # 0.1% truncated payloads
ORPHAN_LICENSE_MOD = 500  # 0.2% license_id absent from the dim


def _u(col: Column, salt: int) -> Column:
    """Deterministic uniform [0,1) from a column (native xxhash64)."""
    h = F.xxhash64(col, F.lit(salt), F.lit(SEED))
    return (F.pmod(h, F.lit(1_000_000)).cast("double")) / 1_000_000.0


def _log_uniform(col: Column, salt: int, lo: float, hi: float) -> Column:
    import math
    r = _u(col, salt)
    return F.floor(F.exp(F.lit(math.log(lo))
                         + r * F.lit(math.log(hi) - math.log(lo)))).cast("int")


def _caption(idc: Column) -> Column:
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    # bimodal word count: 70% short (5-15), 30% long (60-180) — exercises
    # caption-length skew + drift checks
    short = (F.pmod(F.xxhash64(idc, F.lit(3), F.lit(SEED)), F.lit(11)) + 5)
    long_ = (F.pmod(F.xxhash64(idc, F.lit(4), F.lit(SEED)), F.lit(121)) + 60)
    n_words = F.when(_u(idc, 5) < 0.7, short).otherwise(long_).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            vocab, (F.pmod(F.xxhash64(idc, i, F.lit(SEED)),
                           F.lit(len(_VOCAB))) + 1).cast("int")))
    return F.array_join(words, " ")


def reference_caption(idc: Column) -> Column:
    """The deterministic reference caption for a row id — the ground
    truth of the north-rule per-row invariant's *caption equality* half
    (BASELINE.json input_hint: decoded-pixel allclose + caption
    equality).  Pure native expression (xxhash64 word salad), so the
    equality check is codegen'd, no UDF."""
    return _caption(idc)


def _payload(idc: Column, w: Column, h: Column, fmt: Column) -> Column:
    """Deterministic opaque payload with a parseable 16-byte header:
    magic(4) | w(4, hex) | h(4, hex) | checksum(4) then a body whose length
    scales with w*h (capped) — enough structure for decode-stub tests."""
    header = F.concat(
        F.lit("IMG0"),
        F.lpad(F.conv(w.cast("string"), 10, 16), 4, "0"),
        F.lpad(F.conv(h.cast("string"), 10, 16), 4, "0"),
        F.substring(F.md5(F.concat_ws("|", idc, fmt)), 1, 4))
    body_len = F.least(F.lit(240), (w * h / 65536).cast("int") + 16)
    body = F.substring(F.repeat(F.md5(idc.cast("string")), 8), 1, body_len)
    return F.encode(F.concat(header, body), "UTF-8")


def images_df(spark: SparkSession, n_rows: int = 10_000,
              partitions: int | None = None,
              with_license: bool = False,
              with_id: bool = False) -> DataFrame:
    """The synthetic north-star table with planted violations.
    `with_id` appends the generating row id (for invariant checks that
    compare against the deterministic reference values for the id)."""
    parts = partitions or max(8, n_rows // 250_000)
    df = spark.range(0, n_rows, 1, parts)
    idc = F.col("id")

    dup_src = F.when((idc % DUP_ID_MOD == 7) & (idc > 0), idc - 1).otherwise(idc)
    image_id = F.when(idc % BAD_ID_MOD == 13,
                      F.format_string("IMG-%012X", dup_src))  # fails pattern
    image_id = image_id.otherwise(F.format_string("img_%012x", dup_src))

    w = _log_uniform(idc, 1, 16, 4096)
    h = _log_uniform(idc, 2, 16, 4096)
    w = (F.when(idc % BAD_DIM_MOD == 11, F.lit(0))
         .when(idc % BAD_DIM_MOD == 211, F.lit(20000)).otherwise(w))
    h = F.when(idc % BAD_DIM_MOD == 311, F.lit(-3)).otherwise(h)

    r_fmt = _u(idc, 6)
    fmt = (F.when(idc % BAD_FMT_MOD == 37, F.lit("bmp"))
           .when(idc % BAD_FMT_MOD == 73, F.lit(""))
           .when(r_fmt < 0.80, F.lit("jpeg"))
           .when(r_fmt < 0.95, F.lit("png"))
           .otherwise(F.lit("webp")))

    # remainders chosen so the branches are DISJOINT under the
    # earlier-wins when-chain: 101 mod 200 -> {101, 1}; 207 mod 200 ->
    # {7, 107} and 207 mod 500 -> 207 != 101 — so empty/long captions
    # actually plant at their full FIXTURES.md rates (the original
    # 103/203 remainders collided with the null branch: 203 === 3 mod
    # 200 shadowed EVERY long caption, 603 === 3 mod 200 half the
    # empty ones)
    caption = (F.when(idc % NULL_CAPTION_MOD == 3, F.lit(None).cast("string"))
               .when(idc % EMPTY_CAPTION_MOD == 101, F.lit(""))
               .when(idc % LONG_CAPTION_MOD == 207,
                     F.repeat(F.lit("x"), 3000))
               .otherwise(_caption(idc)))

    def _phash_base(j):
        # exact-dup plant folded in: row j borrows row j-1's value
        src = F.when((j % DUP_PHASH_MOD == 5) & (j > 0), j - 1).otherwise(j)
        return F.pmod(src * F.lit(2654435761), F.lit(2 ** 61 - 1)).cast("long")

    # NEAR-dup phash plant: flip 1 or 3 adjacent low-61 bits of the
    # PREVIOUS row's base value (bit position id%58 keeps the flips
    # inside 61 bits, so phash stays non-negative).  Remainders 9/97
    # can't land on consecutive ids, so the flipped-against neighbor's
    # value is always its own _phash_base.
    near_bit = "cast(pmod(id, 58) as int)"
    phash = (F.when((idc % NEAR_PHASH_MOD == 9) & (idc > 0),
                    _phash_base(idc - 1)
                    .bitwiseXOR(F.expr(f"shiftleft(1L, {near_bit})")))
             .when((idc % NEAR_PHASH_MOD == 97) & (idc > 0),
                   _phash_base(idc - 1)
                   .bitwiseXOR(F.expr(f"shiftleft(7L, {near_bit})")))
             .otherwise(_phash_base(idc)))

    payload = _payload(idc, F.greatest(w, F.lit(1)), F.greatest(h, F.lit(1)), fmt)
    payload = F.when(idc % TRUNC_BYTES_MOD == 41,
                     F.substring(payload, 1, 8).cast("binary")).otherwise(payload)

    cols = [
        image_id.alias("image_id"),
        payload.alias("bytes"),
        w.alias("w"),
        h.alias("h"),
        fmt.alias("fmt"),
        caption.alias("caption"),
        phash.alias("phash"),
    ]
    if with_license:
        lic = F.when(idc % ORPHAN_LICENSE_MOD == 17, F.lit("lic_missing"))
        lic = lic.otherwise(F.concat(F.lit("lic_"),
                                     F.pmod(idc, F.lit(8)).cast("string")))
        cols.append(lic.alias("license_id"))
    if with_id:
        cols.append(idc.alias("id"))
    return df.select(*cols)


def licenses_df(spark: SparkSession) -> DataFrame:
    """Small dim table for referential checks: ``lic_0`` .. ``lic_7``.
    Built from Columns, not a local Python list, whose scan would start
    a Python worker."""
    i = F.col("id").cast("string")
    return spark.range(8).select(
        F.concat(F.lit("lic_"), i).alias("license_id"),
        F.concat(F.lit("License "), i).alias("name"))


#: the JSON-Schema constraint spec the north-star table is validated with —
#: mirrors BASELINE.json input_hint + FIXTURES.md §1 planted violations
IMAGES_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "type": "object",
    "required": ["image_id", "w", "h", "fmt", "caption", "phash"],
    "properties": {
        "image_id": {"type": "string", "pattern": "^img_[0-9a-f]{12}$"},
        "w": {"type": "integer", "minimum": 1, "maximum": 16384},
        "h": {"type": "integer", "minimum": 1, "maximum": 16384},
        "fmt": {"enum": ["jpeg", "png", "webp"]},
        "caption": {"type": "string", "minLength": 1, "maxLength": 2048},
        "phash": {"type": "integer", "minimum": 0},
    },
    "x-spark": {
        "unique": ["image_id", "phash"],
        "referential": [
            {"column": "license_id",
             "ref": {"table": "licenses", "key": "license_id"}},
        ],
    },
}


def bmp_images_df(spark: SparkSession, n_rows: int = 2_000,
                  partitions: int = 8, size: int = 16) -> DataFrame:
    """Images with REAL decodable payloads: each row carries an actual
    Windows-BMP file (24-bit, numpy-encoded — see
    operators/multimodal.encode_bmp) of the row's deterministic
    reference pixels, with violations planted at known rates:

    - id % 251 == 0: payload truncated mid-body (decode fails)
    - id % 157 == 0: one pixel row corrupted (decodes, PSNR collapses)

    Everything else decodes bit-exact against ``expected_pixels`` ->
    PSNR 99 (capped inf).  Generation runs in mapInPandas so the
    encoder vectorizes per Arrow batch and scales with partitions."""
    import pandas as pd

    from ..operators.multimodal import encode_bmp, expected_pixels

    base = spark.range(n_rows).repartition(partitions)

    def gen(batches):
        for pdf in batches:
            out = {"id": [], "image_id": [], "bytes": [], "w": [],
                   "h": [], "fmt": [], "caption": [], "phash": []}
            for i in pdf["id"]:
                i = int(i)
                out["id"].append(i)
                image_id = f"bmp_{i:012x}"
                px = expected_pixels(image_id, size, size)
                if i % 157 == 0 and i % 251 != 0:
                    px = px.copy()
                    px[size // 2, :, :] = 255 - px[size // 2, :, :]
                blob = encode_bmp(px)
                if i % 251 == 0:
                    blob = blob[:54 + len(blob) // 3]
                out["image_id"].append(image_id)
                out["bytes"].append(blob)
                out["w"].append(size)
                out["h"].append(size)
                out["fmt"].append("bmp")
                out["caption"].append(f"real bmp {i}")
                out["phash"].append(i * 2654435761 % (1 << 62))
            yield pd.DataFrame(out)

    return base.mapInPandas(
        gen, schema="id long, image_id string, bytes binary, w int, "
                    "h int, fmt string, caption string, phash long")


def phash_images_df(spark: SparkSession, n_rows: int = 2_000,
                    partitions: int = 8, size: int = 16) -> DataFrame:
    """Images whose ``phash`` column is the REAL perceptual hash of the
    payload pixels (operators/multimodal.dct_phash over the decodable
    BMP blob), with integrity violations planted at known rates:

    - id % 251 == 0: payload truncated mid-body -> decode fails, the
      stored phash is unverifiable;
    - id % 211 == 0 (and decodable): stored phash corrupted by two bit
      flips (bits 3 and 47) -> hamming 2 mismatch;
    - everything else: stored phash == recomputed phash exactly (BMP is
      lossless, so decode is bit-exact).

    The integrity checker (decode_pixels(phash=True)) must find exactly the
    planted damage and nothing else."""
    import pandas as pd

    from ..operators.multimodal import dct_phash, encode_bmp, expected_pixels

    base = spark.range(n_rows).repartition(partitions)

    def gen(batches):
        for pdf in batches:
            out = {"id": [], "image_id": [], "bytes": [], "w": [],
                   "h": [], "fmt": [], "caption": [], "phash": []}
            for i in pdf["id"]:
                i = int(i)
                out["id"].append(i)
                image_id = f"ph_{i:012x}"
                px = expected_pixels(image_id, size, size)
                blob = encode_bmp(px)
                ph = dct_phash(px)
                if i % 251 == 0:
                    blob = blob[:54 + len(blob) // 3]
                elif i % 211 == 0:
                    ph ^= (1 << 3) | (1 << 47)
                out["image_id"].append(image_id)
                out["bytes"].append(blob)
                out["w"].append(size)
                out["h"].append(size)
                out["fmt"].append("bmp")
                out["caption"].append(f"phash fixture {i}")
                out["phash"].append(ph)
            yield pd.DataFrame(out)

    return base.mapInPandas(
        gen, schema="id long, image_id string, bytes binary, w int, "
                    "h int, fmt string, caption string, phash long")


def png_images_df(spark: SparkSession, n_rows: int = 2_000,
                  partitions: int = 8, size: int = 16) -> DataFrame:
    """Images with REAL **compressed** payloads: each row carries an
    actual PNG file (8-bit truecolor, zlib IDAT, CRC-correct — see
    operators/multimodal.encode_png) of the row's deterministic
    reference pixels, violations planted at known rates:

    - id % 251 == 0: payload truncated mid-IDAT (chunk short ->
      decode fails — with a compressed body, truncation is detected
      structurally, not by a length formula)
    - id % 157 == 0: one pixel row inverted BEFORE encode (valid PNG,
      PSNR collapses)
    - id % 311 == 0: one IDAT byte flipped AFTER encode (CRC mismatch
      -> decode fails)

    Everything else round-trips bit-exact -> PSNR 99."""
    import pandas as pd

    from ..operators.multimodal import encode_png, expected_pixels

    base = spark.range(n_rows).repartition(partitions)

    def gen(batches):
        for pdf in batches:
            out = {"id": [], "image_id": [], "bytes": [], "w": [],
                   "h": [], "fmt": [], "caption": [], "phash": []}
            for i in pdf["id"]:
                i = int(i)
                out["id"].append(i)
                image_id = f"png_{i:012x}"
                px = expected_pixels(image_id, size, size)
                if i % 157 == 0 and i % 251 != 0 and i % 311 != 0:
                    px = px.copy()
                    px[size // 2, :, :] = 255 - px[size // 2, :, :]
                blob = encode_png(px)
                if i % 251 == 0:
                    blob = blob[:len(blob) // 2]
                elif i % 311 == 0 and i != 0:
                    j = 48  # inside the IDAT body
                    blob = blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:]
                out["image_id"].append(image_id)
                out["bytes"].append(blob)
                out["w"].append(size)
                out["h"].append(size)
                out["fmt"].append("png")
                out["caption"].append(f"real png {i}")
                out["phash"].append(i * 2654435761 % (1 << 62))
            yield pd.DataFrame(out)

    return base.mapInPandas(
        gen, schema="id long, image_id string, bytes binary, w int, "
                    "h int, fmt string, caption string, phash long")


def jpeg_images_df(spark: SparkSession, n_rows: int = 2_000,
                   partitions: int = 8, size: int = 16,
                   quality: int = 98) -> DataFrame:
    """Images with REAL **lossy** payloads: each row carries an actual
    baseline JFIF JPEG (4:4:4, in-file DQT/DHT — see functions/jpeg)
    of the row's deterministic reference pixels.  This is the tier the
    north rule's per-row invariant is phrased for: "decoded-pixel
    allclose (PSNR>=40dB for lossy fmt)" — at quality 98 the codec
    reconstructs even the high-entropy reference images above 43 dB,
    so intact rows clear the bar with margin while planted damage
    collapses far below it.  Violations planted at known rates:

    - id % 251 == 0: payload truncated mid-entropy-data (EOI lost ->
      decode fails)
    - id % 157 == 0: one pixel row inverted BEFORE encode (valid
      JPEG, PSNR collapses to ~17 dB)
    - id % 311 == 0: the SOF0 marker byte zeroed AFTER encode
      (structurally invalid -> decode fails; the header byte-math
      sees the same damage, so engine and oracle cross-check it)"""
    import pandas as pd

    from ..functions.jpeg import encode_jpeg
    from ..operators.multimodal import expected_pixels

    base = spark.range(n_rows).repartition(partitions)

    def gen(batches):
        for pdf in batches:
            out = {"id": [], "image_id": [], "bytes": [], "w": [],
                   "h": [], "fmt": [], "caption": [], "phash": []}
            for i in pdf["id"]:
                i = int(i)
                out["id"].append(i)
                image_id = f"jpg_{i:012x}"
                px = expected_pixels(image_id, size, size)
                if i % 157 == 0 and i % 251 != 0 and i % 311 != 0:
                    px = px.copy()
                    px[size // 2, :, :] = 255 - px[size // 2, :, :]
                blob = encode_jpeg(px, quality=quality)
                if i % 251 == 0:
                    blob = blob[:len(blob) // 2]
                elif i % 311 == 0 and i != 0:
                    blob = blob[:158] + b"\x00" + blob[159:]  # kill SOF0
                out["image_id"].append(image_id)
                out["bytes"].append(blob)
                out["w"].append(size)
                out["h"].append(size)
                out["fmt"].append("jpeg")
                out["caption"].append(f"real jpeg {i}")
                out["phash"].append(i * 2654435761 % (1 << 62))
            yield pd.DataFrame(out)

    return base.mapInPandas(
        gen, schema="id long, image_id string, bytes binary, w int, "
                    "h int, fmt string, caption string, phash long")


def webp_images_df(spark: SparkSession, n_rows: int = 2_000,
                   partitions: int = 8, size: int = 16) -> DataFrame:
    """Images with REAL **WebP-lossless** payloads: each row carries an
    actual RIFF/VP8L file (see functions/webp — entropy-coded with
    canonical prefix codes, interoperable with libwebp) of the row's
    deterministic reference pixels.  Violations planted at known rates:

    - id % 251 == 0: payload truncated mid-VP8L-chunk (RIFF size no
      longer covered -> decode fails structurally)
    - id % 157 == 0: one pixel row inverted BEFORE encode (valid WebP,
      lossless round-trip, PSNR collapses vs the reference pixels)
    - id % 311 == 0: the VP8L signature byte (0x2F) zeroed AFTER
      encode (structurally invalid -> decode fails; header byte-math
      oracles see the same damage)

    Everything else round-trips bit-exact -> PSNR 99."""
    import pandas as pd

    from ..functions.webp import encode_webp
    from ..operators.multimodal import expected_pixels

    base = spark.range(n_rows).repartition(partitions)

    def gen(batches):
        for pdf in batches:
            out = {"id": [], "image_id": [], "bytes": [], "w": [],
                   "h": [], "fmt": [], "caption": [], "phash": []}
            for i in pdf["id"]:
                i = int(i)
                out["id"].append(i)
                image_id = f"wbp_{i:012x}"
                px = expected_pixels(image_id, size, size)
                if i % 157 == 0 and i % 251 != 0 and i % 311 != 0:
                    px = px.copy()
                    px[size // 2, :, :] = 255 - px[size // 2, :, :]
                blob = encode_webp(px)
                if i % 251 == 0:
                    blob = blob[:len(blob) // 2]
                elif i % 311 == 0 and i != 0:
                    blob = blob[:20] + b"\x00" + blob[21:]  # kill VP8L sig
                out["image_id"].append(image_id)
                out["bytes"].append(blob)
                out["w"].append(size)
                out["h"].append(size)
                out["fmt"].append("webp")
                out["caption"].append(f"real webp {i}")
                out["phash"].append(i * 2654435761 % (1 << 62))
            yield pd.DataFrame(out)

    return base.mapInPandas(
        gen, schema="id long, image_id string, bytes binary, w int, "
                    "h int, fmt string, caption string, phash long")


def videos_df(spark: SparkSession, n_rows: int = 200,
              partitions: int = 8, size: int = 8,
              base_frames: int = 8) -> DataFrame:
    """Videos with REAL decodable frame payloads: each row carries the
    deterministic VID0 container (see operators/multimodal.encode_video)
    holding `base_frames + (id % 5)` BMP frames; frame f of video i
    reproduces ``expected_pixels(f"{video_id}:{f}")`` — so sampled
    frames are verifiable pixel-exact, and the frame count is
    byte-parseable from the container header (oracle-checkable)."""
    import pandas as pd

    from ..operators.multimodal import encode_video, expected_pixels

    base = spark.range(n_rows).repartition(partitions)

    def gen(batches):
        for pdf in batches:
            out = {"id": [], "video_id": [], "bytes": [],
                   "n_frames": [], "w": [], "h": []}
            for i in pdf["id"]:
                i = int(i)
                video_id = f"vid_{i:012x}"
                n = base_frames + (i % 5)
                frames = [expected_pixels(f"{video_id}:{f}", size, size)
                          for f in range(n)]
                out["id"].append(i)
                out["video_id"].append(video_id)
                out["bytes"].append(encode_video(frames))
                out["n_frames"].append(n)
                out["w"].append(size)
                out["h"].append(size)
            yield pd.DataFrame(out)

    return base.mapInPandas(
        gen, schema="id long, video_id string, bytes binary, "
                    "n_frames int, w int, h int")


def audio_df(spark: SparkSession, n_rows: int = 1_000,
             partitions: int = 8, base_samples: int = 800,
             sample_rate: int = 16_000) -> DataFrame:
    """Audio clips with REAL decodable payloads: each row carries an
    actual RIFF/WAVE PCM-16 file (operators/multimodal.encode_wav) of
    the row's deterministic reference signal
    (``expected_samples(audio_id, n)``, n = base_samples + id % 5 *
    160), violations planted at known rates:

    - id % 251 == 0: payload truncated mid-data (declared chunk size
      exceeds actual bytes -> decode fails)
    - id % 157 == 0: a block of samples zeroed pre-encode (valid WAV,
      SNR collapses)

    Everything else round-trips bit-exact -> SNR 99.  The header's
    sample-rate and data-size fields are little-endian byte-parseable,
    so a SQL oracle can recompute them independently."""
    import pandas as pd

    from ..operators.multimodal import encode_wav, expected_samples

    base = spark.range(n_rows).repartition(partitions)

    def gen(batches):
        for pdf in batches:
            out = {"id": [], "audio_id": [], "bytes": [],
                   "n_samples": [], "sample_rate": [], "caption": []}
            for i in pdf["id"]:
                i = int(i)
                audio_id = f"wav_{i:012x}"
                n = base_samples + (i % 5) * 160
                x = expected_samples(audio_id, n)
                if i % 157 == 0 and i % 251 != 0:
                    x = x.copy()
                    x[n // 4: n // 2] = 0
                blob = encode_wav(x, sample_rate)
                if i % 251 == 0:
                    blob = blob[: 44 + n]        # half the data chunk
                out["id"].append(i)
                out["audio_id"].append(audio_id)
                out["bytes"].append(blob)
                out["n_samples"].append(n)
                out["sample_rate"].append(sample_rate)
                out["caption"].append(f"clip {i}")
            yield pd.DataFrame(out)

    return base.mapInPandas(
        gen, schema="id long, audio_id string, bytes binary, "
                    "n_samples int, sample_rate int, caption string")


# planted alignment rates (aligned_embeddings_df)
ALIGN_NULL_MOD = 53      # ~1.9% NULL caption embedding
ALIGN_ZERO_MOD = 97      # ~1% zero-norm image embedding
ALIGN_FLIP_MOD = 41      # ~2.4% misaligned (negated) caption embedding


def aligned_embeddings_df(spark: SparkSession, n_rows: int = 20_000,
                          dim: int = 16,
                          partitions: int | None = None) -> DataFrame:
    """Synthetic caption-image embedding pairs for the ``alignment``
    check (the CLIP-score seam): ``(pair_id string, img array<float>,
    txt array<float>)`` — fully vectorized native generation (xxhash64
    component hashes, no UDFs), same linear-scaling contract as
    :func:`images_df`.

    Planted defects (when-chain priority: null > zero > flipped):

    - id % 53 == 3: ``txt`` NULL                 -> alignment:missing
    - id % 97 == 7: ``txt`` all-zero (zero norm) -> alignment:missing
    - id % 41 == 5: ``txt`` = -img + noise       -> cosine ~ -1
    - else:         ``txt`` =  img + noise (|noise_j| <= 0.1, so the
      cosine sits near +1 — far from any sane threshold, keeping the
      count comparison insensitive to float-summation order between
      engines)."""
    parts = partitions or max(8, n_rows // 250_000)
    df = spark.range(0, n_rows, 1, parts)
    idc = F.col("id")

    def comp(salt_base: int, sign: Column | None = None):
        def one(j: Column) -> Column:
            base = ((F.pmod(F.xxhash64(idc, j, F.lit(SEED)),
                            F.lit(2001)) - 1000) / 1000.0)
            noise = ((F.pmod(F.xxhash64(idc, j + 100, F.lit(salt_base)),
                             F.lit(201)) - 100) / 1000.0)
            if sign is None:
                return base.cast("float")
            return (sign * base + noise).cast("float")
        return one

    seq = F.sequence(F.lit(1), F.lit(dim))
    img = F.transform(seq, comp(0))
    txt_ok = F.transform(seq, comp(77, F.lit(1.0)))
    txt_flip = F.transform(seq, comp(77, F.lit(-1.0)))
    zeros = F.transform(seq, lambda j: F.lit(0.0).cast("float"))
    txt = (F.when(idc % ALIGN_NULL_MOD == 3,
                  F.lit(None).cast("array<float>"))
           .when(idc % ALIGN_ZERO_MOD == 7, zeros)
           .when(idc % ALIGN_FLIP_MOD == 5, txt_flip)
           .otherwise(txt_ok))
    return df.select(F.format_string("pair_%012x", idc).alias("pair_id"),
                     img.alias("img"), txt.alias("txt"))


def luma_images_df(spark: SparkSession, n_rows: int = 2_000,
                   partitions: int = 8, size: int = 16) -> DataFrame:
    """Planted corpus for the DECODED-tier image-quality block
    (``image_quality_decoded``): real BMP payloads whose luma stats
    land in known classes by id arithmetic (priority: truncated >
    solid > dark > bright):

    - id % 251 == 0: truncated payload        -> decode fails, SKIPPED
      (the pixel-invariant's finding, not a quality violation)
    - id % 97  == 0: solid mid-gray 128       -> luma std 0  (contrast)
    - id % 89  == 0: pixels // 16 (all < 16)  -> mean < 20   (dark)
    - id % 83  == 0: 255 - pixels // 16       -> mean > 235  (bright)
    - else: the textured reference pattern (mean ~127, std ~70 —
      far from every threshold, so engine float rounding cannot flip
      a class).

    The DuckDB oracle recounts the classes from the same id rules —
    structural certification that the decode+stats pipeline finds
    exactly the planted damage (the luma MATH itself is pinned against
    numpy in unit tests)."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_bmp, expected_pixels

    base = spark.range(n_rows).repartition(partitions)

    def gen(batches):
        for pdf in batches:
            out = {"id": [], "image_id": [], "bytes": [], "w": [],
                   "h": [], "fmt": [], "caption": []}
            for i in pdf["id"]:
                i = int(i)
                image_id = f"lq_{i:012x}"
                px = expected_pixels(image_id, size, size)
                if i % 251 == 0:
                    pass                      # truncated below
                elif i % 97 == 0:
                    px = np.full_like(px, 128)
                elif i % 89 == 0:
                    px = px // 16
                elif i % 83 == 0:
                    px = 255 - px // 16
                blob = encode_bmp(px)
                if i % 251 == 0:
                    blob = blob[:54 + len(blob) // 3]
                out["id"].append(i)
                out["image_id"].append(image_id)
                out["bytes"].append(blob)
                out["w"].append(size)
                out["h"].append(size)
                out["fmt"].append("bmp")
                out["caption"].append(f"luma fixture {i}")
            yield pd.DataFrame(out)

    return base.mapInPandas(
        gen, schema="id long, image_id string, bytes binary, w int, "
                    "h int, fmt string, caption string")
