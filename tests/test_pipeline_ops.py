"""Pipeline operators: dedup (exact/minhash/simhash/ngram), similarity
search, text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.dedup import (minhash_candidates,
                                              ngram_jaccard_pairs,
                                              simhash_duplicates)
from jsonschema_spark.operators.multimodal import decode_images
from jsonschema_spark.operators.similarity import (brute_force_topk,
                                                   max_cosine_per_vector)
from jsonschema_spark.sources.images import images_df

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),
    (3, "completely different text about machine learning and spark sql"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5, "der schnelle braune fuchs springt und der hund ist nicht da und"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_minhash_candidates(docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in minhash_candidates(docs, "doc_id", "text",
                                         num_hashes=64, bands=16,
                                         min_jaccard=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs  # near dup (one word differs)
    assert not any({3, 5} & {a, b} for a, b in pairs)


def test_simhash_duplicates(docs):
    # one changed token in a ~11-token set flips ~10/64 bits, so the
    # near-dup needs loose thresholds + narrow bands (more bands = higher
    # recall at a given hamming distance)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_duplicates(docs, "doc_id", "text", max_hamming=12,
                                band_bits=4).collect()}
    assert pairs[(1, 4)] == 0  # exact dup
    assert (1, 2) in pairs
    assert (3, 5) not in pairs  # unrelated (hamming ~27)


def test_ngram_jaccard(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                 min_jaccard=0.5).collect()}
    assert pairs[(1, 4)] == 1.0
    assert 0.5 <= pairs[(1, 2)] < 1.0


@pytest.fixture(scope="module")
def vectors(spark):
    import random
    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((i, [float(x) for x in base]))
        if i < 5:  # planted near-dups: tiny perturbation of vec i
            rows.append((100 + i,
                         [float(x + rng.gauss(0, 0.01)) for x in base]))
    return spark.createDataFrame(rows, "vec_id long, v array<double>").cache()


def test_brute_force_topk(vectors):
    top1 = {r["id"]: (r["neighbour_id"], r["cosine"])
            for r in brute_force_topk(vectors, "vec_id", "v", k=1).collect()}
    for i in range(5):
        assert top1[i][0] == 100 + i
        assert top1[i][1] > 0.999


def test_max_cosine_per_vector(vectors):
    out = {r["id"]: r["max_cosine"]
           for r in max_cosine_per_vector(vectors, "vec_id", "v").collect()}
    for i in range(5):
        assert out[i] > 0.999


def test_decode_images_and_psnr(spark):
    img = images_df(spark, 2000)
    dec = decode_images(img)
    rows = dec.collect()
    assert len(rows) == 2000
    ok = [r for r in rows if r["decode_ok"]]
    # 0.1% truncated -> 2 rows fail header/psnr
    assert len(rows) - len(ok) == 2
    # header round-trips the clamped dims
    sample = {r["image_id"]: r for r in ok}
    src = {r["image_id"]: r for r in img.collect()}
    for iid, r in list(sample.items())[:50]:
        assert r["decoded_w"] == max(src[iid]["w"], 1)
        assert r["decoded_h"] == max(src[iid]["h"], 1)
    from jsonschema_spark import validate_dataset
    viol = validate_dataset(
        img, {"type": "object",
              "x-spark": {"pixel_invariant": {"decode": "stub"}}},
        ["image_id"])
    # truncated payloads fail psnr; rows with w/h planted out of range
    # fail the metadata-equality invariant
    assert viol.count() >= 2
    assert viol.first()["keyword"] == "pixelInvariant"


def test_decode_images_stub_edge_cases(spark):
    """Stub header edge cases.  The expected (decode_ok, decoded_w,
    decoded_h, psnr) are the earlier per-row Python parser's outputs,
    except for the four fields only its int(x, 16) accepted."""
    body = b"x" * 16
    cases = {
        "null": (None, (False, 0, 0, 0.0)),
        "empty": (b"", (False, 0, 0, 0.0)),
        "b4": (b"IMG0", (False, 0, 0, 0.0)),
        "b8_truncated": (b"IMG00010", (False, 0, 0, 0.0)),
        "bad_magic": (b"IMG1001000100000" + body, (False, 0, 0, 0.0)),
        # unparsable field: not OK, dims 0, psnr still scored as w=h=0
        # (E = 16, 3 body bytes)
        "non_hex": (b"IMG0zz1000100000xxx",
                    (False, 0, 0, 0.9017663034908805)),
        "lower_hex": (b"IMG000ff00ff0000" + body, (True, 255, 255, 99.0)),
        "header_only": (b"IMG0001000100000", (True, 16, 16, 0.0)),
        "full_body": (b"IMG0001000100000" + body, (True, 16, 16, 99.0)),
        # E = min(240, 65535*65535 // 65536 + 16) = 240, 4 body bytes
        "ffff_short": (b"IMG0FFFFFFFF0000xxxx",
                       (True, 65535, 65535, 0.07299238741499424)),
        # int(x, 16) accepted these; a field is now exactly 4 hex digits
        "space": (b"IMG0 ff 00100000" + body, (False, 0, 0, 99.0)),
        "0x": (b"IMG00x1000100000" + body, (False, 0, 0, 99.0)),
        "plus": (b"IMG0+fff00100000" + body, (False, 0, 0, 99.0)),
        "underscore": (b"IMG00_ff00100000" + body, (False, 0, 0, 99.0)),
    }
    df = spark.createDataFrame(
        [(k, None if b is None else bytearray(b))
         for k, (b, _) in cases.items()], "image_id string, bytes binary")
    got = {r["image_id"]: (r["decode_ok"], r["decoded_w"], r["decoded_h"],
                           r["psnr"])
           for r in decode_images(df).collect()}
    for k, (_, want) in cases.items():
        if k == "ffff_short":
            # Spark's log10 may differ from numpy's by an ulp
            assert got[k][:3] == want[:3]
            assert got[k][3] == pytest.approx(want[3], rel=1e-15)
        else:
            assert got[k] == want, k


def test_ivf_topk_recall(spark):
    from jsonschema_spark.operators.similarity import (brute_force_topk,
                                                       ivf_topk)
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    truth = {r["id"]: r["neighbour_id"]
             for r in brute_force_topk(e, "vec_id", "embedding",
                                       k=1).collect()}
    approx = {r["id"]: r["neighbour_id"]
              for r in ivf_topk(e, "vec_id", "embedding", k=1,
                                n_lists=8, n_probe=3).collect()}
    hits = sum(1 for i, nb in truth.items() if approx.get(i) == nb)
    recall = hits / len(truth)
    assert recall >= 0.6, f"IVF top-1 recall {recall:.2f} too low"


def test_ivf_skewed_cell_chunk_bound(spark, monkeypatch):
    """VERDICT-r2 #2: a skewed quantizer cell (here ~all vectors in ONE
    cell) must not land in a single unbounded pandas cogroup.  Members
    are salted into <= chunk_size chunks; both the broadcast kernel and
    the cogroup raise if a group's member side exceeds 2x the bound, so
    simply completing this query on both paths certifies the
    invariant.  Probing every cell makes the search exhaustive, so
    results must equal brute force exactly."""
    import numpy as np
    import pandas as pd
    from jsonschema_spark.operators import similarity
    from jsonschema_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(5)
    base = rng.normal(size=32)
    rows = []
    for i in range(1500):
        # one dominant direction + tiny jitter -> one hot cell
        v = base + rng.normal(scale=0.01, size=32)
        rows.append((i, [float(x) for x in v]))
    for i in range(1500, 1550):
        rows.append((i, [float(x) for x in rng.normal(size=32)]))
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]}))
    want = {r["id"]: r["cosine"] for r in
            brute_force_topk(df, "vec_id", "embedding", k=1).collect()}
    # the kernel path (default cap) and the cogroup path (cap below n)
    for cap in (similarity.IVF_KERNEL_MAX_ROWS, len(rows) - 1):
        monkeypatch.setattr(similarity, "IVF_KERNEL_MAX_ROWS", cap)
        ann = similarity.ivf_topk(df, "vec_id", "embedding", k=1,
                                  n_lists=8, n_probe=8, chunk_size=100)
        got = {r["id"]: r["cosine"] for r in ann.collect()}
        assert set(got) == set(want)
        for i in want:
            assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])
    similarity.clear_ivf_cache()


def test_ivf_auto_n_lists(spark):
    """n_lists=None auto-sizes the quantizer to ~sqrt(n)."""
    from jsonschema_spark.operators.similarity import ivf_topk
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ivf_topk(e, "vec_id", "embedding", k=1, n_lists=None,
                   n_probe=6)
    n = e.count()
    assert out.count() == n       # every vector gets a neighbour


def test_video_frame_sampling(spark):
    """frame-sample (brief §multimodal): every stride-th frame becomes
    a row; sampled frames decode pixel-exact against the per-frame
    deterministic reference."""
    import numpy as np
    from jsonschema_spark.operators.multimodal import (decode_bmp,
                                                       expected_pixels)
    from jsonschema_spark.operators.multimodal import sample_frames
    from jsonschema_spark.sources.images import videos_df

    vids = videos_df(spark, 60)
    frames = sample_frames(vids, stride=4).collect()
    meta = {r["video_id"]: r["n_frames"] for r in
            vids.select("video_id", "n_frames").collect()}
    by_vid = {}
    for r in frames:
        by_vid.setdefault(r["video_id"], []).append(r)
    assert set(by_vid) == set(meta)
    for vid, rows in by_vid.items():
        idx = sorted(r["frame_idx"] for r in rows)
        assert idx == list(range(0, meta[vid], 4))
        for r in rows[:3]:
            px = decode_bmp(bytes(r["frame_bytes"]))
            assert r["w"] == r["h"] == 8
            assert np.array_equal(
                px, expected_pixels(f"{vid}:{r['frame_idx']}", 8, 8))


# ----------------------------------------- chunk-salted band joins --------

def test_chunked_bucket_pairs_bound_and_exactness(spark):
    """VERDICT-r3 #1: the (band, bucket) self-join must not go quadratic
    in a degenerate bucket.  Thousands of near-identical docs land in ONE
    band bucket; chunked_bucket_pairs salts the b side into ~chunk_size
    chunks, so no per-task join group exceeds the bound (2x tolerance,
    same as ivf_topk's kernel guard) while every unordered pair still
    meets exactly once."""
    from jsonschema_spark.operators.dedup import chunked_bucket_pairs

    keyed = spark.range(3000).select(
        F.col("id").alias("_id"), F.lit(7).alias("_bucket"))
    a, b = chunked_bucket_pairs(keyed, ["_bucket"], chunk_size=100)
    occupancy = (b.groupBy("_bucket", "_chunk")
                 .count().agg(F.max("count")).first()[0])
    assert occupancy <= 200, occupancy
    n_chunks = b.select("_chunk").distinct().count()
    assert n_chunks == 30
    # exactness: every unordered pair meets exactly once
    pairs = (a.join(b, ["_bucket", "_chunk"])
             .filter(F.col("a._id") < F.col("b._id"))
             .groupBy(F.col("a._id"), F.col("b._id")).count())
    assert pairs.filter(F.col("count") != 1).count() == 0
    assert pairs.count() == 3000 * 2999 // 2


def test_simhash_degenerate_bucket_chunked(spark):
    """A corpus of near-identical docs (all in the same band buckets)
    gives identical pair sets whether chunked tightly or not, and the
    tracked signature cache leaves no RDDs behind once released."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon ")
    rows = [(i, base + f"suffix{i % 3}") for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from jsonschema_spark.operators.dedup import clear_dedup_cache
    clear_dedup_cache()  # drain caches earlier tests left tracked
    persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    tight = {tuple(r) for r in
             simhash_duplicates(df, "doc_id", "text", max_hamming=6,
                                chunk_size=25).collect()}
    loose = {tuple(r) for r in
             simhash_duplicates(df, "doc_id", "text", max_hamming=6,
                                chunk_size=1 << 30).collect()}
    assert tight == loose and len(tight) > 100_000
    # the TRACKED signature caches are fully released by the hook
    # (<=: Spark's async ContextCleaner may reap OLDER tests' persisted
    # RDDs mid-test, so exact equality is flaky — what this pins is
    # that THESE calls left none)
    assert clear_dedup_cache() >= 1
    assert (spark.sparkContext._jsc.getPersistentRDDs().size()
            <= persisted_before)


def test_ivf_no_count_job_with_explicit_n_lists(spark, monkeypatch):
    """VERDICT-r3 #5: explicit n_lists must not pay a full count() pass,
    on the kernel path (default cap) or the cogroup path (cap below n),
    with or without approx_n; nor may the minhash and n-gram kernel
    gates at default arguments.  count() is monkeypatched to raise, so
    merely completing certifies no count job was launched; IVF results
    still match brute force when every cell is probed."""
    import numpy as np
    # NB: patch the CLASSIC DataFrame — pyspark.sql.DataFrame is the
    # abstract base whose methods the classic class overrides, so
    # patching the base intercepts nothing on Spark 4
    from pyspark.sql.classic.dataframe import DataFrame as _DF
    from jsonschema_spark.operators import similarity
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)])
            for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    want = {r["id"]: r["neighbour_id"]
            for r in brute_force_topk(df, "vec_id", "v", k=1).collect()}
    texts = spark.createDataFrame(DOCS, "doc_id long, text string")

    def boom(self):
        raise AssertionError("a kernel gate launched a count() job")

    monkeypatch.setattr(_DF, "count", boom)
    for cap in (similarity.IVF_KERNEL_MAX_ROWS, len(rows) - 1):
        monkeypatch.setattr(similarity, "IVF_KERNEL_MAX_ROWS", cap)
        for hint in (None, 400):
            ann = similarity.ivf_topk(df, "vec_id", "v", k=1, n_lists=4,
                                      n_probe=4, approx_n=hint)
            got = {r["id"]: r["neighbour_id"] for r in ann.collect()}
            assert got == want
    assert minhash_candidates(texts, "doc_id", "text").collect()
    assert ngram_jaccard_pairs(texts, "doc_id", "text").collect()
    monkeypatch.undo()
    assert similarity.clear_ivf_cache() >= 2


def test_clear_ivf_cache_releases_assignment(spark, monkeypatch):
    """The assignment persist (and its release) is a distributed-path
    contract; the r6 bounded-corpus kernel persists nothing."""
    from jsonschema_spark.operators import similarity
    from jsonschema_spark.operators.similarity import (clear_ivf_cache,
                                                       ivf_topk)
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with monkeypatch.context() as m:
        m.setattr(similarity, "IVF_KERNEL_MAX_ROWS", 0)
        out = ivf_topk(e, "vec_id", "embedding", k=1, n_lists=8,
                       n_probe=2)
    out.count()  # materialize -> assignment persisted
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > before
    clear_ivf_cache()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    # kernel path: no persisted state to leak or release
    out = ivf_topk(e, "vec_id", "embedding", k=1, n_lists=8, n_probe=2)
    out.count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    assert clear_ivf_cache() == 0


# --------------------------------------------------- PNG codec tier -------

def test_png_roundtrip_and_malformed():
    """encode_png -> decode_png is bit-exact; malformed payloads
    (bad signature, truncation, CRC corruption, short IDAT) return
    None instead of raising."""
    import numpy as np
    from jsonschema_spark.operators.multimodal import (decode_png,
                                                       encode_png)
    rng = np.random.default_rng(0)
    for h, w in ((1, 1), (3, 7), (16, 16), (11, 5)):
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        blob = encode_png(px)
        back = decode_png(blob)
        assert back is not None and np.array_equal(back, px), (h, w)
    blob = encode_png(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8))
    assert decode_png(b"NOPE" + blob[4:]) is None
    assert decode_png(blob[: len(blob) // 2]) is None
    bad = blob[:48] + bytes([blob[48] ^ 0xFF]) + blob[49:]
    assert decode_png(bad) is None  # CRC mismatch detected


def test_png_all_filter_types_against_scalar_spec():
    """Hand-built PNGs exercising every scanline filter (0-4) decode to
    the pixels an independent straight-from-the-spec scalar unfilter
    produces — certifying the vectorized unfilter against the RFC 2083
    definitions, not against our own encoder (which only emits filter
    0)."""
    import struct
    import zlib

    import numpy as np
    from jsonschema_spark.operators.multimodal import (PNG_SIG,
                                                       _png_chunk,
                                                       decode_png)

    rng = np.random.default_rng(42)
    h, w, bpp = 6, 5, 3
    raw_rows = []
    filters = [0, 1, 2, 3, 4, 3]
    for y in range(h):
        raw_rows.append((filters[y], rng.integers(
            0, 256, size=w * bpp, dtype=np.uint8).tolist()))

    # independent scalar reference unfilter (spec pseudocode)
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    recon = [[0] * (w * bpp) for _ in range(h)]
    for y, (ft, row) in enumerate(raw_rows):
        for x in range(w * bpp):
            left = recon[y][x - bpp] if x >= bpp else 0
            up = recon[y - 1][x] if y > 0 else 0
            ul = recon[y - 1][x - bpp] if (y > 0 and x >= bpp) else 0
            val = row[x]
            if ft == 1:
                val += left
            elif ft == 2:
                val += up
            elif ft == 3:
                val += (left + up) // 2
            elif ft == 4:
                val += paeth(left, up, ul)
            recon[y][x] = val % 256
    want = np.array(recon, dtype=np.uint8).reshape(h, w, bpp)

    body = b"".join(bytes([ft]) + bytes(row) for ft, row in raw_rows)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    blob = (PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(body))
            + _png_chunk(b"IEND", b""))
    got = decode_png(blob)
    assert got is not None and np.array_equal(got, want)


def test_png_grey_and_rgba_color_types():
    import struct
    import zlib

    import numpy as np
    from jsonschema_spark.operators.multimodal import (PNG_SIG,
                                                       _png_chunk,
                                                       decode_png)
    rng = np.random.default_rng(1)
    # greyscale (color type 0) broadcasts to RGB
    g = rng.integers(0, 256, size=(4, 3, 1), dtype=np.uint8)
    body = b"".join(b"\x00" + g[y].tobytes() for y in range(4))
    blob = (PNG_SIG
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 4, 8, 0,
                                              0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(body))
            + _png_chunk(b"IEND", b""))
    got = decode_png(blob)
    assert np.array_equal(got, np.repeat(g, 3, axis=2))
    # RGBA (color type 6) drops alpha
    rgba = rng.integers(0, 256, size=(4, 3, 4), dtype=np.uint8)
    body = b"".join(b"\x00" + rgba[y].tobytes() for y in range(4))
    blob = (PNG_SIG
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 4, 8, 6,
                                              0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(body))
            + _png_chunk(b"IEND", b""))
    got = decode_png(blob)
    assert np.array_equal(got, rgba[:, :, :3])


def test_png_images_table_planted_violations(spark):
    """png_images_df plants truncation (decode fail), CRC corruption
    (decode fail), and pre-encode pixel damage (low PSNR) at known id
    rates; decode_pixels must find exactly those."""
    from jsonschema_spark.operators.multimodal import decode_pixels
    from jsonschema_spark.sources.images import png_images_df

    n = 1200
    img = png_images_df(spark, n)
    dec = {r["image_id"]: r
           for r in decode_pixels(img, psnr=True).collect()}
    assert len(dec) == n
    for i in range(n):
        r = dec[f"png_{i:012x}"]
        if i % 251 == 0 or (i % 311 == 0 and i != 0):
            assert not r["decode_ok"], i
        elif i % 157 == 0:
            assert r["decode_ok"] and r["psnr"] < 40.0, (i, r["psnr"])
        else:
            assert r["decode_ok"] and r["psnr"] == 99.0, (i, r["psnr"])
            assert r["decoded_w"] == 16 and r["decoded_h"] == 16


def test_caption_equality_invariant(spark):
    """The caption-equality half of the per-row invariant: mismatches
    are exactly the planted null/empty/long rows, classified correctly,
    and the check is a narrow codegen'd scan (no UDF, no shuffle)."""
    from jsonschema_spark.operators.multimodal import caption_check
    from jsonschema_spark.sources.images import images_df, reference_caption

    img = images_df(spark, 10_000, with_id=True)
    viol = caption_check(img, reference_caption(F.col("id")))
    counts = {r["message"]: r["count"] for r in
              viol.groupBy("message").count().collect()}
    assert counts == {"caption is null, reference is not": 50,
                      "caption is empty": 20,
                      "caption differs from reference": 10}
    plan = viol._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


# --------------------------------------------------- WAV audio tier -------

def test_wav_roundtrip_and_malformed():
    import numpy as np
    from jsonschema_spark.operators.multimodal import (decode_wav,
                                                       encode_wav,
                                                       expected_samples)
    x = expected_samples("clip", 1234)
    for rate in (8000, 44100):
        s, r = decode_wav(encode_wav(x, rate))
        assert r == rate and np.array_equal(s[:, 0], x)
    stereo = np.stack([x, -x], axis=1)
    s, r = decode_wav(encode_wav(stereo, 16000))
    assert s.shape == (1234, 2) and np.array_equal(s, stereo)
    blob = encode_wav(x)
    assert decode_wav(blob[:100]) is None           # truncated data
    assert decode_wav(b"XXXX" + blob[4:]) is None   # bad magic
    # non-PCM format code rejected
    bad = blob[:20] + b"\x03\x00" + blob[22:]
    assert decode_wav(bad) is None


def test_audio_table_planted_violations(spark):
    from jsonschema_spark.operators.multimodal import decode_audio
    from jsonschema_spark.sources.images import audio_df

    n = 800
    clips = audio_df(spark, n)
    dec = {r["audio_id"]: r for r in
           decode_audio(clips, carry=("n_samples",)).collect()}
    assert len(dec) == n
    for i in range(n):
        r = dec[f"wav_{i:012x}"]
        if i % 251 == 0:
            assert not r["header_ok"], i
        elif i % 157 == 0:
            assert r["header_ok"] and r["snr"] < 20.0, (i, r["snr"])
        else:
            assert r["header_ok"] and r["snr"] == 99.0, (i, r["snr"])
            assert r["decoded_samples"] == r["n_samples"]
            assert r["decoded_rate"] == 16_000


def test_ivf_clustered_input_sample_not_prefix_biased(spark, monkeypatch):
    """r4 finding: on the cogroup path (input over the kernel
    cap) with explicit n_lists and no approx_n the quantizer sample
    must not be a partition prefix.  On a SORTED two-cluster table
    (prefix = one cluster only), the hash-thinned bounded sample must
    reach the same recall as a fully unbiased fraction sample
    (approx_n supplied) — prefix training would collapse recall for
    the unseen cluster."""
    import numpy as np
    from jsonschema_spark.operators import similarity
    from jsonschema_spark.operators.similarity import (brute_force_topk,
                                                       clear_ivf_cache,
                                                       ivf_topk)
    monkeypatch.setattr(similarity, "IVF_KERNEL_MAX_ROWS", 2999)
    rng = np.random.default_rng(0)
    a = rng.normal(loc=+5, scale=0.3, size=(1500, 12))
    b = rng.normal(loc=-5, scale=0.3, size=(1500, 12))
    rows = [(i, [float(x) for x in (a[i] if i < 1500 else b[i - 1500])])
            for i in range(3000)]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>") \
               .repartition(12).sortWithinPartitions("vec_id")
    want = {r["id"]: r["neighbour_id"]
            for r in brute_force_topk(emb, "vec_id", "v", k=1).collect()}

    def recall(**kw):
        got = {r["id"]: r["neighbour_id"]
               for r in ivf_topk(emb, "vec_id", "v", k=1, n_lists=8,
                                 n_probe=2, **kw).collect()}
        clear_ivf_cache()
        return sum(1 for i in want if got.get(i) == want[i]) / len(want)

    thinned = recall()
    unbiased = recall(approx_n=3000)
    assert thinned >= unbiased - 0.03, (thinned, unbiased)
    # sanity: both sides of BOTH clusters get correct neighbours
    assert thinned >= 0.8


# ------------------------------------------------ JPEG (lossy) tier -------

def test_jpeg_roundtrip_clears_lossy_psnr_bar():
    """The built-in baseline JPEG codec round-trips the worst-case
    payload (uniform noise — energy in every DCT band) above the north
    rule's 40 dB bar at quality 98, at arbitrary non-multiple-of-8
    dims, and near-losslessly on smooth content at quality 90."""
    import numpy as np
    from jsonschema_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from jsonschema_spark.operators.multimodal import (expected_pixels,
                                                       psnr)

    for w, h in ((16, 16), (13, 7), (1, 1), (31, 17), (40, 24)):
        px = expected_pixels(f"jt_{w}x{h}", w, h)
        back = decode_jpeg(encode_jpeg(px, quality=98))
        assert back is not None and back.shape == (h, w, 3)
        assert psnr(back, px) >= 40.0, (w, h)
    # smooth gradient: mild quantization barely touches it
    yy, xx = np.mgrid[0:32, 0:32]
    grad = np.stack([(xx * 8) % 256, (yy * 8) % 256,
                     ((xx + yy) * 4) % 256], axis=-1).astype(np.uint8)
    assert psnr(decode_jpeg(encode_jpeg(grad, 90)), grad) >= 45.0
    # lossy means lossy: noise at quality 75 lands well under the bar
    px = expected_pixels("jt_lossy", 16, 16)
    assert psnr(decode_jpeg(encode_jpeg(px, 75)), px) < 30.0


def test_jpeg_malformed_and_structure():
    """Structural failures return None (no exceptions leak into the
    mapInPandas kernel), and the JFIF layout is deterministic: the
    SOF0 marker sits at byte 158 with big-endian dims at 163..166 —
    the contract the DuckDB oracle's byte-math re-parse relies on."""
    import struct

    from jsonschema_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from jsonschema_spark.operators.multimodal import expected_pixels

    px = expected_pixels("jm", 24, 16)
    blob = encode_jpeg(px, quality=98)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    assert blob.find(b"\xff\xc0") == 158
    assert struct.unpack_from(">HH", blob, 163) == (16, 24)
    assert decode_jpeg(blob[: len(blob) // 2]) is None    # no EOI
    assert decode_jpeg(b"XX" + blob[2:]) is None          # bad SOI
    assert decode_jpeg(blob[:158] + b"\x00" + blob[159:]) is None
    # progressive frames (SOF2) are rejected, not misdecoded
    assert decode_jpeg(blob.replace(b"\xff\xc0", b"\xff\xc2", 1)) is None
    # tables are READ from the stream, not assumed: a different
    # quality (different DQT contents) decodes through the same path
    q50 = encode_jpeg(px, quality=50)
    assert decode_jpeg(q50) is not None


def test_jpeg_images_table_planted_violations(spark):
    """jpeg_images_df plants truncation (decode fail), SOF0-marker
    kill (decode fail), and pre-encode pixel damage (low PSNR) at
    known id rates; decode_pixels must find exactly those, and
    every intact LOSSY row must still clear 40 dB against the
    reference pixels."""
    from jsonschema_spark.operators.multimodal import decode_pixels
    from jsonschema_spark.sources.images import jpeg_images_df

    n = 1200
    img = jpeg_images_df(spark, n)
    dec = {r["image_id"]: r
           for r in decode_pixels(img, psnr=True).collect()}
    assert len(dec) == n
    for i in range(n):
        r = dec[f"jpg_{i:012x}"]
        if i % 251 == 0 or (i % 311 == 0 and i != 0):
            assert not r["decode_ok"], i
        elif i % 157 == 0:
            assert r["decode_ok"] and r["psnr"] < 40.0, (i, r["psnr"])
        else:
            assert r["decode_ok"] and 40.0 <= r["psnr"] < 99.0, \
                (i, r["psnr"])
            assert r["decoded_w"] == 16 and r["decoded_h"] == 16


def test_jpeg_chroma_subsampling_420():
    """The decoder is a GENERAL baseline decoder, not encoder-matched:
    4:2:0 streams (2x2 luma sampling, the common photographic layout)
    decode through the same path via the interleaved-MCU walk +
    chroma replication, at awkward non-multiple-of-16 dims."""
    import numpy as np
    from jsonschema_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from jsonschema_spark.operators.multimodal import psnr

    yy, xx = np.mgrid[0:40, 0:56]
    grad = np.stack([(xx * 4) % 256, (yy * 4) % 256,
                     ((xx + yy) * 2) % 256], axis=-1).astype(np.uint8)
    for w, h in ((56, 40), (13, 7), (17, 9), (33, 33)):
        g = grad[:h, :w]
        blob = encode_jpeg(g, 95, subsampling="4:2:0")
        d = decode_jpeg(blob)
        assert d is not None and d.shape == (h, w, 3)
        assert psnr(d, g) >= 30.0, (w, h)
    # SOF advertises the sampling factors: Y=0x22, chroma=0x11
    off = blob.find(b"\xff\xc0")
    assert blob[off + 11] == 0x22 and blob[off + 14] == 0x11
    # 4:2:0 beats 4:4:4 on size for smooth content
    assert len(blob) < len(encode_jpeg(grad[:33, :33], 95))


# ------------------------------------------------- phash image near-dup ---

def test_dct_phash_spec_properties():
    """63-bit, non-negative, lossless-roundtrip-stable, sensitive to
    visible change, insensitive to its own recomputation."""
    from jsonschema_spark.operators.multimodal import (dct_phash, decode_bmp,
                                                       encode_bmp,
                                                       expected_pixels)
    px = expected_pixels("img_a", 16, 16)
    p = dct_phash(px)
    assert 0 <= p < (1 << 63)
    assert dct_phash(px) == p
    assert dct_phash(decode_bmp(encode_bmp(px))) == p  # lossless roundtrip
    inv = 255 - px
    assert dct_phash(inv) != p
    # exactly the 63 AC coefficients vote; median split keeps popcount
    # near half
    assert 20 <= bin(p).count("1") <= 43


def test_phash_near_duplicates_vs_bruteforce(spark):
    """Banded+chunk-salted pairs == driver brute force on the planted
    north-star table (recall AND precision)."""
    import itertools

    from jsonschema_spark.operators.dedup import phash_near_duplicates
    img = images_df(spark, 3000)
    got = {(r.id_a, r.id_b, r.hamming)
           for r in phash_near_duplicates(img, "image_id", "phash",
                                          max_hamming=3).collect()}
    rows = img.select("image_id", "phash").collect()
    bf = {}
    for a, b in itertools.combinations(rows, 2):
        if a.image_id == b.image_id:
            continue
        h = bin(a.phash ^ b.phash).count("1")
        if h <= 3:
            k = (min(a.image_id, b.image_id), max(a.image_id, b.image_id))
            bf[k] = min(bf.get(k, 99), h)
    assert got == {(a, b, h) for (a, b), h in bf.items()}
    assert got, "planted near-dups must produce pairs"
    assert {h for (_, _, h) in got} >= {0, 1, 3}  # all planted classes


def test_packed_hamming_pigeonhole_guard(spark):
    """max_hamming >= n_bands silently loses recall — the validation
    path (phash) demands the guarantee and must refuse; the LSH path
    (simhash) may trade recall deliberately and must not."""
    from jsonschema_spark.operators.dedup import packed_hamming_pairs
    sigs = spark.createDataFrame([("a", 1)], "_id string, _sh long")
    with pytest.raises(ValueError, match="pigeonhole"):
        packed_hamming_pairs(sigs, bits=64, max_hamming=4, band_bits=16,
                             require_full_recall=True)
    # permissive mode builds the plan without complaint
    packed_hamming_pairs(sigs, bits=64, max_hamming=4, band_bits=16)


def test_phash_integrity_planted(spark):
    """The recompute-from-pixels check finds exactly the planted
    damage: id%251 truncation -> decode_fail, id%211 bit flips ->
    hamming 2, everything else verifies at hamming 0."""
    from jsonschema_spark.operators.multimodal import decode_pixels
    from jsonschema_spark.sources.images import phash_images_df
    n = 800
    chk = decode_pixels(phash_images_df(spark, n), phash=True).collect()
    by_id = {int(r.image_id.split("_")[1], 16): r for r in chk}
    assert len(by_id) == n
    for i, r in by_id.items():
        if i % 251 == 0:
            assert not r.decode_ok and r.hamming is None
        elif i % 211 == 0:
            assert r.decode_ok and r.hamming == 2
        else:
            assert r.decode_ok and r.hamming == 0, (i, r)


def test_phash_enumerate_strategy_equals_banded(spark):
    """The phash near-dup path (bit-flip enumeration on 32-bit block
    keys) returns exactly the pair set of full-recall 16-bit banding
    over the same (image_id, phash) codes, including under a planted
    degenerate cluster of identical phashes where the hot identity key
    must be chunk-salted (tight chunk_size)."""
    from jsonschema_spark.operators.dedup import (packed_hamming_pairs,
                                                  phash_near_duplicates)
    img = images_df(spark, 2500)
    # degenerate cluster: 400 extra rows sharing ONE phash value
    cluster = spark.range(400).selectExpr(
        "format_string('clu_%012x', id) AS image_id",
        "CAST(NULL AS BINARY) AS bytes", "16 AS w", "16 AS h",
        "'png' AS fmt", "'c' AS caption", "CAST(123456789 AS LONG) AS phash")
    df = img.select("image_id", "bytes", "w", "h", "fmt", "caption",
                    "phash").unionByName(cluster)
    sigs = df.filter(F.col("phash").isNotNull()).select(
        F.col("image_id").alias("_id"), F.col("phash").alias("_sh"))
    banded = {tuple(r) for r in packed_hamming_pairs(
        sigs, require_full_recall=True).collect()}
    pairs = phash_near_duplicates(df, "image_id", "phash", chunk_size=64)
    plan = pairs._jdf.queryExecution().logical().toString()
    assert "_blk" in plan and "_band" not in plan
    assert {tuple(r) for r in pairs.collect()} == banded
    # the cluster contributes C(400,2) hamming-0 pairs
    n_cluster = sum(1 for (a, b2, h) in banded
                    if a.startswith("clu_") and b2.startswith("clu_")
                    and h == 0)
    assert n_cluster == 400 * 399 // 2


def test_pair_strategy_errors_are_typed(spark):
    """Misconfigurations raise ValueError (pointed, -O-proof), never
    bare asserts that python -O would strip into silent recall loss."""
    import pytest
    from jsonschema_spark.operators.dedup import (
        enumerated_hamming_pairs, packed_hamming_pairs)
    sigs = spark.range(4).selectExpr("CAST(id AS STRING) AS _id",
                                     "xxhash64(id) AS _sh")
    with pytest.raises(ValueError, match="max_hamming"):
        enumerated_hamming_pairs(sigs, max_hamming=4)
    with pytest.raises(ValueError, match="even"):
        enumerated_hamming_pairs(sigs, bits=63, max_hamming=3)
    with pytest.raises(ValueError, match="pigeonhole"):
        packed_hamming_pairs(sigs, max_hamming=4,
                             require_full_recall=True)


def test_enumerated_hamming_core_equals_banded_on_random_codes(spark):
    """Direct core equality: enumerated (bit-flip) and banded pair
    joins return identical (id, id, hamming) sets on random 64-bit
    codes with planted hamming-1/2/3 neighbours, at every hamming
    threshold the enumeration supports."""
    from jsonschema_spark.operators.dedup import (enumerated_hamming_pairs,
                                                  packed_hamming_pairs)
    sigs = spark.range(4000).selectExpr(
        "CAST(id AS STRING) AS _id",
        # random base; ids 100-109 planted near id-1 at hamming id%3+1
        # EVEN ids 100-108 plant near their (unplanted, odd) left
        # neighbour at hamming 1/2/3 cycling — odd neighbours keep
        # their base value, so each planted distance actually exists
        """CASE
             WHEN id BETWEEN 100 AND 108 AND id % 2 = 0 THEN
               xxhash64(id - 1, 42) ^ CAST(shiftleft(CAST(
                 CASE CAST(id / 2 AS INT) % 3
                   WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 7 END
               AS LONG), CAST(id % 50 AS INT)) AS LONG)
             ELSE xxhash64(id, 42)
           END AS _sh""")
    by_h = {}
    for h in (1, 2, 3):
        banded = {tuple(r) for r in packed_hamming_pairs(
            sigs, max_hamming=h, require_full_recall=True).collect()}
        enum = {tuple(r) for r in enumerated_hamming_pairs(
            sigs, max_hamming=h).collect()}
        assert banded == enum, h
        by_h[h] = banded
    # every planted distance class is actually exercised, and raising
    # the threshold strictly grows the pair set
    assert {h for (_, _, h) in by_h[3]} == {1, 2, 3}
    assert by_h[1] < by_h[2] < by_h[3]


def test_phash_integrity_null_phash_batchmates_unharmed(spark):
    """Regression: pandas coerces int64-with-NULL to float64, which
    loses low bits of 63-bit values — the stored phash must survive a
    NULL batchmate bit-exact (it travels as a string now)."""
    from jsonschema_spark.operators.multimodal import (dct_phash,
                                                       encode_bmp,
                                                       expected_pixels,
                                                       decode_pixels)
    px = expected_pixels("big", 16, 16)
    base = dct_phash(px)              # ~8.4e18 here: far above 2^53, so
    flipped = base ^ (1 << 62)        # float64 would truncate both
    assert min(base, flipped) > (1 << 53)
    blob = encode_bmp(px)
    rows = [("a", blob, base), ("b", blob, None), ("c", blob, flipped)]
    df = spark.createDataFrame(
        [(i, bytearray(b), p) for i, b, p in rows],
        "image_id string, bytes binary, phash long").withColumn(
        "fmt", F.lit("bmp")).coalesce(1)   # one Arrow batch
    got = {r.image_id: r for r in decode_pixels(df, phash=True).collect()}
    assert got["a"].hamming == 0          # exact match survives NULL mate
    assert got["b"].hamming is None and got["b"].stored_phash is None
    assert got["c"].stored_phash == flipped   # bit-exact round trip
    assert got["c"].hamming == 1          # differs only in bit 62


def test_ivf_single_training_collect_on_small_input(spark, monkeypatch):
    """On a small input the kernel path's one bounded collect serves
    the quantizer fit, the scoring broadcast and n: no second
    training collect (one wasted job per explicit-n_lists call on
    small inputs).  The transfers are Arrow ``toArrow`` (the bounded
    collect) and ``toPandas`` (the training sample), so every
    driver-side materialization mechanism is counted."""
    import numpy as np
    from pyspark.sql.classic.dataframe import DataFrame as _DF
    from jsonschema_spark.operators.similarity import (clear_ivf_cache,
                                                       ivf_topk)
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    calls = {"n": 0}

    def counting(real):
        def wrapper(self):
            calls["n"] += 1
            return real(self)
        return wrapper

    for name in ("collect", "toPandas", "toArrow"):
        monkeypatch.setattr(_DF, name, counting(getattr(_DF, name)))
    ann = ivf_topk(df, "vec_id", "v", k=1, n_lists=4, n_probe=4)
    assert calls["n"] == 1, \
        f"expected 1 driver transfer, got {calls['n']}"
    monkeypatch.undo()
    assert ann.count() == 200
    clear_ivf_cache()
