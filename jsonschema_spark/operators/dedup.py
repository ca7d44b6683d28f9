"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash and n-gram Jaccard near-dup — all
expressed with native higher-order functions (aggregate / transform /
zip_with) so signatures are computed JVM-side in one narrow
pass; the only shuffles are the band/bucket groupBys, which carry
signatures (tens of bytes), never documents.  That property is what makes
the plan survive 100 TB: document payloads stay columnar in the scan and
are never moved.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernels import (bounded_collect, empty, launch, list_matrix, track,
                      worker_memo)
# one registry releases what every operator here persisted
from .kernels import clear_persisted as clear_dedup_cache  # noqa: F401


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    input arrives in fewer partitions (e.g. one small parquet file) —
    explode-heavy signature stages are CPU-bound, so a single input
    partition serializes them.  At scale inputs carry far more
    partitions than cores and this is a no-op (no shuffle added)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ------------------------------------------------------------- exact ------

def exact_fingerprint_pairs(df: DataFrame, id_col: str,
                            text_col: str) -> DataFrame:
    """Exact-duplicate STAR edges ``(id_a, id_b)`` over the normalized
    content fingerprint (text.content_fingerprint): per duplicate
    group, every member pairs with the group's min id — CC-equivalent
    to the full clique (same connected components) at O(group) edges
    instead of O(group^2).  The edge stream feeds
    ``clusters.duplicate_clusters`` / ``resolve_duplicates`` /
    ``pipeline.curate`` and unions with any near-dup pair stream."""
    from .text import content_fingerprint
    keyed = (df.filter(F.col(text_col).isNotNull())
             .select(content_fingerprint(F.col(text_col)).alias("_k"),
                     F.col(id_col)))
    # per-group min via a plain aggregate + equi-join back (ADVICE-r5):
    # collect_list materialized the whole duplicate group in one
    # aggregation buffer — a boilerplate mega-group OOMs a single task
    # at 10^12 rows even though the emitted edges are O(group)
    mins = (keyed.groupBy("_k")
            .agg(F.min(id_col).alias("id_a"),
                 F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .drop("_n"))
    return (keyed.join(mins, "_k")
            .select("id_a", F.col(id_col).alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b")))


# ---------------------------------------------------------- shingling -----

def shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-shingles of `text` (native, no UDF)."""
    n = F.greatest(F.length(text) - (k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n),
                    lambda i: F.substring(text, i, k)))


# ------------------------------------------------------------ minhash -----

def minhash_signatures_df(df: DataFrame, id_col: str, text_col: str,
                          num_hashes: int = 64,
                          shingle_k: int = 5) -> DataFrame:
    """(_id, _sig) MinHash signatures via explode + codegen'd min-aggs.

    HOF lambdas (aggregate/zip_with/transform) are interpreted, so
    per-item x per-hash work inside them is ~100x slower than
    whole-stage codegen.  The shingle stream is therefore generated as
    ``explode(sequence(1, len-k+1))`` followed by a codegen'd
    position-indexed ``substring`` — no shingle ARRAY is ever built
    (the ``shingles()`` transform-HOF + array_distinct shape measured
    ~4x slower at sf0.1), and no distinct pass is needed because
    ``min`` is duplicate-insensitive; signatures are bit-identical
    either way.  `num_hashes` min(xxhash64(shingle, s)) aggregates
    keep everything codegen'd; map-side partial aggregation means the
    shuffle carries one partial signature per doc per partition,
    never the shingles."""
    n_sh = F.greatest(F.length(text_col) - (shingle_k - 1), F.lit(1))
    toks = (ensure_parallelism(df.filter(F.col(text_col).isNotNull()))
            .select(F.col(id_col).alias("_id"), F.col(text_col),
                    F.explode(F.sequence(F.lit(1), n_sh)).alias("_i"))
            .select("_id",
                    F.expr(f"substring(`{text_col}`, _i, {shingle_k})")
                    .alias("_sh")))
    aggs = [F.min(F.xxhash64(F.col("_sh"), F.lit(s))).alias(f"_h{s}")
            for s in range(num_hashes)]
    return (toks.groupBy("_id").agg(*aggs)
            .select("_id", F.array(*[F.col(f"_h{s}")
                                     for s in range(num_hashes)])
                    .alias("_sig")))


def _minhash_pairs_kernel(spark, sigs, num_hashes: int, bands: int,
                          min_jaccard: float, id_dt: str) -> DataFrame:
    """Bounded-corpus banding kernel: result-identical to the
    slice-keyed LSH self-join below, for corpora whose signature frame
    fits a broadcast (the same documented-bounded fast-path contract as
    ``connected_components``' small-graph union-find).

    Why: per-collision cost decides the join — a hot band slice shared
    by m templated docs produces m^2/2 probe-side evaluations of the
    agreement count (50M at sf1.0 for 5,787 surviving pairs), each an
    interpreted ~25 us zip_with.  Here the (id, sig) list (50k x 64
    longs = 25 MB at sf1.0) broadcasts once and one task per band
    sorts its 4-long slice columns, enumerates equal-slice group pairs
    vectorized, and computes the agreement count as a blockwise
    ``(SIG[ia] == SIG[ib]).sum(1)`` gather — exact integer equality on
    the same signature values, est = agree/num_hashes in the same IEEE
    double.  Only est-passing pairs become rows; the caller's
    (id_a, id_b) max-aggregation dedups across bands.  ``sigs`` is the
    collected ``(_id, _sig)`` Arrow table."""
    import numpy as np

    rows = num_hashes // bands
    min_agree = int(math.ceil(min_jaccard * num_hashes))
    out_schema = f"id_a {id_dt}, id_b {id_dt}, _agree int"
    if sigs.num_rows == 0:
        return empty(spark, out_schema)
    raw_ids = sigs.column("_id").to_numpy()
    sort_ix = raw_ids.argsort(kind="stable")
    ids = raw_ids[sort_ix].tolist()
    SIG = list_matrix(sigs.column("_sig"), np.int64)[sort_ix]
    # one byte per signature column for the early-reject screen
    DIG = (SIG & 0xFF).astype(np.uint8)
    bc = spark.sparkContext.broadcast((ids, SIG, DIG))
    n = len(ids)
    # hot-band stragglers: the measured collision mass concentrates in
    # a few bands (~40% of all pairs in ONE band on the bench corpus),
    # so one-task-per-band leaves cores idle behind the hot band.
    # Each band's chunked pair stream is round-robined across `salt`
    # tasks (identical union of pairs); enumeration is re-run per
    # stride task but is a tiny fraction of the chunk work.
    salt = max(1, (spark.sparkContext.defaultParallelism * 2) // bands)
    typ = sigs.schema.field("_id").type

    def kernel(batches):
        import pyarrow as pa
        p_ids, S, D = bc.value
        id_arr = np.asarray(p_ids)
        for batch in batches:
            for w in batch.column(0).to_pylist():
                b, stride = divmod(w, salt)
                sl = np.ascontiguousarray(S[:, b * rows:(b + 1) * rows])
                order = np.lexsort(sl.T[::-1])
                ss = sl[order]
                change = np.any(ss[1:] != ss[:-1], axis=1)
                bounds = np.concatenate(
                    ([0], np.nonzero(change)[0] + 1, [len(ss)]))
                # index-math pair enumeration: materializing the full
                # triu pair arrays cost ~1 GB of alloc+copy per hot-
                # band task (21M pairs), re-paid by every stride task.
                # Instead each group's sorted members are concatenated
                # once (tiny) and the k-th pair of the band's linear
                # pair stream is decoded per CHUNK with the triangular
                # row formula — same group order, same triu row-major
                # order, so each stride task sees the same pairs the
                # sliced concatenation gave it.
                sizes = np.diff(bounds)
                gsel = np.nonzero(sizes >= 2)[0]
                if not len(gsel):
                    continue
                csz = sizes[gsel].astype(np.int64)
                memcat = np.concatenate(
                    [np.sort(order[bounds[g]:bounds[g] + sizes[g]])
                     for g in gsel])
                moff = np.concatenate(
                    ([0], np.cumsum(csz)[:-1]))
                mpairs = csz * (csz - 1) // 2
                cum = np.cumsum(mpairs)
                total = int(cum[-1])
                out_a, out_b, out_g = [], [], []
                CH = 262_144
                for s0 in range(stride * CH, total, salt * CH):
                    kk = np.arange(s0, min(s0 + CH, total),
                                   dtype=np.int64)
                    g = np.searchsorted(cum, kk, side="right")
                    r = kk - (cum[g] - mpairs[g])
                    c = csz[g]
                    # triangular row index with integer fix-up for
                    # sqrt rounding (exact: r, c < 2^53)
                    tw = 2 * c - 1
                    i = ((tw - np.sqrt(tw * tw - 8.0 * r))
                         * 0.5).astype(np.int64)
                    si = i * (2 * c - i - 1) // 2
                    over = r < si
                    while over.any():
                        i[over] -= 1
                        si = i * (2 * c - i - 1) // 2
                        over = r < si
                    under = r >= si + (c - i - 1)
                    while under.any():
                        i[under] += 1
                        si = i * (2 * c - i - 1) // 2
                        under = r >= si + (c - i - 1)
                    j = r - si + i + 1
                    ca = memcat[moff[g] + i]
                    cb = memcat[moff[g] + j]
                    # byte-digest early reject: D holds one byte per
                    # signature column, and equal int64s have equal
                    # bytes, so the byte-agreement count is an UPPER
                    # bound on the true agreement — a pair below
                    # min_agree on bytes cannot reach it on the full
                    # columns (no false rejects; false accepts get the
                    # exact 64-column verify below).  On the measured
                    # collision regime (~50M mostly-random colliding
                    # pairs, <0.1% surviving) this turns a 1 KB/pair
                    # gather into 128 B/pair for the ~99.9% rejected.
                    bagree = (D[ca] == D[cb]).sum(axis=1)
                    cand = bagree >= min_agree
                    if not cand.any():
                        continue
                    ca, cb = ca[cand], cb[cand]
                    agree = (S[ca] == S[cb]).sum(axis=1)
                    keep = agree >= min_agree
                    # members sorted ascending => index order == id
                    # order; equal ids (duplicate rows) never pair
                    keep &= id_arr[ca] != id_arr[cb]
                    out_a.append(id_arr[ca[keep]])
                    out_b.append(id_arr[cb[keep]])
                    out_g.append(agree[keep])
                if not out_a:
                    continue
                aa = np.concatenate(out_a)
                if len(aa):
                    bb = np.concatenate(out_b)
                    # zero-copy for numeric id arrays; object arrays
                    # (string ids) need the python-list conversion
                    conv = (lambda a: pa.array(a, type=typ)) \
                        if aa.dtype != object else \
                        (lambda a: pa.array(a.tolist(), type=typ))
                    yield pa.RecordBatch.from_arrays(
                        [conv(aa), conv(bb),
                         pa.array(np.concatenate(out_g).astype("int32"),
                                  type=pa.int32())],
                        names=["id_a", "id_b", "_agree"])

    return launch(spark, kernel, out_schema, bands * salt)


#: row cap of the bounded collect that gates the three text kernels
#: (:func:`minhash_candidates`, :func:`ngram_jaccard_pairs`,
#: :func:`hamming_verified_pairs`); above it each takes its distributed
#: path.  For minhash (signature matrix ~0.5 KB/row -> ~300 MB
#: broadcast at the cap) that is the slice-keyed self-join.  Raised
#: 200k -> 600k in r6: the
#: kernel measured 31 s at 200k docs / ~800M band collisions (the
#: byte-digest screen makes collision cost ~128 B/pair), while the
#: join's per-collision interpreted zip_with would take ~25 minutes
#: on the same corpus — the crossover where the broadcast stops
#: paying sits well above the templated-corpus sizes a single box
#: handles anyway
MINHASH_KERNEL_MAX_ROWS = 600_000


def minhash_candidates(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 64, bands: int = 16,
                       shingle_k: int = 5,
                       min_jaccard: float = 0.5) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH.

    Pipeline: shingle -> signature (codegen'd explode+agg) -> explode
    bands -> self-join on band bucket (shuffle of signatures only) ->
    estimated Jaccard = fraction of agreeing minhashes -> threshold.
    Returns (id_a, id_b, est_jaccard), id_a < id_b, deduped across bands.

    Join shape (r6): the self-join is keyed on the band's raw
    SIGNATURE SLICE (a struct of ``num_hashes/bands`` longs) instead
    of a 64-bit hash of it — join membership IS slice equality, so no
    band-hash collision caveat, no bucket hashing, and no per-probe
    first-band dedup chain (previously a 128-``element_at``
    interpreted CASE evaluated once per collision).  A pair sharing b
    bands is emitted b times and max-combined by the existing
    (id_a, id_b) aggregation (est_jaccard is a pure function of the
    two signatures, identical on every copy — provably the same pair
    set as emit-once).  The agreement threshold stays in the join
    condition as the single-pass ``zip_with`` count — on templated
    corpora a hot band slice is shared by thousands of docs (50M
    collisions at sf1.0 for a 5,787-pair result), so per-collision
    cost decides the operator; A/B at sf1.0: old shape 86 s, this
    shape 45 s.  A literal 64-term ``element_at`` sum was ALSO tried:
    when whole-stage codegen takes it, it is faster, but the generated
    method is at janino's limit and a compile fallback makes the whole
    stage interpreted — measured 46 s vs 475 s across otherwise
    identical sessions, a coin-flip this operator must not depend on,
    so the compact HOF form is deliberate.

    Bounded-collect gate: the signature frame is collected through
    :func:`kernels.bounded_collect` capped at
    :data:`MINHASH_KERNEL_MAX_ROWS` signatures.  When it fits, the
    banding runs through :func:`_minhash_pairs_kernel` instead of the
    self-join — identical pair set (parity pinned in tests at cap = n
    and n - 1), ~4x at sf1.0.  Over the cap the collect stops at
    cap + 1 rows and the self-join recomputes the signatures, so the
    probe's signature pass is paid twice."""
    sigs = minhash_signatures_df(df, id_col, text_col, num_hashes,
                                 shingle_k)
    tbl = bounded_collect(sigs, MINHASH_KERNEL_MAX_ROWS)
    if tbl is not None:
        id_dt = df.schema[id_col].dataType.simpleString()
        pairs = _minhash_pairs_kernel(df.sparkSession, tbl, num_hashes,
                                      bands, min_jaccard, id_dt)
    else:
        pairs = _minhash_band_join(sigs, num_hashes, bands, min_jaccard)
    est = F.col("_agree") / F.lit(float(num_hashes))
    return (pairs.select("id_a", "id_b", est.alias("est_jaccard"))
            .groupBy("id_a", "id_b")
            .agg(F.max("est_jaccard").alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= min_jaccard))


def _minhash_band_join(sigs: DataFrame, num_hashes: int, bands: int,
                       min_jaccard: float) -> DataFrame:
    """The distributed side of :func:`minhash_candidates`: the
    slice-keyed band self-join, ``(id_a, id_b, _agree)`` per band
    collision that passes the agreement threshold."""
    rows = num_hashes // bands
    slices = F.array(*[
        F.struct(F.lit(bb).alias("_band"),
                 F.struct(*[F.element_at("_sig", bb * rows + r + 1)
                            .alias(f"h{r}") for r in range(rows)])
                 .alias("_slice"))
        for bb in range(bands)])
    banded = (sigs.select("_id", "_sig", F.explode(slices).alias("_bs"))
              .select("_id", "_sig", "_bs._band", "_bs._slice"))
    a = banded.alias("a")
    b = banded.alias("b")

    agree = F.size(F.filter(
        F.zip_with(F.col("a._sig"), F.col("b._sig"),
                   lambda x, y: x == y),
        lambda v: v))
    min_agree = int(math.ceil(min_jaccard * num_hashes))

    return (a.join(b, (F.col("a._band") == F.col("b._band"))
                   & (F.col("a._slice") == F.col("b._slice"))
                   & (F.col("a._id") < F.col("b._id"))
                   & (agree >= F.lit(min_agree)))
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    agree.alias("_agree")))


# --------------------------------------------- bounded bucket self-join ---

def chunked_bucket_pairs(keyed: DataFrame, bucket_cols: Sequence[str],
                         chunk_size: int = 8192,
                         salt_seed: int = 97):
    """Bucket-local self-join sides with ONE side salted into ~fixed-size
    chunks, so no join group ever goes quadratic in the bucket size.

    Band/bucket key spaces are small by construction (a 16-bit band has
    65,536 buckets; 16 hyperplanes give 65,536 sign patterns), which is
    exactly why a naive bucket self-join dies at 10^9+ rows: the average
    bucket holds n/keyspace rows and the bucket-local a x b join
    materializes its square in ONE task.  The same ceiling makes the
    per-bucket count table tiny (<= keyspace rows), so it broadcasts.

    Shape (mirrors ``ivf_topk``'s member chunking): per-bucket counts ->
    ``n_chunks = ceil(count / chunk_size)`` broadcast back; the *b* side
    lands in exactly one chunk (``xxhash64(_id, salt) % n_chunks`` —
    expectation-bounded at ~chunk_size, Chernoff-tight for chunk_size >=
    a few hundred); the *a* side replicates to every chunk.  Each
    unordered pair ``(u, v), u < v`` meets exactly once — in chunk(v) —
    so downstream ``a._id < b._id`` joins are exact, while per-task join
    groups are bounded at ~bucket_size x chunk_size instead of
    bucket_size^2.  Cost: one extra column-pruned pass for the bucket
    histogram (map-side combined, tiny shuffle) and a-side replication
    x(bucket/chunk_size) — signatures only, never documents.

    `keyed` must carry a unique ``_id`` column.  Returns ``(a, b)``
    aliased frames; join on ``bucket_cols + ["_chunk"]``.
    """
    counts = (keyed.groupBy(*bucket_cols)
              .agg(F.ceil(F.count(F.lit(1)) / chunk_size)
                   .cast("int").alias("_nc")))
    withn = keyed.join(F.broadcast(counts), list(bucket_cols))
    b = withn.withColumn(
        "_chunk", F.pmod(F.xxhash64("_id", F.lit(salt_seed)),
                         F.greatest(F.lit(1), F.col("_nc")))
        .cast("int")).drop("_nc")
    a = withn.withColumn(
        "_chunk", F.explode(F.sequence(
            F.lit(0), F.greatest(F.lit(1), F.col("_nc")) - 1))).drop("_nc")
    return a.alias("a"), b.alias("b")


# ------------------------------------------------------------ simhash -----

def simhash_signatures_df(df: DataFrame, id_col: str, text_col: str,
                          bits: int = 64) -> DataFrame:
    """(_id, _sh) SimHash bit-array signatures via explode + codegen'd
    sum-aggs — ONE xxhash64 per token.

    Per-bit ones-counts are packed 4-per-long in 16-bit lanes, so 64 bits
    need only bits/4 aggregate expressions (+1 count) instead of 64:
    smaller generated code, 4x narrower shuffle rows.  Lane l of group g
    counts tokens whose hash bit (4g+l) is set; bit b of the signature is
    1 iff 2*ones_b > n_tokens (== sign of the classic +-1 sum; ties -> 0).
    Safe for up to 65535 distinct tokens per document (lane width)."""
    if bits % 4:
        raise ValueError(f"bits={bits} must be a multiple of 4 "
                         "(16-bit lane packing)")
    n_groups = bits // 4
    tokens = F.array_distinct(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    toks = (ensure_parallelism(df.filter(F.col(text_col).isNotNull()))
            .select(F.col(id_col).alias("_id"),
                    F.explode(tokens).alias("_tok")))
    h = F.xxhash64(F.col("_tok"))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for g in range(n_groups):
        lanes = None
        for lane in range(4):
            b = 4 * g + lane
            term = F.when(F.shiftrightunsigned(h, b)
                          .bitwiseAND(F.lit(1)) == 1,
                          F.lit(1 << (16 * lane)).cast("long")) \
                    .otherwise(F.lit(0).cast("long"))
            lanes = term if lanes is None else lanes + term
        aggs.append(F.sum(lanes).alias(f"_g{g}"))
    packed = toks.groupBy("_id").agg(*aggs)
    bit_cols = []
    for b in range(bits):
        g, lane = divmod(b, 4)
        ones = (F.shiftrightunsigned(F.col(f"_g{g}"), 16 * lane)
                .bitwiseAND(F.lit(0xFFFF)))
        bit_cols.append((ones * 2 > F.col("_n")).cast("int"))
    return packed.select("_id", F.array(*bit_cols).alias("_sh"))


def simhash_packed_df(df: DataFrame, id_col: str, text_col: str,
                      bits: int = 64) -> DataFrame:
    """(_id, _sh long) — the bit array folded into one long with
    python-literal bit values, so downstream hamming is a codegen'd
    bit_count(xor) instead of an interpreted array zip."""
    if bits > 64:
        raise ValueError(f"bits={bits}: packed signature is one long")
    sigs = simhash_signatures_df(df, id_col, text_col, bits)
    packed = None
    for b in range(bits):
        bitval = -(1 << 63) if b == 63 else (1 << b)
        term = F.when(F.element_at("_sh", b + 1) == 1,
                      F.lit(bitval).cast("long")).otherwise(F.lit(0).cast("long"))
        packed = term if packed is None else packed.bitwiseOR(term)
    return sigs.select("_id", packed.alias("_sh"))


def simhash_duplicates(df: DataFrame, id_col: str, text_col: str,
                       bits: int = 64, max_hamming: int = 3,
                       band_bits: int = 16,
                       chunk_size: int = 8192) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, blocked by
    `bits/band_bits` bands so at least one band matches exactly when the
    distance is small (pigeonhole).  Band extraction and hamming are
    literal shift/mask/bit_count — fully codegen'd.

    The 16-bit band key space caps at 65,536 buckets per band, so at
    10^9+ rows a raw (band, bucket) self-join goes quadratic inside one
    task; :func:`chunked_bucket_pairs` salts one join side into
    ~`chunk_size` chunks so per-task groups stay bounded while every
    qualifying pair still meets exactly once.  Text SimHash bits are
    near-uniform, so the bands stay balanced (unlike stored phashes —
    see :func:`phash_near_duplicates`).

    The signature pipeline feeds the bucket histogram plus both join
    sides, so it is computed once (measured ~25% faster at sf0.1) into
    a TRACKED cache released by :func:`clear_dedup_cache`."""
    sigs = track(simhash_packed_df(df, id_col, text_col, bits).cache())
    return packed_hamming_pairs(sigs, bits=bits, max_hamming=max_hamming,
                                band_bits=band_bits, chunk_size=chunk_size)


def packed_hamming_pairs(sigs: DataFrame, bits: int = 64,
                         max_hamming: int = 3, band_bits: int = 16,
                         chunk_size: int = 8192,
                         require_full_recall: bool = False) -> DataFrame:
    """Banded-hamming pair core over an already-materialized packed
    code column ``(_id, _sh long)`` — text SimHash's pair join, whose
    near-uniform signature bits keep every band's buckets balanced.

    Pigeonhole: with ``bits/band_bits`` bands, any pair at hamming <=
    (bits/band_bits - 1) is guaranteed to share at least one exact
    band.  Above that the banding is a best-effort LSH screen (recall
    < 1 by design — the caller trades recall for join size, standard
    SimHash practice); pass ``require_full_recall=True`` to assert the
    guarantee instead (an exact reference must not silently miss
    pairs).  Band keys are literal
    shift/mask extractions and the final distance is
    ``bit_count(xor)`` — fully codegen'd; the (band, bucket) self-join
    is bounded by :func:`chunked_bucket_pairs` chunk salting so no
    task goes quadratic in a hot bucket."""
    n_bands = bits // band_bits
    if require_full_recall and max_hamming >= n_bands:
        # ValueError, not assert: python -O strips asserts, which would
        # silently lose recall instead of failing the misconfiguration
        raise ValueError(
            f"pigeonhole broken: hamming {max_hamming} needs > "
            f"{max_hamming} bands, got {n_bands} ({bits} bits / "
            f"{band_bits} band_bits)")
    mask = (1 << band_bits) - 1
    bucket_exprs = [
        F.struct(F.lit(b).alias("_band"),
                 F.shiftrightunsigned(F.col("_sh"), b * band_bits)
                 .bitwiseAND(F.lit(mask)).alias("_bucket"))
        for b in range(n_bands)
    ]
    banded = sigs.select(
        "_id", "_sh",
        F.explode(F.array(*bucket_exprs)).alias("_bb")
    ).select("_id", "_sh", "_bb._band", "_bb._bucket")
    a, b = chunked_bucket_pairs(banded, ["_band", "_bucket"], chunk_size)
    xor = F.col("a._sh").bitwiseXOR(F.col("b._sh"))
    ham = F.bit_count(xor)
    # a colliding pair matches in EVERY shared band — emit it only in
    # the FIRST one (lowest zero xor-band, a codegen'd when-chain
    # inside the join condition), so join output is ~n_bands x smaller
    # before the dedup shuffle and per-pair work happens once
    first_band = F.lit(None).cast("int")
    for bb in range(n_bands - 1, -1, -1):
        nib = (F.shiftrightunsigned(xor, bb * band_bits)
               .bitwiseAND(F.lit(mask)))
        first_band = F.when(nib == 0, F.lit(bb)).otherwise(first_band)
    pairs = (a.join(b, (F.col("a._band") == F.col("b._band"))
                    & (F.col("a._bucket") == F.col("b._bucket"))
                    & (F.col("a._chunk") == F.col("b._chunk"))
                    & (F.col("a._id") < F.col("b._id"))
                    & (F.col("a._band") == first_band))
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"),
                     ham.alias("hamming")))
    # the remaining duplicates are DISTINCT input rows sharing an id
    # (e.g. planted duplicate image_ids) — min-combine those
    return (pairs.filter(F.col("hamming") <= max_hamming)
            .groupBy("id_a", "id_b").agg(F.min("hamming").alias("hamming")))


def enumerated_hamming_pairs(sigs: DataFrame, bits: int = 64,
                             max_hamming: int = 3,
                             chunk_size: int = 8192) -> DataFrame:
    """Exact hamming-ball pairs over packed codes ``(_id, _sh long)``
    via BIT-FLIP ENUMERATION on wide exact keys — the phash near-dup
    join (public algorithm: Manku, Jain & Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW'07 §3).

    16-bit banding's keyspace is 65,536 buckets/band, and skewed codes
    fill far fewer, so bucket-local work grows ~n^2/buckets — chunk
    salting bounds task size but not total work.  Enumeration instead
    splits the code into 2 blocks of bits/2; a pair within hamming <= 3
    has <= 1 differing bit in SOME block (pigeonhole), so joining every
    row's block value against the other rows' {identity + bits/2
    single-bit variants} on the EXACT 32-bit block key gives a 2^32
    keyspace — ~0.25 rows/bucket at 10^9 rows, no quadratic anywhere.
    The price is a (bits/2 + 1)x probe-side key expansion (28-byte key
    rows, codes only — never payloads), the linear-shuffle trade the
    published design makes.

    Each qualifying pair meets in both orientations per matching
    (block, variant) event — ``_id`` ordering keeps one — and in up to
    2 blocks; emitting only the FIRST block with <= 1 xor-bits (cheap
    bit_count condition) makes events unique per input-row pair, with
    the final groupBy min-combining distinct rows that share an id.
    Residual key skew (a planted cluster of identical codes lands on
    one identity key) is bounded by chunk-salting the hot keys.
    Requires ``max_hamming <= 3`` (the 2-block <= 1-flip regime;
    larger balls need more blocks) and even ``bits``."""
    if not 0 <= max_hamming <= 3:
        # ValueError, not assert (python -O would silently miss pairs)
        raise ValueError(
            f"max_hamming={max_hamming}: 2-block single-flip "
            "enumeration is exact only for 0 <= max_hamming <= 3")
    if bits % 2:
        raise ValueError(f"bits={bits} must be even (2 equal blocks)")
    half = bits // 2
    lo_mask = (1 << half) - 1

    def block_val(sh, blk: int):
        return F.shiftrightunsigned(sh, blk * half).bitwiseAND(F.lit(lo_mask))

    originals = sigs.select(
        "_id", "_sh",
        F.explode(F.array(*[
            F.struct(F.lit(blk).alias("_blk"),
                     block_val(F.col("_sh"), blk).alias("_key"))
            for blk in range(2)])).alias("_bk")
    ).select("_id", "_sh", "_bk._blk", "_bk._key")

    variants = sigs.select(
        "_id", "_sh",
        F.explode(F.array(*[
            F.struct(F.lit(blk).alias("_blk"),
                     block_val(F.col("_sh"), blk)
                     .bitwiseXOR(F.lit(flip)).alias("_key"))
            for blk in range(2)
            for flip in [0] + [1 << j for j in range(half)]]))
        .alias("_bk")
    ).select("_id", "_sh", "_bk._blk", "_bk._key")

    # bound residual identity-key skew (clusters of identical codes on
    # one key): unlike 16-bit bands, the (block, key) histogram here
    # spans a 2^32 keyspace, so only the HOT keys (count > chunk_size —
    # rare by construction) are broadcast; everything else defaults to
    # one chunk via the left join's coalesce
    hot = (originals.groupBy("_blk", "_key")
           .agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > chunk_size)
           .select("_blk", "_key",
                   F.ceil(F.col("_n") / chunk_size).cast("int")
                   .alias("_nc")))
    nc = F.coalesce(F.col("_nc"), F.lit(1))
    a = (originals.join(F.broadcast(hot), ["_blk", "_key"], "left")
         .withColumn("_chunk", F.explode(F.sequence(F.lit(0), nc - 1)))
         .drop("_nc").alias("a"))
    b = (variants.join(F.broadcast(hot), ["_blk", "_key"], "left")
         .withColumn("_chunk", F.pmod(F.xxhash64("_id", F.lit(97)), nc)
                     .cast("int"))
         .drop("_nc").alias("b"))

    xor = F.col("a._sh").bitwiseXOR(F.col("b._sh"))
    first_blk = F.when(
        F.bit_count(xor.bitwiseAND(F.lit(lo_mask))) <= 1, F.lit(0)
    ).otherwise(F.lit(1))
    pairs = (a.join(b, (F.col("a._blk") == F.col("b._blk"))
                    & (F.col("a._key") == F.col("b._key"))
                    & (F.col("a._chunk") == F.col("b._chunk"))
                    & (F.col("a._id") < F.col("b._id"))
                    & (F.col("a._blk") == first_blk)
                    & (F.bit_count(xor) <= max_hamming))
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"),
                     F.bit_count(xor).alias("hamming")))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.min("hamming").alias("hamming")))


def phash_near_duplicates(df: DataFrame, id_col: str = "image_id",
                          phash_col: str = "phash",
                          max_hamming: int = 3,
                          chunk_size: int = 8192) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash hamming distance
    over the north-star table's ``phash:int64`` column (BASELINE.json
    input_hint; the reference analogue is a uniqueItems-style pairwise
    check, reference `_keywords.py` uniqueItems — here relaxed from
    equality to a hamming ball, the standard near-dup-image screen).

    No signature computation: the stored 64-bit phash IS the packed
    code, joined by :func:`enumerated_hamming_pairs` — Manku-style
    single-bit-flip enumeration on exact 32-bit block keys, exact
    (full recall AND precision) for ``max_hamming`` 0..3.  Not 16-bit
    banding: stored phashes are not uniform (the north-star table's
    are < 2^49, so the top band has 2 buckets of n/2 rows each) and
    banding goes quadratic inside those buckets (at 200k rows it did
    not finish in 10 min on 4 cores), while the 2^32 block keyspace
    leaves only genuinely identical codes sharing a key, and those hot
    keys are chunk-salted.  Rows with NULL phash never pair.
    Output ``(id_a, id_b, hamming)``; duplicate ids (same id on two
    rows) contribute their min-hamming pair once."""
    sigs = (df.filter(F.col(phash_col).isNotNull())
            .select(F.col(id_col).alias("_id"),
                    F.col(phash_col).cast("long").alias("_sh")))
    return enumerated_hamming_pairs(sigs, bits=64, max_hamming=max_hamming,
                                    chunk_size=chunk_size)


# ------------------------------------------------------ ngram jaccard -----

def _jaccard_pairs_from_posting(posting: DataFrame, min_jaccard: float,
                                max_bucket: int) -> DataFrame:
    """Shared posting-list core: DISTINCT (_id, _g) posting rows ->
    exact Jaccard pairs.  Document gram *arrays are never shuffled* —
    the intersection size is ``count(shared grams)`` from the
    inverted-index self-join and the union is ``|A| + |B| - inter``
    from pre-aggregated set sizes.

    Callers feed the posting list straight from a codegen'd
    explode+substring/slice projection (never a transform-HOF array —
    interpreted lambdas measured ~5x slower end-to-end at sf0.1); the
    per-document distinct is a groupBy-shaped shuffle that combines
    map-side, so it rides the same exchange the df-count needs anyway.

    Exact whenever no shared gram's document frequency exceeds
    `max_bucket`; grams above it (stop-grams) are dropped from pairing —
    the classic posting-list skew guard (a df-D gram alone generates
    D^2/2 join rows, which is what kills this join at 100 TB).  A df=1
    gram can never be shared, so the lower bound loses nothing."""
    sized = posting.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    shared = (posting.groupBy("_g")
              .agg(F.count(F.lit(1)).alias("_df"))
              .filter(F.col("_df").between(2, max_bucket)))
    posting = posting.join(shared.select("_g"), "_g")
    a, b = posting.alias("a"), posting.alias("b")
    inter = (a.join(b, (F.col("a._g") == F.col("b._g"))
                    & (F.col("a._id") < F.col("b._id")))
             .groupBy(F.col("a._id").alias("id_a"),
                      F.col("b._id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("_inter")))
    na = sized.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    nb = sized.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    jac = F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    return (inter.join(na, "id_a").join(nb, "id_b")
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= min_jaccard))


def _ngram_pairs_kernel(spark, docs, n: int, min_jaccard: float,
                        max_bucket: int, id_dt: str) -> DataFrame:
    """Bounded-corpus inverted-index kernel: result-identical to the
    posting-list self-join in :func:`ngram_jaccard_pairs` (same gated
    fast-path contract as ``_minhash_pairs_kernel``).

    Why: the posting self-join emits one row per shared-gram co-pair —
    sum(df^2) over kept grams, 114M rows at sf1.0 for a 200-doc df cap
    — and every row rides the (id_a, id_b) count aggregation.  Here
    the texts broadcast (~15 MB at sf1.0); each worker builds, once, a
    CSR of interned per-doc distinct grams + the inverted index over
    grams with 2 <= df <= max_bucket; anchors stride across blocks and
    each anchor's candidate multiset (concatenated postings of its
    kept grams) collapses to intersection counts with one sort —
    jaccard = inter/(na+nb-inter) in the same IEEE double, na/nb the
    full distinct-gram sizes exactly like the join's pre-filter
    ``sized`` frame.  Tokenization replicates the Spark expression
    byte-for-byte: ``trim`` strips 0x20 only, Java-regex ``\\s`` is the
    ASCII class, empty tokens are KEPT (split keeps leading/trailing
    empties), and a doc with fewer than n words contributes its single
    short joined gram.  ``docs`` is the collected ``(id, text)`` Arrow
    table of the non-NULL texts."""
    import uuid

    import numpy as np

    out_schema = f"id_a {id_dt}, id_b {id_dt}, jaccard double"
    if docs.num_rows == 0:
        return empty(spark, out_schema)
    raw_ids = docs.column(0).to_pylist()
    raw_txts = docs.column(1).to_pylist()
    sort_ix = sorted(range(len(raw_ids)), key=raw_ids.__getitem__)
    ids = [raw_ids[i] for i in sort_ix]
    txts = [raw_txts[i] for i in sort_ix]
    bc = spark.sparkContext.broadcast((ids, txts))
    token = uuid.uuid4().hex
    n_docs = len(ids)
    par = spark.sparkContext.defaultParallelism
    n_blocks = min(max(4 * par, 1), n_docs)
    mj = float(min_jaccard)
    typ = docs.schema.field(0).type

    def _prep():
        import re
        p_ids, p_txts = bc.value
        ws_re = re.compile(r"[ \t\n\x0b\x0c\r]+")
        vocab: dict = {}
        flat_parts = []
        indptr = np.zeros(len(p_txts) + 1, dtype=np.int64)
        for i, t in enumerate(p_txts):
            words = ws_re.split(t.strip(" "))
            L = len(words)
            n_g = max(L - (n - 1), 1)
            seen = {" ".join(words[j:j + n]) for j in range(n_g)}
            flat_parts.append(np.fromiter(
                (vocab.setdefault(g, len(vocab)) for g in seen),
                dtype=np.int64, count=len(seen)))
            indptr[i + 1] = indptr[i] + len(seen)
        flat = (np.concatenate(flat_parts) if flat_parts
                else np.empty(0, dtype=np.int64))
        sizes = np.diff(indptr)
        dfreq = np.bincount(flat, minlength=len(vocab))
        kept = (dfreq >= 2) & (dfreq <= max_bucket)
        # inverted index over kept grams: doc index per posting row,
        # grouped by gram id
        doc_of = np.repeat(np.arange(len(p_txts), dtype=np.int64),
                           sizes)
        keep_mask = kept[flat]
        g_kept = flat[keep_mask]
        d_kept = doc_of[keep_mask]
        order = np.argsort(g_kept, kind="stable")
        inv_docs = d_kept[order]
        gs = g_kept[order]
        inv_indptr = np.searchsorted(
            gs, np.arange(len(vocab) + 1, dtype=np.int64))
        return (p_ids, flat, indptr, sizes, kept, inv_docs, inv_indptr)

    def kernel(batches):
        import pyarrow as pa
        p_ids, flat, indptr, sizes, kept, inv_docs, inv_indptr = \
            worker_memo(token, _prep)
        id_arr = np.asarray(p_ids)
        for batch in batches:
            for blk in batch.column(0).to_pylist():
                out_a, out_b, out_j = [], [], []
                for i in range(blk, n_docs, n_blocks):
                    gi = flat[indptr[i]:indptr[i + 1]]
                    gi = gi[kept[gi]]
                    if not len(gi):
                        continue
                    starts = inv_indptr[gi]
                    lens = inv_indptr[gi + 1] - starts
                    total = int(lens.sum())
                    if not total:
                        continue
                    steps = np.ones(total, dtype=np.int64)
                    steps[0] = starts[0]
                    pos = np.cumsum(lens)[:-1]
                    if len(pos):
                        steps[pos] = (starts[1:]
                                      - (starts[:-1] + lens[:-1] - 1))
                    cand = inv_docs[np.cumsum(steps)]
                    cand = cand[cand > i]        # index order == id order
                    if not len(cand):
                        continue
                    js, inters = np.unique(cand, return_counts=True)
                    ok = id_arr[js] != id_arr[i]  # strict id_a < id_b
                    js, inters = js[ok], inters[ok]
                    jac = inters / (sizes[i] + sizes[js] - inters)
                    keep = np.nonzero(jac >= mj)[0]
                    if len(keep):
                        out_a.extend([p_ids[i]] * len(keep))
                        out_b.extend(id_arr[js[keep]].tolist())
                        out_j.extend(jac[keep].tolist())
                if out_a:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(out_a, type=typ),
                         pa.array(out_b, type=typ),
                         pa.array(out_j, type=pa.float64())],
                        names=["id_a", "id_b", "jaccard"])

    return launch(spark, kernel, out_schema, n_blocks)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, min_jaccard: float = 0.6,
                        max_bucket: int = 200) -> DataFrame:
    """Exact word-n-gram Jaccard pairs (see _jaccard_pairs_from_posting
    for the posting-list shape).  The posting list is generated
    codegen-side: split once per doc, explode gram start indices, and
    slice+join per exploded row — no interpreted transform-HOF.

    Bounded-collect gate (r6 kernel): the non-NULL ``(id, text)`` rows
    are collected through :func:`kernels.bounded_collect` capped at
    :data:`MINHASH_KERNEL_MAX_ROWS`; when they fit, the pairs come
    from :func:`_ngram_pairs_kernel` — identical output (parity pinned
    in tests at cap = n and n - 1; the sf1.0 posting join emitted 114M
    co-pair rows for a 25-pair result).  Over the cap the posting join
    scans the texts again, after the probe has read up to cap + 1
    rows of them."""
    docs = bounded_collect(df.filter(F.col(text_col).isNotNull())
                           .select(id_col, text_col),
                           MINHASH_KERNEL_MAX_ROWS)
    if docs is not None:
        id_dt = df.schema[id_col].dataType.simpleString()
        return _ngram_pairs_kernel(df.sparkSession, docs, n, min_jaccard,
                                   max_bucket, id_dt)
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    cnt = F.greatest(F.size("_w") - (n - 1), F.lit(1))
    posting = (ensure_parallelism(df.filter(F.col(text_col).isNotNull()))
               .select(F.col(id_col).alias("_id"), words.alias("_w"))
               .select("_id", "_w",
                       F.explode(F.sequence(F.lit(1), cnt)).alias("_i"))
               .select("_id",
                       F.array_join(F.slice("_w", F.col("_i"), n), " ")
                       .alias("_g"))
               .distinct())
    return _jaccard_pairs_from_posting(posting, min_jaccard, max_bucket)


def verify_pairs_exact_jaccard(pairs: DataFrame, df: DataFrame,
                               id_col: str, text_col: str,
                               k: int = 5,
                               min_jaccard: float = 0.5) -> DataFrame:
    """Re-score candidate pairs with their EXACT character-k-shingle
    Jaccard and keep those >= `min_jaccard`.

    This is the scale-safe verification shape: the exact set math runs
    only on candidate pairs (LSH output, tiny), never all-pairs — gram
    arrays are shuffled for candidate documents only.  Output
    (id_a, id_b, jaccard) is directly comparable to a brute-force
    ground-truth oracle; equality certifies BOTH the candidate recall
    (nothing true missed) and the estimator's precision after rerank.

    Per-pair cost is one array_intersect: shingle arrays are distinct,
    so |union| = na + nb - |inter| exactly (no array_union pass), and
    pairs whose set sizes already bound Jaccard below `min_jaccard`
    (J <= min/max, since inter <= min(na, nb) and union >= max) are
    dropped BEFORE the arrays are joined — on templated same-domain
    corpora this sheds ~40%% of candidate pairs for the price of two
    broadcast-size int joins.

    The doc side takes the ensure_parallelism floor (r6): the
    interpreted shingle-array transform is referenced by FOUR subtrees
    (two size frames, two array frames) and otherwise runs at the
    scan's row-group-bound parallelism — serial on the single-row-
    group sf tables."""
    docs = ensure_parallelism(df.select(id_col, text_col)) \
        .select(F.col(id_col).alias("_id"),
                shingles(F.col(text_col), k).alias("_grams"))
    ga = docs.select(F.col("_id").alias("id_a"),
                     F.col("_grams").alias("_ga"),
                     F.size("_grams").alias("_na"))
    gb = docs.select(F.col("_id").alias("id_b"),
                     F.col("_grams").alias("_gb"),
                     F.size("_grams").alias("_nb"))
    sized = (pairs.select("id_a", "id_b")
             .join(ga.select("id_a", "_na"), "id_a")
             .join(gb.select("id_b", "_nb"), "id_b")
             .filter(F.least("_na", "_nb")
                     >= F.lit(min_jaccard) * F.greatest("_na", "_nb"))
             .select("id_a", "id_b"))
    inter = F.size(F.array_intersect("_ga", "_gb"))
    jac = inter / (F.col("_na") + F.col("_nb") - inter)
    return (sized
            .join(ga, "id_a").join(gb, "id_b")
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= min_jaccard))


def _popcount64(x):
    """Vectorized popcount over a uint64 numpy array (bitwise_count on
    numpy >= 2, SWAR fallback otherwise)."""
    import numpy as np
    if hasattr(np, "bitwise_count"):
        return np.bitwise_count(x)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = ((x & np.uint64(0x3333333333333333))
         + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333)))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def hamming_verified_pairs(df: DataFrame, id_col: str, text_col: str,
                           bits: int = 64, max_hamming: int = 12,
                           band_bits: int = 4, k: int = 5,
                           min_jaccard: float = 0.5) -> DataFrame:
    """FUSED audit-panel kernel: result-identical to

    ``verify_pairs_exact_jaccard(simhash_duplicates(df, id, text,
    bits=bits, max_hamming=max_hamming, band_bits=band_bits), df, id,
    text, k=k, min_jaccard=min_jaccard)``

    i.e. pairs that (a) share at least one exact ``band_bits`` SimHash
    band AND have hamming <= ``max_hamming`` (the banding screen's
    precise semantics, lossy iff max_hamming >= bits/band_bits) and
    (b) have exact char-``k``-shingle Jaccard >= ``min_jaccard``.

    Why fused: a loose audit screen (hamming 12 at 4-bit bands) emits
    O(n^2)-ish candidates on a same-domain panel — 55.6M pairs from a
    16.7k-doc panel at sf1.0 — and the composition materializes every
    candidate as a row and then sort-merge-joins two ~290-element
    shingle arrays onto each (a ~150 GB array shuffle; measured 350 s).
    The audit panel is BOUNDED by design (it exists precisely because
    the loose screen cannot run corpus-wide), so instead: Spark
    computes the signatures (codegen'd explode+agg, unchanged), the
    (id, sig) list and the panel texts are broadcast (~5 MB), and a
    block-parallel ``mapInArrow`` kernel enumerates hamming candidates
    with vectorized xor/popcount and verifies each with an exact
    interned-shingle ``np.intersect1d`` — only verified pairs (hundreds)
    ever become rows.  No candidate row stream, no array shuffle, no
    driver compute beyond the bounded collect (same contract as
    ``brute_force_topk``'s broadcast side).  Shingle interning is
    exact string identity — no hashing, so no collision caveat.

    Anchors are strided across blocks so early/late blocks carry equal
    suffix work.  Ties/floats: jaccard = inter/(na+nb-inter) in IEEE
    double, identical to the Spark expression it replaces.

    Bounded-collect gate: the signatures and the texts are each
    collected through :func:`kernels.bounded_collect` capped at
    :data:`MINHASH_KERNEL_MAX_ROWS`.  A panel over the cap runs the
    composition above instead (parity pinned in tests at cap = n and
    n - 1), recomputing the signatures the probe already paid for."""
    import uuid

    import numpy as np

    id_dt = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_dt}, id_b {id_dt}, jaccard double"
    spark = df.sparkSession

    sigs = bounded_collect(simhash_packed_df(df, id_col, text_col, bits),
                           MINHASH_KERNEL_MAX_ROWS)
    docs = None if sigs is None else bounded_collect(
        df.select(id_col, text_col).filter(F.col(text_col).isNotNull()),
        MINHASH_KERNEL_MAX_ROWS)
    if docs is None:
        cand = simhash_duplicates(df, id_col, text_col, bits=bits,
                                  max_hamming=max_hamming,
                                  band_bits=band_bits)
        return verify_pairs_exact_jaccard(cand, df, id_col, text_col,
                                          k=k, min_jaccard=min_jaccard)
    if sigs.num_rows == 0:
        return empty(spark, out_schema)
    texts = dict(zip(docs.column(0).to_pylist(),
                     docs.column(1).to_pylist()))
    raw_ids = sigs.column("_id").to_numpy()
    sort_ix = raw_ids.argsort(kind="stable")
    ids = raw_ids[sort_ix].tolist()
    codes = sigs.column("_sh").to_numpy()[sort_ix].astype(np.int64) \
        .view(np.uint64)
    txt_list = [texts.get(i) for i in ids]
    bc = spark.sparkContext.broadcast((ids, codes, txt_list))
    token = uuid.uuid4().hex

    n = len(ids)
    n_bands = bits // band_bits
    mask = np.uint64((1 << band_bits) - 1)
    par = spark.sparkContext.defaultParallelism
    n_blocks = min(max(4 * par, 1), n)
    mh = np.uint64(max_hamming)
    mj = float(min_jaccard)
    typ = sigs.schema.field("_id").type

    def _prep():
        p_ids, p_codes, p_txt = bc.value
        # CSR of interned shingle ids: intersection sizes then come
        # from one boolean lookup-table gather + reduceat per anchor
        # instead of an intersect1d per pair (~10 us/pair -> ~1 ns/elem)
        vocab: dict = {}
        flat_parts = []
        indptr = np.zeros(len(p_txt) + 1, dtype=np.int64)
        for i, t in enumerate(p_txt):
            n_sh = max(len(t) - (k - 1), 1)
            seen = {t[j:j + k] for j in range(n_sh)}
            flat_parts.append(np.fromiter(
                (vocab.setdefault(s, len(vocab)) for s in seen),
                dtype=np.int64, count=len(seen)))
            indptr[i + 1] = indptr[i] + len(seen)
        flat = (np.concatenate(flat_parts) if flat_parts
                else np.empty(0, dtype=np.int64))
        sizes = np.diff(indptr)
        lut = np.zeros(len(vocab), dtype=bool)
        # one-hot GEMM verify (r6): when the interned vocabulary is
        # small (short-vocab corpora — the bench regime), exact
        # intersection counts for a whole anchor block against ALL
        # docs come from ONE BLAS sgemm over the 0/1 matrix — measured
        # ~100x less per-pair cost than the boolean-LUT gather, which
        # walked ~250 flat elements per candidate x 46M candidates.
        # Counts are exact: intersections are bounded by the longest
        # shingle set (<< 2^24, float32-exact), and the jaccard is the
        # same IEEE double division on the recovered integers.  Large
        # vocabularies fall back to the gather (the one-hot matrix is
        # gated at 256 MB).
        one_hot = None
        if len(p_txt) and len(vocab) and len(vocab) < (1 << 24) and \
                len(p_txt) * len(vocab) * 4 <= (256 << 20):
            one_hot = np.zeros((len(p_txt), len(vocab)),
                               dtype=np.float32)
            one_hot[np.repeat(np.arange(len(p_txt)), sizes), flat] = 1.0
        return (p_ids, p_codes, flat, indptr, sizes, lut, one_hot)

    def kernel(batches):
        import pyarrow as pa
        p_ids, p_codes, flat, indptr, sizes, lut, one_hot = \
            worker_memo(token, _prep)
        id_arr = np.asarray(p_ids)
        # pigeonhole: max_hamming set bits cannot occupy every one of
        # n_bands bands when max_hamming < n_bands, so the band-share
        # condition is implied and its n_bands-pass check is skipped
        bands_implied = int(mh) < n_bands
        for batch in batches:
            for blk in batch.column(0).to_pylist():
                out_a, out_b, out_j = [], [], []
                S_blk = None
                if one_hot is not None:
                    anchors = np.arange(blk, n, n_blocks)
                    # one sgemm: exact intersection counts of every
                    # block anchor against every doc
                    S_blk = one_hot[anchors] @ one_hot.T
                for r, i in enumerate(range(blk, n, n_blocks)):
                    if i + 1 >= n:
                        continue
                    x = p_codes[i + 1:] ^ p_codes[i]
                    ok = _popcount64(x) <= mh
                    if not bands_implied:
                        share = np.zeros(len(x), dtype=bool)
                        for b in range(n_bands):
                            share |= ((x >> np.uint64(b * band_bits))
                                      & mask) == 0
                        ok &= share
                    # size prefilter (provably result-free: J <= min/max)
                    sj = sizes[i + 1:]
                    lo = np.minimum(sj, sizes[i]).astype(np.float64)
                    hi = np.maximum(sj, sizes[i]).astype(np.float64)
                    ok &= lo >= mj * hi
                    js = np.nonzero(ok)[0] + (i + 1)
                    js = js[id_arr[js] != id_arr[i]]  # strict id_a<id_b
                    if not len(js):
                        continue
                    lens = sizes[js]
                    if S_blk is not None:
                        inters = np.rint(S_blk[r, js]).astype(np.int64)
                    else:
                        ga = flat[indptr[i]:indptr[i + 1]]
                        lut[ga] = True
                        starts = indptr[js]
                        total = int(lens.sum())
                        # vectorized multi-arange over candidate segments
                        steps = np.ones(total, dtype=np.int64)
                        steps[0] = starts[0]
                        pos = np.cumsum(lens)[:-1]
                        if len(pos):
                            steps[pos] = (starts[1:]
                                          - (starts[:-1] + lens[:-1] - 1))
                        idx = np.cumsum(steps)
                        hits = lut[flat[idx]].astype(np.int32)
                        bounds = np.concatenate(([0], pos))
                        inters = np.add.reduceat(hits, bounds)
                        lut[ga] = False
                    jac = inters / (sizes[i] + lens - inters)
                    keep = np.nonzero(jac >= mj)[0]
                    if len(keep):
                        out_a.extend([p_ids[i]] * len(keep))
                        out_b.extend(id_arr[js[keep]].tolist())
                        out_j.extend(jac[keep].tolist())
                if out_a:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(out_a, type=typ),
                         pa.array(out_b, type=typ),
                         pa.array(out_j, type=pa.float64())],
                        names=["id_a", "id_b", "jaccard"])

    return launch(spark, kernel, out_schema, n_blocks)
