"""The bounded-collect contract shared by the broadcast kernels.

A broadcast kernel (``dedup.minhash_candidates``,
``dedup.ngram_jaccard_pairs``, ``dedup.hamming_verified_pairs``,
``similarity.ivf_topk``) collects its input to the driver once,
broadcasts it, and does the pair or top-k work in
``spark.range(n_tasks).mapInArrow`` tasks.  Each operator also has a
distributed path that it equals (parity tests pin both sides).  The
gate between them is :func:`bounded_collect`: the kernel runs when the
capped Arrow collect returns a table, the distributed path when it
returns ``None``.  No row count, caller hint or unbounded collect
decides it, so the driver never holds more than ``cap + 1`` rows.
``clusters.connected_components`` gates its driver-side union-find
the same way.

The module also owns what the kernels would otherwise copy: the typed
empty result, the task launch, the worker-side memo, and the registry
of frames persisted for a returned DataFrame.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame

#: frames an operator persisted because its returned DataFrame reads
#: them; released by :func:`clear_persisted`
_PERSISTED: list = []

#: per-Python-worker memo of :func:`worker_memo`, one entry at a time
_WORKER_MEMO: dict = {}


def bounded_collect(df: DataFrame, max_rows: int):
    """``df`` as one Arrow table when it has at most ``max_rows`` rows,
    else ``None``.

    One job: ``df.limit(max_rows + 1).toArrow()``, so the probe is the
    transfer and at most ``max_rows + 1`` rows ever reach the driver.
    Row order is the order ``limit`` collects in, which
    ``ivf_topk``'s quantizer sample relies on.  Over the cap the rows
    are dropped and the caller's distributed path recomputes ``df``."""
    tbl = df.limit(max_rows + 1).toArrow()
    return tbl if tbl.num_rows <= max_rows else None


def list_matrix(col, dtype):
    """An Arrow column of equal-length number lists as a 2-D numpy
    array, values unchanged (a ragged column raises)."""
    import numpy as np
    return np.asarray(list(col.to_numpy(zero_copy_only=False)),
                      dtype=dtype)


def empty(spark, schema: str) -> DataFrame:
    """The kernel's typed empty result."""
    return spark.createDataFrame([], schema)


def launch(spark, kernel: Callable, schema: str, n_tasks: int,
           n_partitions: Optional[int] = None) -> DataFrame:
    """Run ``kernel`` (a ``mapInArrow`` function) over task indices
    ``0 .. n_tasks - 1``; each partition receives its indices as Arrow
    batches of one ``id`` column.  One partition per task unless
    ``n_partitions`` is given."""
    return (spark.range(0, n_tasks, 1,
                        numPartitions=n_partitions or n_tasks)
            .mapInArrow(kernel, schema))


def worker_memo(token: str, build: Callable):
    """``build()``, run once per Python worker for a broadcast.

    ``token`` is a driver-side id of one kernel call (a uuid next to
    its broadcast), so a reused worker builds its per-call tables once,
    not once per task.  The memo keeps one entry: a new token evicts
    the previous call's tables."""
    # resolve the memo through the worker-side module import, never
    # through a closure: cloudpickle ships a nested kernel function BY
    # VALUE with a copy of every global it names, so a kernel naming
    # the dict would get a fresh copy per task and never hit
    # (measured: the n-gram prep re-ran on all 128 tasks, ~6 s wall).
    # The package is importable on workers, as every kernel here
    # already requires.
    from jsonschema_spark.operators.kernels import _WORKER_MEMO as memo
    hit = memo.get(token)
    if hit is None:
        memo.clear()
        hit = memo[token] = build()
    return hit


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted ``df`` for :func:`clear_persisted`."""
    _PERSISTED.append(df)
    return df


def clear_persisted() -> int:
    """Unpersist every frame an operator persisted for a DataFrame it
    returned (the persist must outlive the call while the result is
    consumed; Spark cannot unpersist lazily, so long-lived applications
    call this once results are materialized).  Returns frames
    released."""
    n = 0
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
            n += 1
        except Exception:
            pass
    return n
