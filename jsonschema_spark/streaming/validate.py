"""Structured Streaming validation.

The reference validates an unbounded sequence of instances one at a time
(CLI stdin loop, /root/reference/jsonschema/cli.py:259-270); the Spark
lift is a Structured Streaming pipeline: ``readStream`` -> the same
compiled Column predicates (they are pure expressions, so the identical
compiled plan serves batch and streaming) -> ``writeStream``.

Dataset-level semantics in streaming form:

- violations stream      == ``iter_errors`` per micro-batch (append mode)
- windowed manifest      == per-event-time-window pass/fail aggregate
  with a watermark bounding state (late rows beyond the watermark are
  dropped, mirroring the reference's "validate what arrives" model)
- streaming uniqueness   == ``dropDuplicates`` on the key within the
  watermark horizon (state-bounded analogue of the uniqueItems lift)
"""

from __future__ import annotations

import os
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compiler import sql
from ..validator import CompiledValidator, pass_fail


def _ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (with zone); parquet often carries
    TIMESTAMP_NTZ — cast in place (session TZ is UTC, so values are
    preserved bitwise)."""
    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def validate_stream(stream_df: DataFrame, schema: Any,
                    id_cols: Sequence[str] = ()) -> DataFrame:
    """Violation-rows stream: one output row per (input row x failed
    keyword).  Pure narrow transformation — append-mode safe, no state."""
    v = CompiledValidator(schema, stream_df)
    return v.violations(stream_df, id_cols)


def with_valid_stream(stream_df: DataFrame, schema: Any,
                      col: str = "valid") -> DataFrame:
    """Input stream + boolean ``valid`` column (is_valid per row)."""
    return CompiledValidator(schema, stream_df).with_valid(stream_df, col)


#: x-spark blocks that are per-row and stateless — append-mode safe
#: with zero streaming state.  The first four, and pixel_invariant on
#: the stub tier (``decode_images``), are native projections; the
#: real-codec tier (pixel_invariant "real" / phash_integrity /
#: image_quality_decoded) is one narrow mapInPandas scan
#: (``decode_pixels``), which Structured Streaming runs per micro-batch
#: with no state either.
#: Dataset-scope blocks (unique / referential / stats / drift /
#: near_dup_phash / contamination — the last aggregates grams back per
#: doc, an unwatermarked streaming groupBy) need bounded state or a
#: full-table view and are rejected with a pointed error instead of
#: failing inside the stream planner.
STREAM_SAFE_BLOCKS = frozenset(
    {"repetition", "pii", "image_quality", "alignment",
     "pixel_invariant", "phash_integrity", "image_quality_decoded"})


def validate_dataset_stream(stream_df: DataFrame, schema: Any,
                            id_cols: Sequence[str] = ()) -> DataFrame:
    """``validate_dataset`` for streams: row-level keywords PLUS the
    per-row x-spark checks (repetition / pii / image_quality /
    alignment / pixel_invariant / phash_integrity /
    image_quality_decoded), one unified violation-rows stream.

    Every supported block is a narrow append-safe per-row
    transformation — pure Column expressions for the metadata/text
    tiers, one fused mapInPandas decode scan for the pixel tier — so
    the same compiled plan serves batch and streaming (asserted by the
    stream==batch parity tests).  Blocks that need dataset state raise
    ValueError listing themselves; run those on the materialized table
    (batch ``validate_dataset``) or via ``windowed_manifest`` /
    ``drift_stream`` for their windowed streaming analogues."""
    xs = (schema.get("x-spark", {}) or {}) if isinstance(schema, dict) \
        else {}
    unsupported = sorted(set(xs) - STREAM_SAFE_BLOCKS)
    if unsupported:
        raise ValueError(
            f"x-spark block(s) {unsupported} need dataset-scope state "
            f"and cannot run append-mode on a stream; stream-safe "
            f"blocks: {sorted(STREAM_SAFE_BLOCKS)}.  Run the rest via "
            f"batch validate_dataset / windowed_manifest / "
            f"drift_stream.")
    from ..dataset import validate_dataset
    return validate_dataset(stream_df, schema, id_cols)


def windowed_manifest(stream_df: DataFrame, schema: Any, ts_col: str,
                      window: str = "1 minute",
                      watermark: str = "10 minutes",
                      partition_by: Sequence[str] = ()) -> DataFrame:
    """Per-event-time-window pass/fail manifest.

    Watermark bounds the aggregation state so the query runs forever on
    unbounded input; emit is append-mode once the watermark passes the
    window end.  The aggregate mirrors ``CompiledValidator.manifest``.
    """
    stream_df = _ensure_event_time(stream_df, ts_col)
    v = CompiledValidator(schema, stream_df)
    keys = [sql.ref(c) for c in partition_by]
    return pass_fail(
        stream_df.withWatermark(ts_col, watermark), v.valid_column,
        [F.window(F.col(ts_col), window).alias("window"), *keys]).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys, "rows", "invalid_rows", "passed")


def dedup_stream(stream_df: DataFrame, key_cols: Sequence[str],
                 ts_col: str, watermark: str = "10 minutes") -> DataFrame:
    """Streaming uniqueness enforcement: keep the first row per key
    within the watermark horizon (state-bounded uniqueItems lift)."""
    return (_ensure_event_time(stream_df, ts_col)
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(key_cols)))


def run_validation_stream(stream_df: DataFrame, schema: Any,
                          id_cols: Sequence[str], out_dir: str,
                          ts_col: Optional[str] = None,
                          window: str = "1 minute",
                          watermark: str = "10 minutes",
                          available_now: bool = True):
    """End-to-end streaming job: violations + (optional) windowed
    manifest written to parquet under ``out_dir`` with a checkpoint —
    exactly-once per micro-batch, resumable from the checkpoint dir
    (the streaming analogue of runner.ValidationRun).

    Returns the list of started StreamingQuery handles.
    """
    queries = []
    trig = {"availableNow": True} if available_now else \
           {"processingTime": "10 seconds"}
    viols = validate_stream(stream_df, schema, id_cols)
    queries.append(
        viols.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "violations"))
        .option("checkpointLocation",
                os.path.join(out_dir, "_ckpt_violations"))
        .outputMode("append").trigger(**trig).start())
    if ts_col is not None:
        man = windowed_manifest(stream_df, schema, ts_col, window, watermark)
        queries.append(
            man.writeStream.format("parquet")
            .option("path", os.path.join(out_dir, "manifest"))
            .option("checkpointLocation",
                    os.path.join(out_dir, "_ckpt_manifest"))
            .outputMode("append").trigger(**trig).start())
    return queries


def windowed_histogram(stream_df: DataFrame, ts_col: str, col: str,
                       lo: float, hi: float, bins: int,
                       window: str = "1 minute",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming per-event-time-window histogram of ``col`` — ONE
    watermark-bounded stateful aggregation (append-mode safe: a
    window's (bucket, n) rows emit exactly once, when the watermark
    passes its end).  Output: (window_start, window_end, bucket, n)."""
    from ..operators.drift import bucket_expr
    stream_df = _ensure_event_time(stream_df, ts_col)
    return (stream_df
            .filter(F.col(col).isNotNull())
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("window"),
                     bucket_expr(col, lo, hi, bins).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "bucket", "n"))


def drift_stream(stream_df: DataFrame, ts_col: str, col: str,
                 lo: float, hi: float, bins: int,
                 baseline: DataFrame, out_dir: str,
                 window: str = "1 minute",
                 watermark: str = "10 minutes",
                 available_now: bool = True):
    """Streaming distribution-drift vs a baseline snapshot — the
    north-star drift check on unbounded input.

    Two-tier shape (streaming-legal: chaining a window+CDF over a
    streaming aggregate is not, so the scoring runs per sink batch):
    the watermarked :func:`windowed_histogram` aggregation emits each
    window's finalized histogram exactly once; ``foreachBatch`` then
    scores those tiny (bins-row) histograms against the broadcast
    baseline with the SAME :func:`..operators.drift.score_histograms`
    core the batch path uses (KS/L1/chi2/PSI per window) and writes
    them under ``out_dir``.  Because every window arrives in exactly
    one batch, scores are per-window exact — identical to running
    :func:`..operators.drift.partitioned_drift` on the same rows in
    batch (asserted in tests).  Each batch writes to its OWN
    ``batch=<id>`` partition directory with overwrite (foreachBatch is
    at-least-once; a replayed batch re-derives the same batch_id and
    overwrites its own output, so the sink is effectively
    exactly-once).  Read results with
    ``spark.read.parquet(out_dir + "/drift")`` — partition discovery
    adds the ``batch`` column.  Checkpointed: resumable."""
    from ..operators.drift import score_histograms

    hist = windowed_histogram(stream_df, ts_col, col, lo, hi, bins,
                              window, watermark)

    def score(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        cur = batch.select(
            F.col("window_start").cast("string").alias("part"),
            "bucket", "n")
        (score_histograms(cur, bins, baseline)
         .write.mode("overwrite")
         .parquet(os.path.join(out_dir, "drift", f"batch={batch_id}")))

    trig = {"availableNow": True} if available_now else \
           {"processingTime": "10 seconds"}
    return (hist.writeStream.outputMode("append")
            .foreachBatch(score)
            .option("checkpointLocation",
                    os.path.join(out_dir, "_checkpoint_drift"))
            .trigger(**trig)
            .start())
