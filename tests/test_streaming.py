"""Structured Streaming validation: streaming results must agree with
the identical batch computation (the compiled plan is shared)."""

import os

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import CompiledValidator
from jsonschema_spark.streaming import (dedup_stream, run_validation_stream,
                                        validate_stream, windowed_manifest)

EVENTS_SPEC = {
    "type": "object",
    "required": ["event_id", "ts"],
    "properties": {
        "value": {"minimum": 0, "maximum": 500},
        "event_type": {"enum": ["click", "view", "purchase", "scroll"]},
    },
}

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("events_src"))
    batch = spark.read.parquet(f"{SF}/events.parquet")
    batch.write.mode("overwrite").parquet(src)
    sch = batch.schema
    return (spark.readStream.schema(sch).parquet(src),
            spark.read.parquet(src))


def _drain(q):
    q.awaitTermination(120)


def test_streaming_violations_match_batch(spark, events_stream, tmp_path):
    stream, batch = events_stream
    out = str(tmp_path / "viols")
    q = (validate_stream(stream, EVENTS_SPEC, ["event_id"])
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    _drain(q)
    got = spark.read.parquet(out)
    want = CompiledValidator(EVENTS_SPEC, batch).violations(
        batch, ["event_id"])
    assert got.count() == want.count()
    g = {tuple(r) for r in got.select(
        "event_id", "keyword", "json_path").collect()}
    w = {tuple(r) for r in want.select(
        "event_id", "keyword", "json_path").collect()}
    assert g == w


def test_windowed_manifest_matches_batch_windows(spark, events_stream,
                                                 tmp_path):
    stream, batch = events_stream
    out = str(tmp_path / "man")
    man = windowed_manifest(stream, EVENTS_SPEC, "ts",
                            window="1 hour", watermark="0 seconds")
    q = (man.writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .outputMode("append").trigger(availableNow=True).start())
    _drain(q)
    got = spark.read.parquet(out)
    batch = batch.withColumn("ts", F.col("ts").cast("timestamp"))
    v = CompiledValidator(EVENTS_SPEC, batch)
    want = (batch.withColumn("_valid", v.valid_column)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.sum((~F.col("_valid")).cast("long")).alias("invalid_rows"))
            .select(F.col("w.start").alias("window_start"),
                    "rows", "invalid_rows"))
    # availableNow + watermark may hold back the final window; every
    # emitted window must match its batch counterpart and cover >=90%.
    got_rows = {r["window_start"]: (r["rows"], r["invalid_rows"])
                for r in got.collect()}
    want_rows = {r["window_start"]: (r["rows"], r["invalid_rows"])
                 for r in want.collect()}
    assert len(got_rows) >= 0.9 * len(want_rows)
    for k, v_ in got_rows.items():
        assert want_rows[k] == v_


def test_dedup_stream_removes_key_dups(spark, events_stream, tmp_path):
    stream, batch = events_stream
    out = str(tmp_path / "dedup")
    q = (dedup_stream(stream, ["user_id"], "ts", watermark="365 days")
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt3"))
         .outputMode("append").trigger(availableNow=True).start())
    _drain(q)
    got = spark.read.parquet(out)
    n_users = batch.select("user_id").distinct().count()
    assert got.count() == n_users
    assert got.select("user_id").distinct().count() == n_users


def test_run_validation_stream_end_to_end(spark, events_stream, tmp_path):
    stream, batch = events_stream
    out = str(tmp_path / "job")
    qs = run_validation_stream(stream, EVENTS_SPEC, ["event_id"], out,
                               ts_col="ts", window="1 hour",
                               watermark="0 seconds")
    for q in qs:
        _drain(q)
    viols = spark.read.parquet(os.path.join(out, "violations"))
    assert viols.count() == CompiledValidator(EVENTS_SPEC, batch) \
        .violations(batch).count()
    assert os.path.isdir(os.path.join(out, "_ckpt_violations"))


def test_stateful_running_counts_match_batch(spark, events_stream,
                                             tmp_path):
    from jsonschema_spark import CompiledValidator
    from jsonschema_spark.streaming.stateful import running_validity_counts
    stream, batch = events_stream
    stream = stream.withColumn("event_type",
                               F.col("event_type").cast("string"))
    out = running_validity_counts(stream, EVENTS_SPEC, ["event_type"])
    q = (out.writeStream.format("memory").queryName("running_counts")
         .outputMode("update").trigger(availableNow=True).start())
    _drain(q)
    # last emitted row per key == batch totals
    got = {r["event_type"]: (r["rows"], r["invalid_rows"])
           for r in spark.sql(
               "SELECT * FROM running_counts").collect()}
    v = CompiledValidator(EVENTS_SPEC, batch)
    want = {r["event_type"]: (r["rows"], r["invalid"])
            for r in batch.withColumn("_v", v.valid_column)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.sum((~F.col("_v")).cast("long")).alias("invalid"))
            .collect()}
    assert got == want


def test_streaming_images_validation_matches_batch(spark, tmp_path):
    """The north-star payload through Structured Streaming: the SAME
    compiled Column predicates validate an image+caption stream
    (binary bytes, planted violations) that validate the batch table —
    violation multisets must be identical, and streaming uniqueness
    (dropDuplicates on image_id) must suppress the planted duplicate
    ids within the stream."""
    from jsonschema_spark.sources.images import IMAGES_SCHEMA, images_df
    from jsonschema_spark.streaming.validate import (dedup_stream,
                                                     validate_stream)

    src = str(tmp_path / "img_src")
    images_df(spark, 5_000).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    spec = {k: v for k, v in IMAGES_SCHEMA.items() if k != "x-spark"}

    out = str(tmp_path / "viols")
    q = (validate_stream(stream, spec, ["image_id"])
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    want = CompiledValidator(spec, batch).violations(batch, ["image_id"])
    assert got.count() == want.count() > 0
    g = sorted((r["image_id"], r["keyword"]) for r in got.collect())
    w = sorted((r["image_id"], r["keyword"]) for r in want.collect())
    assert g == w

    # the images table carries no event time; an ingest timestamp
    # bounds the dedup state like arrival time would on a real feed
    from pyspark.sql import functions as F
    stamped = stream.withColumn("ingest_ts", F.current_timestamp())
    out2 = str(tmp_path / "dedup")
    q2 = (dedup_stream(stamped, ["image_id"], "ingest_ts")
          .writeStream.format("parquet").option("path", out2)
          .option("checkpointLocation", str(tmp_path / "ckpt2"))
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    deduped = spark.read.parquet(out2)
    assert deduped.count() == batch.select("image_id").distinct().count()


def test_streaming_drift_matches_batch_per_window(spark, events_stream,
                                                  tmp_path):
    """Streaming windowed drift (watermarked histogram + foreachBatch
    scoring) produces the SAME per-window KS/L1/chi2/PSI as the batch
    partitioned_drift over identical rows — window finalization under
    availableNow emits each window exactly once."""
    from jsonschema_spark.operators.drift import (histogram,
                                                  partitioned_drift)
    from jsonschema_spark.streaming.validate import drift_stream
    stream, batch = events_stream
    ts = "ts"
    col, lo, hi, bins = "value", 0.0, 400.0, 16
    base = histogram(batch, col, lo, hi, bins)

    out = str(tmp_path / "drift_out")
    q = drift_stream(stream, ts, col, lo, hi, bins, base, out,
                     window="1 day", watermark="0 seconds")
    _drain(q)

    got = {r.part: r for r in
           spark.read.parquet(f"{out}/drift").collect()}
    assert got, "streaming drift produced no windows"

    from jsonschema_spark.streaming.validate import _ensure_event_time
    b = _ensure_event_time(batch, ts)
    exp_df = partitioned_drift(
        b.withColumn("_w", F.window(F.col(ts), "1 day")["start"]
                     .cast("string")),
        "_w", col, lo, hi, bins, base)
    exp = {r.part: r for r in exp_df.collect()}
    # availableNow + watermark: the CHRONOLOGICALLY last window may be
    # held back by the final watermark; every emitted window must match
    # batch exactly
    latest = max(exp)
    assert set(got) in (set(exp), set(exp) - {latest})
    for w, r in got.items():
        e = exp[w]
        assert r.n_rows == e.n_rows
        for stat in ("ks", "l1", "chi2", "psi"):
            assert abs(getattr(r, stat) - getattr(e, stat)) < 1e-9, (w, stat)


def test_validate_dataset_stream_matches_batch(spark, tmp_path):
    """The per-row x-spark tier (image_quality + alignment here) runs
    append-mode on a stream and agrees row-for-row with the batch
    validate_dataset over the same files."""
    from jsonschema_spark import validate_dataset
    from jsonschema_spark.sources.images import images_df
    from jsonschema_spark.streaming import validate_dataset_stream

    src = str(tmp_path / "img_src")
    images_df(spark, 2_000).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    spec = {
        "type": "object",
        "properties": {"fmt": {"enum": ["jpeg", "png", "webp"]}},
        "x-spark": {
            "image_quality": {"min_aspect": 0.015625, "max_aspect": 64.0,
                              "min_bytes": 16},
        },
    }
    out = str(tmp_path / "dsviols")
    q = (validate_dataset_stream(stream, spec, ["image_id"])
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "dsckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    _drain(q)
    got = {tuple(r) for r in spark.read.parquet(out)
           .select("image_id", "keyword").collect()}
    want = {tuple(r) for r in validate_dataset(batch, spec, ["image_id"])
            .select("image_id", "keyword").collect()}
    assert got == want
    assert any(k == "imageQuality:aspect" for _, k in got)
    assert any(k == "enum" for _, k in got)


def test_validate_dataset_stream_rejects_stateful_blocks(spark, tmp_path):
    from jsonschema_spark.streaming import validate_dataset_stream
    src = str(tmp_path / "ev_src")
    spark.read.parquet(f"{SF}/events.parquet").write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    spec = {"type": "object",
            "x-spark": {"unique": ["event_id"],
                        "pii": {"column": "event_type"}}}
    with pytest.raises(ValueError, match=r"\['unique'\]"):
        validate_dataset_stream(stream, spec, ["event_id"])


def test_validate_dataset_stream_decode_tier_matches_batch(spark, tmp_path):
    """The DECODE tier (phash_integrity + image_quality_decoded, one
    fused mapInPandas pass) is per-row stateless, so it streams
    append-mode and agrees with batch row-for-row."""
    from pyspark.sql import functions as F

    from jsonschema_spark import validate_dataset
    from jsonschema_spark.operators.multimodal import decode_pixels
    from jsonschema_spark.sources.images import luma_images_df
    from jsonschema_spark.streaming import validate_dataset_stream

    src = str(tmp_path / "luma_src")
    base = luma_images_df(spark, 500)
    ph = decode_pixels(base.withColumn(
        "phash", F.lit(None).cast("long")), phash=True)
    (base.join(F.broadcast(ph.select(
        "image_id", F.col("computed_phash").alias("phash"))),
        "image_id", "left")
     .write.mode("overwrite").parquet(src))
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    spec = {
        "type": "object",
        "x-spark": {
            "phash_integrity": {"max_hamming": 0},
            "image_quality_decoded": {"min_luma": 20, "max_luma": 235,
                                      "min_contrast": 2},
        },
    }
    out = str(tmp_path / "lumaviols")
    q = (validate_dataset_stream(stream, spec, ["image_id"])
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "lumackpt"))
         .outputMode("append").trigger(availableNow=True).start())
    _drain(q)
    got = {tuple(r) for r in spark.read.parquet(out)
           .select("image_id", "keyword").collect()}
    want = {tuple(r) for r in validate_dataset(batch, spec, ["image_id"])
            .select("image_id", "keyword").collect()}
    assert got == want
    assert any(k == "lumaQuality:contrast" for _, k in got)


def test_windowed_manifest_dotted_partition_column(spark):
    """`partition_by` names a column, dots included, as
    CompiledValidator.manifest does; same aggregate as the batch
    manifest per window."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:10", "x", 1), ("2024-01-01 00:00:20", "x", -1),
         ("2024-01-01 00:00:30", "y", 3)],
        "ts string, `a.b` string, v int").withColumn(
            "ts", F.col("ts").cast("timestamp"))
    spec = {"properties": {"v": {"minimum": 0}}}
    got = windowed_manifest(df, spec, "ts", partition_by=["a.b"])
    assert got.columns == ["window_start", "window_end", "a.b", "rows",
                           "invalid_rows", "passed"]
    rows = sorted((r["a.b"], r["rows"], r["invalid_rows"], r["passed"])
                  for r in got.collect())
    want = sorted(tuple(r) for r in CompiledValidator(spec, df).manifest(
        df, ["a.b"]).collect())
    assert rows == want == [("x", 2, 1, False), ("y", 1, 0, True)]
