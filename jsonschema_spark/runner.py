"""Resumable validation runs: per-partition manifest + lineage + metrics.

The reference is stateless per instance; at 10^12-row scale a validation
job must be interruptible and resumable (north_rule).  Two commit-record
stores share one protocol (SURVEY.md §4.2): a parquet-append stand-in
(default — works everywhere), and a real Iceberg manifest table written
via idempotent ``MERGE INTO`` when constructed with ``manifest_table=``
and the runtime jar is present (``run_iceberg`` additionally pins the
validated snapshot id into lineage).  Strategy:

- the input is split into **partition groups** by a partition expression
  (e.g. ``fmt``, or a bucketed hash of ``image_id``);
- each group's violations are appended under ``out/violations/part=<k>``
  and a manifest row (rows, invalid counts, timing, run lineage) is
  appended atomically *after* the group's data — the manifest row is the
  commit record;
- resume = anti-join pending groups against committed manifest rows:
  completed groups are skipped, half-written groups are overwritten
  (dynamic partition overwrite), so the protocol is idempotent under
  retries.

Scope: the runner validates the ROW-level keywords of its schema (an
``x-spark`` block is meta-checked but not executed here) — dataset-scope
checks (uniqueness, referential, drift, ...) are whole-table by nature
and do not decompose into independently committable partition groups;
run them via :func:`jsonschema_spark.validate_dataset` (or the CLI)
over the validated snapshot.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compiler import sql
from .validator import CompiledValidator

MANIFEST_SCHEMA = ("partition_key string, run_id string, rows long, "
                   "invalid_rows long, violation_rows long, passed boolean, "
                   "started_at double, finished_at double, "
                   "input_lineage string")


@dataclass
class RunResult:
    run_id: str
    completed: list[str]
    skipped: list[str]


class ValidationRun:
    """Drives a resumable, partition-grouped validation of one table."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 schema: dict, partition_col: str = "fmt",
                 manifest_table: Optional[str] = None):
        """`manifest_table` switches the commit-record store from the
        parquet-append stand-in to a real Iceberg table written via
        idempotent ``MERGE INTO`` keyed on (partition_key,
        input_lineage) — requires the iceberg-spark runtime jar
        (``sources.iceberg.iceberg_available``); raises on commit if
        named without the runtime (no silent fallback).  With a
        manifest table, resume is *snapshot-scoped*: only commit
        records whose ``input_lineage`` matches the current run's
        lineage mark a group done, so validating a new input snapshot
        re-runs every group while a retry of the same snapshot skips
        committed ones."""
        self.spark = spark
        self.out_dir = out_dir
        self.schema = schema
        self.partition_col = partition_col
        self.manifest_table = manifest_table
        self.manifest_path = os.path.join(out_dir, "manifest")
        self.violations_path = os.path.join(out_dir, "violations")

    # ------------------------------------------------------------ manifest
    def committed_partitions(self,
                             lineage_json: Optional[str] = None) -> set[str]:
        try:
            m = self.manifest()
            if self.manifest_table is not None and lineage_json is not None:
                m = m.filter(F.col("input_lineage") == lineage_json)
            rows = m.select("partition_key").distinct().collect()
            return {r["partition_key"] for r in rows}
        except Exception:
            return set()

    def manifest(self) -> DataFrame:
        if self.manifest_table is not None:
            return self.spark.table(self.manifest_table)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(
            self.manifest_path)

    # ---------------------------------------------------------------- run
    def run(self, df: DataFrame, id_cols: Sequence[str],
            lineage: Optional[dict[str, Any]] = None) -> RunResult:
        """Single-pass: ONE ``partitionBy("part")`` write of all pending
        groups (dynamic partition overwrite = idempotent under retry) +
        ONE aggregate pass deriving rows/invalid/violation counts — no
        per-group rescan loop, so the job is 2 scans regardless of group
        count and every group validates in parallel.  Manifest rows are
        appended *after* the data lands (the commit record); uncommitted
        groups are re-run and overwritten on resume."""
        run_id = uuid.uuid4().hex[:12]
        lineage_json = json.dumps(lineage or {}, sort_keys=True)
        if self.manifest_table is not None:
            # fail fast before any validation work; the CREATE TABLE IF
            # NOT EXISTS itself happens once, inside merge_manifest
            from .sources.iceberg import iceberg_available
            if not iceberg_available(self.spark):
                raise RuntimeError(
                    "manifest_table requires the iceberg-spark runtime "
                    "on the classpath (submit with --packages "
                    "org.apache.iceberg:iceberg-spark-runtime-3.5)")
        validator = CompiledValidator(self.schema, df)
        # filesystem-safe group key: NULL/empty/odd values get sentinels
        raw = sql.ref(self.partition_col).cast("string")
        part = F.when(raw.isNull(), F.lit("__null__")) \
                .when(F.length(F.trim(raw)) == 0, F.lit("__empty__")) \
                .when(~raw.rlike("^[A-Za-z0-9_.-]+$"),
                      F.concat(F.lit("__h_"), F.substring(F.md5(raw), 1, 12))) \
                .otherwise(raw)
        groups = {r["k"] for r in
                  df.select(part.alias("k")).distinct().collect()}
        done = self.committed_partitions(lineage_json)
        pending = sorted(groups - done)
        skipped = sorted(groups & done)
        if not pending:
            return RunResult(run_id, [], skipped)
        t0 = time.time()
        work = df.withColumn("part", part)
        if skipped:
            work = work.filter(F.col("part").isin(pending))
        # scrub half-written uncommitted groups (dynamic overwrite only
        # replaces partitions that receive rows; a retried group with
        # zero violations would otherwise keep stale files)
        for key in pending:
            self._rm_partition_dir(key)
        viols = validator.violations(work, list(id_cols) + ["part"])
        conf = self.spark.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode", None)
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (viols.write.mode("overwrite").partitionBy("part")
             .parquet(self.violations_path))
        finally:
            if prev is not None:
                conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            else:
                conf.unset("spark.sql.sources.partitionOverwriteMode")
        # one aggregate pass: per-group rows, invalid rows, violation
        # rows (map-side partial agg; no join back to the written files)
        nviol = validator.violation_count_column
        stats = (work.select(
                    "part", validator.valid_column.alias("_v"),
                    nviol.alias("_nv"))
                 .groupBy("part")
                 .agg(F.count(F.lit(1)).alias("rows"),
                      F.sum((~F.coalesce(F.col("_v"), F.lit(True)))
                            .cast("long")).alias("bad"),
                      F.sum("_nv").alias("nviol"))).collect()
        t1 = time.time()
        rows = [(r["part"], run_id, r["rows"], r["bad"] or 0,
                 r["nviol"] or 0, (r["bad"] or 0) == 0, t0, t1,
                 lineage_json) for r in stats]
        # ...then the manifest rows commit the groups.  An Arrow table,
        # not a Python list: it plans a LocalTableScan, so the commit
        # starts no Python worker
        import pyarrow as pa
        names = [f.split()[0] for f in MANIFEST_SCHEMA.split(",")]
        mdf = self.spark.createDataFrame(
            pa.table(list(zip(*rows)), names=names), MANIFEST_SCHEMA)
        if self.manifest_table is not None:
            from .sources.iceberg import merge_manifest
            merge_manifest(self.spark, self.manifest_table, mdf)
        else:
            mdf.write.mode("append").parquet(self.manifest_path)
        return RunResult(run_id, sorted(r[0] for r in rows), skipped)

    # --------------------------------------------------------- iceberg run
    def run_iceberg(self, table: str, id_cols: Sequence[str],
                    snapshot_id: Optional[int] = None,
                    lineage: Optional[dict[str, Any]] = None) -> RunResult:
        """Validate an Iceberg `table` pinned to a snapshot, with the
        validated snapshot id recorded into the run's lineage
        automatically (north_rule: resumable from an Iceberg snapshot
        checkpoint).  `snapshot_id=None` resolves the current snapshot
        once — retries MUST pass the id from the original attempt's
        lineage so every (re)attempt validates the same data."""
        from .sources.iceberg import current_snapshot_id, read_iceberg
        if snapshot_id is None:
            snapshot_id = current_snapshot_id(self.spark, table)
        src = read_iceberg(self.spark, table, snapshot_id=snapshot_id)
        lin = dict(lineage or {})
        lin.update({"iceberg_table": table, "snapshot_id": snapshot_id})
        return self.run(src, id_cols, lineage=lin)

    def _rm_partition_dir(self, key: str) -> None:
        """Scrub a half-written partition dir before re-running its
        group.  Goes through the Hadoop FileSystem API so the delete
        works on ANY scheme the write path uses (file:, hdfs:, s3a:,
        ...) — a local-only ``shutil`` scrub would silently no-op on an
        object store, letting a retried zero-violation group resurrect
        its stale files (dynamic partition overwrite only replaces
        partitions that receive rows)."""
        p = self.violations_path.rstrip("/") + f"/part={key}"
        jvm = self.spark._jvm
        try:
            hpath = jvm.org.apache.hadoop.fs.Path(p)
            fs = hpath.getFileSystem(
                self.spark._jsc.hadoopConfiguration())
            if fs.exists(hpath):
                fs.delete(hpath, True)
        except Exception:
            # unreachable scheme/permission problems must not kill the
            # run: worst case the stale files survive exactly as before
            import shutil
            if "://" not in p or p.startswith("file:"):
                shutil.rmtree(p.removeprefix("file:"),
                              ignore_errors=True)
