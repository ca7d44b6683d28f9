"""CLI — the engine's ``python -m jsonschema`` analogue.

Reference: /root/reference/jsonschema/cli.py:208-292 (parse_args, run,
formatter output, exit codes).  Ours validates a *table* instead of JSON
instance files: read parquet (or a directory of it), compile the spec,
write/print violations + the per-partition manifest, exit 1 iff any row
failed — so `spark-submit --py-files jsonschema_spark.zip -m` works as a
batch validation job.

Usage::

    python -m jsonschema_spark SPEC.json TABLE.parquet \
        [--id-cols image_id] [--partition-by fmt] [--out DIR] \
        [--sample N] [--format plain|json] \
        [--ref-table licenses=DIR.parquet]

A spec carrying an ``x-spark`` block runs the full dataset-check tier
(uniqueness/referential/stats/drift/pixel/phash/quality/alignment —
see dataset.py) in the same invocation; referential dimension tables
are supplied with ``--ref-table NAME=PATH``.  Exit code 1 on any
invalid row OR any dataset-check violation.

``--curate-out DIR`` switches to curation mode (pipeline.curate):
instead of reporting violations, the table is written back with
labeling columns — validity, optional dedup survivor election
(``--dedup-text COLUMN`` for exact-fingerprint edges or
``--dedup-pairs PATH`` for any precomputed edge table), optional
deterministic split (``--split "train=0.98,val=0.01,test=0.01"``).
A transformation, not a gate: exit 0 with cell counts on stderr.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Optional, Sequence


def parse_args(argv: Sequence[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="jsonschema_spark",
        description="Validate a parquet table against a JSON-Schema "
                    "constraint spec (vectorized, Spark-native).")
    p.add_argument("spec", help="path to the constraint-spec JSON file")
    p.add_argument("table", help="path to the instance table")
    p.add_argument("--input-format", default="parquet",
                   choices=("parquet", "json", "csv", "orc"),
                   help="table format (json = NDJSON instances, the "
                        "reference CLI's input mode)")
    p.add_argument("--id-cols", default="",
                   help="comma-separated id columns carried onto "
                        "violation rows")
    p.add_argument("--partition-by", default="",
                   help="comma-separated manifest partition columns "
                        "(default: spark partition id)")
    p.add_argument("--out", default=None,
                   help="directory to write violations/ + manifest/ "
                        "parquet (default: print instead)")
    p.add_argument("--sample", type=int, default=20,
                   help="violations to print when --out is not given")
    p.add_argument("--format", choices=("plain", "json"), default="plain",
                   help="print format for sampled violations")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--format-checker", action="store_true",
                   help="assert `format` keywords (like passing "
                        "FormatChecker to the reference; default is "
                        "annotation-only, matching the reference CLI)")
    p.add_argument("--schema-store", default=None,
                   help="JSON file mapping URIs to schema documents, "
                        "pre-registered for $ref resolution (the "
                        "referencing-Registry analogue)")
    p.add_argument("--ref-table", action="append", default=[],
                   metavar="NAME=PATH",
                   help="referential dimension table as NAME=PATH "
                        "(parquet; repeatable) — required when the "
                        "spec's x-spark block declares referential "
                        "checks against NAME")
    p.add_argument("--curate-out", default=None, metavar="DIR",
                   help="curation mode: write the table + labeling "
                        "columns (valid[, cluster_id, is_canonical]"
                        "[, split]) to DIR as parquet instead of "
                        "reporting violations (pipeline.curate); needs "
                        "--id-cols (first one is the key)")
    p.add_argument("--split", default=None,
                   metavar="LABEL=W[,LABEL=W...]",
                   help='deterministic split weights for --curate-out, '
                        'e.g. "train=0.98,val=0.01,test=0.01"')
    p.add_argument("--split-salt", default="",
                   help="salt for the deterministic split hash")
    p.add_argument("--dedup-text", default=None, metavar="COLUMN",
                   help="--curate-out: build exact content-fingerprint "
                        "duplicate edges over COLUMN (survivor = "
                        "longest value, ties smallest id)")
    p.add_argument("--dedup-pairs", default=None, metavar="PATH",
                   help="--curate-out: precomputed near-dup edge table "
                        "(parquet with id_a, id_b) from any dedup "
                        "operator")
    p.add_argument("--save-baseline", default=None, metavar="DIR",
                   help="instead of checking drift, profile THIS table "
                        "with the spec's x-spark.drift numeric/"
                        "categorical config and save the baseline "
                        "snapshot to DIR (the path later runs name as "
                        'x-spark.drift.baseline)')
    return p.parse_args(list(argv))


def run(args: argparse.Namespace, spark=None) -> int:
    from .session import get_spark
    from .validator import CompiledValidator

    with open(args.spec) as fh:
        spec = json.load(fh)
    own_session = spark is None
    if own_session:
        spark = get_spark("jsonschema-spark-cli", cores=args.cores)
        spark.sparkContext.setLogLevel("ERROR")
    try:
        from .sources.io import read_table
        df = read_table(spark, args.table, args.input_format)
        store = None
        if getattr(args, "schema_store", None):
            with open(args.schema_store) as fh:
                store = json.load(fh)
        v = CompiledValidator(
            spec, df, schema_store=store,
            format_checker=getattr(args, "format_checker", False),
        )  # raises SchemaCompileError early (incl. the x-spark block)
        for w in v.warnings:
            print(f"warning: {w}", file=sys.stderr)
        id_cols = [c for c in args.id_cols.split(",") if c]
        part_by = [c for c in args.partition_by.split(",") if c] or None
        xs = (spec.get("x-spark") or {}) if isinstance(spec, dict) else {}
        if getattr(args, "save_baseline", None):
            # profile-only mode: snapshot this table's distributions for
            # later runs' x-spark.drift.baseline comparisons
            d = xs.get("drift") or {}
            numeric = {c: tuple(b) for c, b in
                       (d.get("numeric") or {}).items()}
            categorical = d.get("categorical") or ()
            if not numeric and not categorical:
                raise ValueError(
                    "--save-baseline needs the spec's x-spark.drift "
                    "block to declare numeric and/or categorical "
                    "columns to profile")
            from .operators.drift import save_baseline
            save_baseline(df, args.save_baseline, numeric=numeric,
                          categorical=categorical)
            print(f"baseline snapshot written to {args.save_baseline}",
                  file=sys.stderr)
            return 0
        if getattr(args, "curate_out", None):
            # curation mode: label the table (validity [+ dedup
            # survivor election] [+ deterministic split]) and write it;
            # a transformation, not a gate — exit 0, summary on stderr
            if not id_cols:
                raise ValueError("--curate-out needs --id-cols (the "
                                 "first one is the curation key)")
            from pyspark.sql import functions as F

            from .pipeline import curate
            pairs, prefer = None, None
            if getattr(args, "dedup_pairs", None):
                pairs = read_table(spark, args.dedup_pairs, "parquet")
            elif getattr(args, "dedup_text", None):
                from .operators.dedup import exact_fingerprint_pairs
                col = args.dedup_text
                pairs = exact_fingerprint_pairs(df, id_cols[0], col)
                prefer = -F.length(col)
            split = None
            if getattr(args, "split", None):
                split = {}
                for part in args.split.split(","):
                    label, _, wtxt = part.partition("=")
                    if not label or not wtxt:
                        raise ValueError(f"--split {args.split!r}: "
                                         f"expected LABEL=W[,...]")
                    split[label] = float(wtxt)
            out = curate(df, spec, id_cols[0], pairs=pairs,
                         prefer=prefer, split=split,
                         split_salt=getattr(args, "split_salt", ""),
                         schema_store=store,
                         format_checker=getattr(args, "format_checker",
                                                False))
            out.write.mode("overwrite").parquet(args.curate_out)
            written = spark.read.parquet(args.curate_out)
            group = ["valid"] + (["is_canonical"] if pairs is not None
                                 else []) + (["split"] if split else [])
            for r in (written.groupBy(group).count()
                      .orderBy(group).collect()):
                d = r.asDict()
                cells = " ".join(f"{g}={d[g]}" for g in group)
                print(f"{cells}: {d['count']}", file=sys.stderr)
            print(f"curated table written to {args.curate_out}",
                  file=sys.stderr)
            return 0
        manifest = v.manifest(df, part_by)
        n_ds_viol = 0
        if xs:
            # the spec declares dataset-scope checks: run the unified
            # validate_dataset stream (uniqueness/referential/stats/
            # drift/pixel/phash beside the row keywords); the manifest
            # stays row-level per partition
            from .dataset import validate_dataset
            tables = {}
            for item in getattr(args, "ref_table", []):
                name, _, tpath = item.partition("=")
                if not name or not tpath:
                    raise ValueError(f"--ref-table {item!r}: "
                                     f"expected NAME=PATH")
                tables[name] = read_table(spark, tpath, "parquet")
            viol = validate_dataset(
                df, spec, id_cols, tables=tables or None,
                schema_store=store,
                format_checker=getattr(args, "format_checker", False))
        else:
            viol = v.violations(df, id_cols)
        if args.out:
            # write ONCE, then count/total from the written parquet (the
            # dataset-tier plan and the manifest aggregate must not run
            # twice), read with the known schema: no footer-reading job
            def written(frame, name):
                frame.write.mode("overwrite").parquet(f"{args.out}/{name}")
                return spark.read.schema(frame.schema).parquet(
                    f"{args.out}/{name}")
            viol = written(viol, "violations")
            manifest = written(manifest, "manifest")
        elif xs:
            viol = viol.persist()
        if xs:
            n_ds_viol = viol.filter(
                viol.schema_path.startswith("x-spark")).count()
        rows = manifest.collect()
        total = sum(r["rows"] for r in rows)
        invalid = sum(r["invalid_rows"] for r in rows)
        if not args.out:
            sample = viol.limit(args.sample).collect()
            for r in sample:
                d = r.asDict()
                if args.format == "json":
                    print(json.dumps(d, default=str))
                else:
                    ids = " ".join(f"{c}={d[c]}" for c in id_cols
                                   if d[c] is not None)
                    print(f"{d['json_path']}: {d['message']} "
                          f"[{d['keyword']}] {ids}".rstrip())
            if xs:
                viol.unpersist()
        extra = f", {n_ds_viol} dataset-check violations" if xs else ""
        print(f"{total - invalid}/{total} rows valid "
              f"({invalid} invalid{extra})", file=sys.stderr)
        return 0 if invalid == 0 and n_ds_viol == 0 else 1
    finally:
        if own_session:
            spark.stop()


def main(argv: Optional[Sequence[str]] = None) -> int:
    return run(parse_args(argv if argv is not None else sys.argv[1:]))


if __name__ == "__main__":
    sys.exit(main())
