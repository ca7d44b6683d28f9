"""The benchmark's workloads: inputs, oracle, set-up and one pass each.

A workload generates its seeded inputs (untimed), derives every
expected result from them with DuckDB (untimed), and then issues its
public calls through the harness: ``setup`` reads the inputs and
compiles, ``one_pass`` is the unit that is repeated and measured.
"""

from __future__ import annotations

import os
import shutil

import duckdb

import inputs
import oracle

#: dataset-scope assertions the planted table must trip once each
STATS_RULES = {"caption": {"max_null_rate": 0.001}, "w": {"max": 16384}}


class Workload:
    name = ""
    #: nominal seconds of one measured pass on a quiet 4-vCPU host; it
    #: only sets how many passes a run makes (see run.pass_count)
    pass_s: float

    def __init__(self, work: str, seed: int, tiny: bool):
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.con = duckdb.connect()

    def generate(self) -> dict:
        raise NotImplementedError

    def setup(self, h) -> None:
        raise NotImplementedError

    def one_pass(self, h, traced: bool) -> None:
        raise NotImplementedError

    def close(self) -> None:
        self.con.close()


class Images(Workload):
    """The north-star image+caption table.  A pass validates it the two
    ways users do: the row keywords alone through ``CompiledValidator``
    (the scan floor), and the whole contract with its ``x-spark`` checks
    through ``validate_dataset``."""

    name = "images"
    pass_s = 4.0
    rows = 100_000
    #: the runner is called in traced passes only, as a per-layer
    #: breakdown.  Its contract: caption maxLength below the long-caption
    #: mode and a narrower fmt enum, so about a third of rows write
    #: violation rows
    CAPTION_MAX = 200
    FMTS = ("jpeg", "png")

    def generate(self) -> dict:
        self.n = 2_000 if self.tiny else self.rows
        self.path = os.path.join(self.work, "images")
        inputs.write_images(self.path, self.n, self.seed)
        self.table = oracle.parquet(self.path)
        self.row_oracle = oracle.RowOracle(self.con, self.table,
                                           oracle.images_checks(), "fmt")
        self.ds_oracle = oracle.DatasetOracle(self.con, self.table,
                                              self.row_oracle, STATS_RULES)
        self.runner_oracle = oracle.RowOracle(
            self.con, self.table,
            oracle.images_checks(self.CAPTION_MAX, self.FMTS), "fmt")
        return {"rows": self.n, "input_bytes": inputs.dir_bytes(self.path),
                "invalid_share": self.row_oracle.bad / self.n}

    def spec(self) -> dict:
        from jsonschema_spark.sources.images import IMAGES_SCHEMA
        xs = dict(IMAGES_SCHEMA["x-spark"])
        xs["stats"] = STATS_RULES
        xs["pixel_invariant"] = {"min_psnr": 40.0, "decode": "stub"}
        return {**IMAGES_SCHEMA, "x-spark": xs}

    def contract(self) -> dict:
        from jsonschema_spark.sources.images import IMAGES_SCHEMA
        props = dict(IMAGES_SCHEMA["properties"])
        props["caption"] = {**props["caption"], "maxLength": self.CAPTION_MAX}
        props["fmt"] = {"enum": list(self.FMTS)}
        return {k: v for k, v in IMAGES_SCHEMA.items() if k != "x-spark"} \
            | {"properties": props}

    def setup(self, h) -> None:
        from jsonschema_spark import CompiledValidator
        from jsonschema_spark.sources.images import IMAGES_SCHEMA, licenses_df
        rows_spec = {k: v for k, v in IMAGES_SCHEMA.items() if k != "x-spark"}
        self.df = h.spark.read.parquet(self.path)
        self.licenses = licenses_df(h.spark)
        self.runs = 0
        self.v = h.call("compiler.compile",
                        lambda: CompiledValidator(rows_spec, self.df))
        if self.v is not None:
            h.note("compiler.checks", len(self.v.checks))

    def one_pass(self, h, traced: bool) -> None:
        self._scan(h)
        self._dataset(h, traced)
        if traced:
            self._runner(h)

    def _scan(self, h) -> None:
        o, v, df = self.row_oracle, self.v, self.df
        h.call("validator.counts", lambda: v.counts(df), self.n,
               o.check_counts)
        h.call("validator.manifest", lambda: v.manifest(df, ["fmt"]),
               self.n, o.check_manifest)
        h.call("validator.violations",
               lambda: v.violations(df).groupBy("keyword", "json_path")
               .count(), self.n, o.check_violations)
        h.note("validator.rows", self.n)
        h.note("validator.violation_rows", o.violation_rows)

    def _dataset(self, h, traced: bool) -> None:
        from pyspark.sql import functions as F

        from jsonschema_spark import validate_dataset
        o, df, lic = self.ds_oracle, self.df, self.licenses
        spec = self.spec()
        h.call("dataset.validate",
               lambda: validate_dataset(df, spec, ["image_id"],
                                        tables={"licenses": lic})
               .groupBy("keyword").count(), self.n, o.check_keywords)
        if not traced:
            return
        # traced-only breakdown: each operator's public function alone
        from jsonschema_spark.operators.referential import \
            referential_violations
        from jsonschema_spark.operators.stats import stats_violations
        from jsonschema_spark.operators.uniqueness import \
            uniqueness_violations
        for key in ("image_id", "phash"):
            h.call("uniqueness.violations",
                   lambda: uniqueness_violations(df, key, ["image_id"]).agg(
                       F.count(F.lit(1)), F.countDistinct("failing_value")),
                   check=o.check_count(f"unique {key}", o.unique[key],
                                       o.dup_groups[key]),
                   extra=True)
        h.call("referential.violations",
               lambda: referential_violations(
                   df, "license_id", lic, "license_id", ["image_id"])
               .agg(F.count(F.lit(1))),
               check=o.check_count("orphan", o.orphans), extra=True)
        h.call("stats.violations", lambda: stats_violations(df, STATS_RULES),
               check=o.check_stats, extra=True)

    def _runner(self, h) -> None:
        from jsonschema_spark.runner import ValidationRun
        self.runs += 1
        out = os.path.join(self.work, "runner", f"r{self.runs}")
        df, o, con = self.df, self.runner_oracle, self.con
        vr = ValidationRun(h.spark, out, self.contract(),
                           partition_col="fmt")
        groups = sorted(o.by_part)

        def check_run(res):
            return oracle.check_runner_output(con, out, o, res.completed)

        def check_resume(res):
            if res.completed or sorted(res.skipped) != groups:
                return (f"resume completed {res.completed}, skipped "
                        f"{res.skipped}; want every one of {groups} skipped")
            return oracle.check_runner_output(con, out, o, groups)

        run = h.call("runner.run", lambda: vr.run(df, ["image_id"]),
                     check=check_run, extra=True)
        resume = h.call("runner.resume", lambda: vr.run(df, ["image_id"]),
                        check=check_resume, extra=True)
        if run is not None:
            h.note("runner.groups_committed", len(run.completed))
        if resume is not None:
            h.note("runner.groups_skipped", len(resume.skipped))

        def account():
            files = [os.path.join(d, f) for d, _, fs in
                     os.walk(os.path.join(out, "violations"))
                     for f in fs if f.endswith(".parquet")]
            h.note("runner.output_files", len(files))
            h.note("runner.output_bytes",
                   sum(os.path.getsize(f) for f in files))
            shutil.rmtree(out, ignore_errors=True)
        h.after_pass(account)


class WideContracts(Workload):
    name = "wide_contracts"
    pass_s = 3.5
    COLUMNS = (60, 240)
    rows = 2_000

    def generate(self) -> dict:
        n = 500 if self.tiny else self.rows
        self.n = n
        self.paths, self.oracles = {}, {}
        total_bytes = bad = 0
        for ncols in self.COLUMNS:
            path = os.path.join(self.work, f"wide{ncols}")
            inputs.write_wide(path, n, ncols, self.seed)
            self.paths[ncols] = path
            self.oracles[ncols] = oracle.RowOracle(
                self.con, oracle.parquet(path), oracle.wide_checks(ncols),
                "grp")
            total_bytes += inputs.dir_bytes(path)
            bad += self.oracles[ncols].bad
        return {"rows": n * len(self.COLUMNS), "input_bytes": total_bytes,
                "invalid_share": bad / (n * len(self.COLUMNS))}

    def setup(self, h) -> None:
        self.dfs = {c: h.spark.read.parquet(p) for c, p in self.paths.items()}

    def one_pass(self, h, traced: bool) -> None:
        from jsonschema_spark import CompiledValidator
        for ncols in self.COLUMNS:
            df, o = self.dfs[ncols], self.oracles[ncols]
            contract = inputs.wide_contract(ncols)
            v = h.call("compiler.compile",
                       lambda: CompiledValidator(contract, df))
            if v is not None:
                h.note("compiler.checks", len(v.checks))
            h.call("validator.counts", lambda: v.counts(df), self.n,
                   o.check_counts)
            if traced and v is not None:
                # traced-only breakdown: Catalyst analysis, optimisation
                # and physical planning of the validated frame, no job
                h.call("validator.plan", lambda: v.with_valid(df)._jdf
                       .queryExecution().executedPlan(), extra=True)


WORKLOADS = {w.name: w for w in (Images, WideContracts)}
