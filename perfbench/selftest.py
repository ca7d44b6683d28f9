#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

Run from the root of a checkout::

    python3 perfbench/selftest.py

1. The oracle flags a deliberately altered count (no Spark needed).
2. Each workload named in BENCHMARK.json runs at tiny size with
   ``--trace 0`` and ``--trace 1``; every metric BENCHMARK.json names is
   emitted, with its unit, and every result matched its oracle.
3. In a directory holding only BENCHMARK.json and the benchmark, the
   command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def check_oracle_flags_alterations(work: str) -> None:
    import duckdb
    from pyspark.sql import Row

    import inputs
    import oracle
    path = os.path.join(work, "wide12")
    inputs.write_wide(path, 400, 12, seed=3)
    con = duckdb.connect()
    o = oracle.RowOracle(con, oracle.parquet(path), oracle.wide_checks(12),
                         "grp")
    con.close()
    counts = (o.rows - o.bad, o.bad)
    manifest = [Row(grp=g, rows=n, invalid_rows=b, passed=b == 0)
                for g, (n, b) in o.manifest.items()]
    violations = [(kw, p, n) for (kw, p), n in o.violations.items()]
    assert o.bad and violations, "tiny wide table planted no violations"
    assert o.check_counts(counts) is None
    assert o.check_manifest(manifest) is None
    assert o.check_violations(violations) is None
    assert o.check_counts((counts[0] + 1, counts[1] - 1)) is not None
    altered = [Row(grp=r.grp, rows=r.rows, invalid_rows=r.invalid_rows + 1,
                   passed=False) for r in manifest]
    assert o.check_manifest(altered) is not None
    kw, p, n = violations[0]
    assert o.check_violations([(kw, p, n + 1)] + violations[1:]) is not None
    assert o.check_violations(violations[1:]) is not None
    print("selftest: oracle flags altered counts, manifests, violations")


def run(cmd: list, cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def check_workloads(root: str, bench: dict) -> None:
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for wl in bench["workloads"]:
        for trace in (0, 1):
            cmd = bench["command"] + [
                "--workload", wl["name"], "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--tiny"]
            proc = run(cmd, root)
            assert proc.returncode == 0, (wl["name"], trace,
                                          proc.stderr[-2000:])
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed",
                                "metrics"}, out.keys()
            assert out["correct"] is True, (wl["name"], proc.stderr[-2000:])
            assert out["attempted"] >= 1
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want[trace], (wl["name"], trace,
                                        set(got) ^ set(want[trace]))
            print(f"selftest: {wl['name']} --trace {trace}: "
                  f"{len(got)} metrics, {out['failed']} of "
                  f"{out['attempted']} calls failed")


def check_bare_directory_fails(root: str, bench: dict, work: str) -> None:
    bare = os.path.join(work, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    cmd = bench["command"] + ["--workload", bench["workloads"][0]["name"],
                              "--seed", "1", "--seconds", "1",
                              "--trace", "0"]
    proc = run(cmd, bare)
    assert proc.returncode != 0 and not proc.stdout.strip(), proc.stdout
    shutil.rmtree(bare, ignore_errors=True)
    print("selftest: without the program the command fails, no result")


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(root, ".perfbench_work", "selftest")
    os.makedirs(work, exist_ok=True)
    check_oracle_flags_alterations(work)
    check_bare_directory_fails(root, bench, work)
    check_workloads(root, bench)
    shutil.rmtree(work, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
