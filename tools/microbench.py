#!/usr/bin/env python
"""Microbenchmarks mirroring the reference's pyperf suite
(/root/reference/jsonschema/benchmarks/*) -> MICROBENCH.md.

Compile-time costs are driver-side Python (no cluster involvement — the
same property the reference's precompile guard protects,
validators.py:293-297); the throughput rows compare single-core
vectorized evaluation against the reference validator on identical data.
"""
from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROWS = 200_000


def timeit(fn, repeat=5):
    ts = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return min(ts), statistics.median(ts)


def wide_ref_creation(spark):
    """Compile the ``wide_contracts`` benchmark's 240-column ``$ref``
    contract: best-of-5 ms and py4j round trips per check (median),
    counted on the session's gateway client."""
    ncols = 240
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from inputs import wide_columns, wide_contract
    from pyspark.sql import types as T

    from jsonschema_spark import CompiledValidator

    spark_type = {"code": T.StringType(), "pct": T.DoubleType(),
                  "level": T.StringType(), "qty": T.IntegerType(),
                  "ratio": T.DoubleType(), "tag": T.StringType()}
    df = spark.createDataFrame([], T.StructType(
        [T.StructField(c, spark_type[k]) for c, k in wide_columns(ncols)]))
    contract = wide_contract(ncols)
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, [0]

    def counting(*a, **kw):
        sent[0] += 1
        return send(*a, **kw)
    client.send_command = counting
    try:
        CompiledValidator(contract, df)  # warm-up
        trips, checks = [], 0
        for _ in range(5):
            before = sent[0]
            checks = len(CompiledValidator(contract, df).checks)
            trips.append(sent[0] - before)
        best, _ = timeit(lambda: CompiledValidator(contract, df), 5)
    finally:
        client.send_command = send
    return (f"validator_creation ({ncols}-col `$ref` contract)",
            f"{best * 1000:.0f} ms, "
            f"{statistics.median(trips) / checks:.1f} py4j round trips "
            f"per check",
            f"{checks} checks; the compile builds SQL text in Python, "
            f"each validator output is one F.expr")


def main() -> None:
    from jsonschema_spark import CompiledValidator
    from jsonschema_spark.session import get_spark
    from jsonschema_spark.sources.images import IMAGES_SCHEMA, images_df

    spark = get_spark("microbench", cores=1, shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    img_small = images_df(spark, 100)
    spec = {k: v for k, v in IMAGES_SCHEMA.items() if k != "x-spark"}
    results = []

    # --- validator creation (benchmarks/validator_creation.py) ----------
    best, med = timeit(lambda: CompiledValidator(spec, img_small), 20)
    results.append(("validator_creation (7-col image spec)",
                    f"{best * 1000:.1f} ms", "compile once per job; "
                    "amortized over every row"))
    results.append(wide_ref_creation(spark))

    # --- const vs enum (benchmarks/const_vs_enum.py) ---------------------
    enum_spec = {"properties": {"fmt": {"enum": [f"v{i}" for i in
                                                 range(100)]}}}
    const_spec = {"properties": {"fmt": {"const": "v0"}}}
    b1, _ = timeit(lambda: CompiledValidator(enum_spec, img_small), 10)
    b2, _ = timeit(lambda: CompiledValidator(const_spec, img_small), 10)
    results.append(("const_vs_enum compile (100-value enum vs const)",
                    f"{b1 * 1000:.1f} ms vs {b2 * 1000:.1f} ms",
                    "enum compiles to one isin-style disjunction"))

    # --- nested schemas anti-blowup (benchmarks/nested_schemas.py) ------
    def nested(depth):
        s = {"properties": {"caption": {"minLength": 1}}}
        for _ in range(depth):
            s = {"allOf": [s]}
        return s
    t1, _ = timeit(lambda: CompiledValidator(nested(1), img_small), 5)
    t10, _ = timeit(lambda: CompiledValidator(nested(10), img_small), 5)
    results.append(("nested_schemas compile depth 1 -> 10",
                    f"{t1 * 1000:.1f} ms -> {t10 * 1000:.1f} ms",
                    f"{t10 / max(t1, 1e-9):.1f}x — linear, no blowup "
                    "(issue #1097 guard)"))

    # --- useless keywords (benchmarks/useless_keywords.py) ---------------
    useless = {f"xk{i}": i for i in range(10_000)}
    useless["properties"] = {"caption": {"minLength": 1}}
    bu, _ = timeit(lambda: CompiledValidator(useless, img_small), 5)
    results.append(("useless_keywords compile (10k unknown keywords)",
                    f"{bu * 1000:.1f} ms",
                    "unknown keywords filtered at compile "
                    "(validators.py:293-297 analogue)"))

    # --- useless applicators (benchmarks/useless_applicator_schemas.py) --
    ua = {"allOf": [True] * 1000,
          "properties": {"caption": {"minLength": 1}}}
    ba, _ = timeit(lambda: CompiledValidator(ua, img_small), 5)
    results.append(("useless_applicators compile (1000 True subschemas)",
                    f"{ba * 1000:.1f} ms", "True schemas fold to zero "
                    "checks"))

    # --- single-core is_valid throughput vs reference -------------------
    img = images_df(spark, ROWS, partitions=1).cache()
    img.count()
    v = CompiledValidator(spec, img)
    be, _ = timeit(lambda: v.counts(img), 5)
    engine_rps = ROWS / be

    import jsonschema
    ref = jsonschema.Draft202012Validator(spec)
    sample = [{k: x for k, x in r.asDict().items()
               if x is not None and k != "bytes"}
              for r in img.limit(20_000).collect()]
    t0 = time.perf_counter()
    n_ok = sum(1 for inst in sample if ref.is_valid(inst))
    ref_rps = len(sample) / (time.perf_counter() - t0)
    results.append(("is_valid throughput, single core (local[1], cached)",
                    f"engine {engine_rps:,.0f} rows/s vs reference "
                    f"{ref_rps:,.0f} rows/s",
                    f"**{engine_rps / ref_rps:.0f}x per core** "
                    f"(n_ok={n_ok})"))

    lines = [
        "# MICROBENCH.md — reference-suite-shaped microbenchmarks",
        "",
        "Mirrors `/root/reference/jsonschema/benchmarks/*` "
        "(validator_creation, const_vs_enum, nested_schemas, "
        "useless_keywords, useless_applicator_schemas) plus the "
        "single-core throughput comparison. Generated by "
        "`tools/microbench.py`.",
        "",
        "| benchmark | result | note |",
        "|---|---|---|",
    ]
    for name, res, note in results:
        lines.append(f"| {name} | {res} | {note} |")
    # the table replaces the file's head; the hand-written sections
    # from the first "## " heading on are kept as they are
    path = os.path.join(REPO, "MICROBENCH.md")
    tail = ""
    if os.path.exists(path):
        with open(path) as fh:
            old = fh.read()
        if "\n## " in old:
            tail = "\n" + old[old.index("\n## ") + 1:]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n" + tail)
    for r in results:
        print(r)
    spark.stop()


if __name__ == "__main__":
    main()
