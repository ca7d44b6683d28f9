"""Per-layer metrics of a traced run.

The metric names and units are those of ``per_layer`` in BENCHMARK.json;
README.md maps each to the end-to-end metric and workload it should
move.  Timings are per measured traced pass (median over passes), engine
counters are per pass (mean), and a layer a workload does not exercise
reports 0.
"""

from __future__ import annotations

import json
import os
import statistics

ENGINE_LAYERS = ("validator", "dataset", "runner")
ENGINE = ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
          "spill_bytes", "result_bytes", "task_skew")

#: event-log accumulables of the Python/Arrow boundary, by metric
ARROW_ACCUMULABLES = {
    "arrow.bytes_to_python": ("data sent to python workers", 1),
    "arrow.bytes_from_python": ("data returned from python workers", 1),
    "arrow.python_run_s": ("time to run python workers", 1e-3),
    "arrow.python_start_s": ("time to start python workers", 1e-3),
}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(h, tracer, groups: dict, ttags: list, sources: dict,
              start_s: float, untraced_rate: float, heap: dict) -> dict:
    calls = [s for s in tracer.spans if s["tag"] in ttags]

    def per_pass(name, field=None, depth=1, in_tags=ttags):
        sums = []
        for t in in_tags:
            sel = [s for s in tracer.spans if s["tag"] == t
                   and s["name"] == name and s["depth"] == depth]
            sums.append(sum((s[field] if field else s["end"] - s["start"])
                            for s in sel))
        return _median(sums)

    def note(name, in_tags=ttags):
        return _median(h.notes[t][name] for t in in_tags)

    m: dict = {}
    m["session.start_s"] = start_s
    for name, mb in heap.items():
        m[f"jvm.{name}"] = mb
    compile_tags = [t for t in ttags if any(
        s["name"] == "compiler.compile" for s in calls if s["tag"] == t)] \
        or ["w0"]
    m["compiler.compile_s"] = per_pass("compiler.compile",
                                       in_tags=compile_tags)
    m["compiler.checks"] = note("compiler.checks", compile_tags)
    m["compiler.py4j_calls"] = per_pass("compiler.compile", "py4j",
                                        in_tags=compile_tags)
    m["compiler.py4j_calls_per_check"] = (
        m["compiler.py4j_calls"] / m["compiler.checks"]
        if m["compiler.checks"] else 0.0)
    for call in ("counts", "manifest", "violations"):
        m[f"validator.{call}_s"] = per_pass(f"validator.{call}")
    m["validator.plan_s"] = (
        per_pass("validator.plan")
        + per_pass("validator.manifest.plan", depth=2)
        + per_pass("validator.violations.plan", depth=2))
    m["validator.violations_over_counts"] = (
        m["validator.violations_s"] / m["validator.counts_s"]
        if m["validator.counts_s"] else 0.0)
    rows = note("validator.rows")
    m["validator.violation_rows_per_row"] = (
        note("validator.violation_rows") / rows if rows else 0.0)
    m["dataset.validate_s"] = per_pass("dataset.validate")
    for op in ("uniqueness", "referential", "stats"):
        m[f"{op}.violations_s"] = per_pass(f"{op}.violations")

    # engine counters per layer, from the event log's job groups
    traced = {g: v for g, v in groups.items()
              if g.rsplit("|", 1)[-1] in ttags}
    n = max(len(ttags), 1)
    for name, (acc, scale) in ARROW_ACCUMULABLES.items():
        m[name] = sum(v for g in traced.values() for k, v in g.items()
                      if k.lower() == "acc:" + acc) * scale / n
    for layer in ENGINE_LAYERS:
        mine = [v for g, v in traced.items()
                if g.split(".", 1)[0] == layer]
        for metric in ENGINE:
            if metric == "task_skew":
                times = [t for v in mine for t in v.get("task_ms", [])]
                med = statistics.median(times) if times else 0
                m[f"{layer}.task_skew"] = max(times) / max(med, 1) \
                    if times else 0.0
            else:
                m[f"{layer}.{metric}"] = sum(v.get(metric, 0)
                                             for v in mine) / n

    m["runner.run_s"] = per_pass("runner.run")
    m["runner.resume_s"] = per_pass("runner.resume")
    for name in ("output_bytes", "output_files", "groups_committed",
                 "groups_skipped"):
        m[f"runner.{name}"] = note(f"runner.{name}")

    m["sources.generate_s"] = sources.get("generate_s", 0.0)
    m["sources.rows"] = sources.get("rows", 0)
    m["sources.input_bytes"] = sources.get("input_bytes", 0)
    m["sources.invalid_share"] = sources.get("invalid_share", 0.0)

    m["trace.overhead_frac"] = (1 - h.rows_per_s(ttags) / untraced_rate
                                if untraced_rate else 0.0)
    cover = []
    for t in ttags:
        inside = sum(s["end"] - s["start"] for s in calls
                     if s["tag"] == t and s["depth"] == 1)
        cover.append(inside / h.passes[t]["wall"])
    m["trace.span_coverage_min"] = min(cover) if cover else 0.0
    m["failed_ops_frac"] = h.failed / max(h.attempted, 1)

    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        names = json.load(f)["per_layer"]
    return {d["name"]: {"value": float(m[d["name"]]), "unit": d["unit"]}
            for d in names}
