#!/usr/bin/env python3
"""Layered benchmark of jsonschema_spark on local[4].

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload images --seed 1 \\
        --seconds 16 --trace 0

One Python process is the only client: it issues each public call after
the previous one returned (a closed loop, no extra threads).  The run
generates the seeded inputs and their oracle (untimed), sets up
(session start, compile, two warm-up passes; timed as ``setup_s``), then
runs a fixed number of measured passes, as many as fill ``--seconds`` at
the workload's nominal pass time.  Every result is checked against the
oracle.  The last line of stdout is one JSON object; with ``--trace 0``
its metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones, taken from traced passes (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from tracing import EVENT_LOG_CONF

#: unmeasured passes in set-up: the first runs on a cold JVM, and the
#: second lets the JIT catch up with the code the first one loaded
WARMUP_PASSES = 2

#: fewest measured passes of a run, so that ``rows_per_s`` is a median
MIN_PASSES = 3

END_TO_END = {"rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs, for the self-test")
    return p.parse_args(argv)


def _environment(root: str, work: str, event_dir: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside the checkout, let
    pyspark workers import the library from it, and with `trace` have
    the session write an uncompressed event log to `event_dir`."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, event_dir, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        conf.update(EVENT_LOG_CONF, **{"spark.eventLog.dir":
                                       f"file://{event_dir}"})
    # The heap starts at 2 GB; its maximum stays the library's (8 GB by
    # default) and nothing is pre-touched, so RSS counts only pages the
    # program used.  From G1's default start (1/64 of RAM) the heap grows
    # in steps up to the size it already has, when GC time runs over its
    # target, and whether a run took one step more or fewer set peak RSS
    # more than the program did (spread 0.14-0.22 over ten seeds,
    # against 0.02 from a 2 GB start).
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in conf.items()]
        + [f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms2g "
           "-XX:-UsePerfData'", "pyspark-shell"])


def pass_count(wl, seconds: float) -> int:
    """Measured passes of a run: as many as fill `seconds` at the
    workload's nominal pass time, fixed so that every run of a workload
    repeats the same calls whatever the host's speed."""
    return max(MIN_PASSES, round(seconds / wl.pass_s))


def _measure(h, wl, passes: int, tracer=None) -> tuple[list, list]:
    """Run `passes` measured passes; returns their tags.  With a
    `tracer`, as many traced passes alternate with them, so both kinds
    see the same warm-up; returns (untraced, traced)."""
    tags: tuple[list, list] = ([], [])
    for i in range(passes * (2 if tracer else 1)):
        traced = bool(tracer) and i % 2 == 1
        if tracer:
            tracer.on = traced
        tag = f"{'t' if traced else 'm'}{len(tags[traced])}"
        h.run_pass(tag, lambda hh: wl.one_pass(hh, traced))
        tags[traced].append(tag)
    return tags


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import duckdb  # noqa: F401
        import jsonschema_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}",
              file=sys.stderr)
        return 2
    from harness import Harness, noise_sample, peak_rss_mb
    from metrics import per_layer
    from tracing import Tracer, read_event_log
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    event_dir = os.path.join(work, "eventlog")
    _environment(root, work, event_dir, bool(args.trace))
    noise0 = noise_sample()
    tracer = Tracer(run_id)
    h = Harness(tracer)
    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed,
                                  args.tiny)
    try:
        # ---- inputs and their oracle: before and outside set-up
        g0 = time.perf_counter()
        sources = wl.generate()
        sources["generate_s"] = time.perf_counter() - g0
        # ---- set-up: session start, read + compile, warm-up passes
        t0 = time.perf_counter()
        start_s = h.start_session()
        if args.trace:
            tracer.count_py4j(h.spark)
        h.run_pass("w0", lambda hh: (wl.setup(hh), wl.one_pass(hh, False)))
        for i in range(1, WARMUP_PASSES):
            h.run_pass(f"w{i}", lambda hh: wl.one_pass(hh, False))
        setup_s = time.perf_counter() - t0

        # ---- measured passes (alternating with traced ones in a trace run)
        tags, ttags = _measure(h, wl, pass_count(wl, args.seconds),
                               tracer if args.trace else None)
        rows_per_s = h.rows_per_s(tags)
        if args.trace:
            heap = h.jvm_heap_mb()
            h.stop_session()      # flushes the event log
            metrics = per_layer(h, tracer, read_event_log(event_dir),
                                ttags, sources, start_s, rows_per_s, heap)
        else:
            values = {"rows_per_s": rows_per_s, "setup_s": setup_s,
                      "peak_rss_mb": peak_rss_mb(h.jvm.pid)}
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in END_TO_END.items()}
    finally:
        h.shutdown()
        wl.close()
        os.makedirs(work, exist_ok=True)
        tracer.write(os.path.join(work, "spans.json"))
        for sub in ("data", "spark-local", "eventlog", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)

    attempted, failed = h.attempted, h.failed
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "passes": len(tags),
              "failed_ops_frac": failed / attempted,
              "errors": h.errors[:20], "sources": sources,
              "session_start_s": start_s,
              "noise": {"start": noise0, "end": noise_sample()}}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
    for name, m in metrics.items():
        print(f"{name:<40} {m['value']:>16.6g} {m['unit']}")
    print(f"{'failed_ops_frac':<40} {failed / attempted:>16.6g} frac "
          f"({failed} of {attempted} calls)")
    print("detail " + json.dumps(detail))
    print(json.dumps({"correct": h.mismatches == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
