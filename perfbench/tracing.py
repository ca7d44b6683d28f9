"""Spans, job groups, py4j call counts and Spark event-log aggregation.

Tracing is set up from outside the library: a span wraps each public
call the benchmark makes, ``SparkContext.setJobGroup`` tags the Spark
jobs that call starts, and the uncompressed event log written by the
traced session is aggregated per job group afterwards.  With tracing
off every hook is a no-op, so the untraced run pays nothing for it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

#: Spark event-log settings of a traced run.  Spark 4 otherwise
#: zstd-compresses the log, and reading that needs ``zstandard``, which
#: is not a dependency.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    """Spans kept in memory; job groups and plan spans when `on`."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self._sc = None
        self.tag = ""

    def count_py4j(self, spark) -> None:
        """Count the py4j ``send_command`` calls made through `spark`'s
        gateway client (each is one driver round trip)."""
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counting(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)
        client.send_command = counting

    def begin(self, name: str) -> int:
        """Open a span; a call-level span (depth 1) also names the job
        group of every Spark job started until it ends."""
        span = {"name": name, "start": time.perf_counter(), "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "depth": len(self._stack), "run_id": self.run_id,
                "tag": self.tag, "py4j0": self.py4j_calls}
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        if self.on and span["depth"] == 1:
            self._sc.setJobGroup(f"{name}|{self.tag}", name)
        return self._stack[-1]

    def end(self, idx: int) -> float:
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        span["py4j"] = self.py4j_calls - span.pop("py4j0")
        self._stack.pop()
        if self.on and span["depth"] == 1:
            self._sc.setJobGroup("untimed", "untimed")
        return span["end"] - span["start"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ event log
def _accumulables(info: dict) -> dict:
    out = {}
    for acc in info.get("Accumulables", []):
        name = acc.get("Name") or ""
        val = acc.get("Update")
        if isinstance(val, (int, float)):
            out[name] = out.get(name, 0) + val
        elif isinstance(val, str) and val.lstrip("-").isdigit():
            out[name] = out.get(name, 0) + int(val)
    return out


def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs, tasks, task metrics and SQL accumulables,
    summed over every application log under `log_dir`."""
    groups: dict = defaultdict(lambda: defaultdict(float))
    for root, _, files in os.walk(log_dir):
        for fname in sorted(files):
            stage_group: dict = {}
            with open(os.path.join(root, fname)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                        if g is None:
                            continue
                        groups[g]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, g)
                    elif kind == "SparkListenerStageSubmitted":
                        g = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                        sid = ev["Stage Info"]["Stage ID"]
                        if g is not None:
                            stage_group[sid] = g
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev.get("Stage ID"))
                        if g is None:
                            continue
                        info = ev.get("Task Info", {})
                        m = ev.get("Task Metrics") or {}
                        agg = groups[g]
                        agg["tasks"] += 1
                        agg["executor_cpu_s"] += m.get(
                            "Executor CPU Time", 0) / 1e9
                        agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        agg["result_bytes"] += m.get("Result Size", 0)
                        agg["spill_bytes"] += (
                            m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0))
                        agg["shuffle_write_bytes"] += (
                            m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0)
                        agg.setdefault("task_ms", []).append(
                            info.get("Finish Time", 0)
                            - info.get("Launch Time", 0))
                        for name, val in _accumulables(info).items():
                            agg["acc:" + name] += val
    return {g: dict(v) for g, v in groups.items()}
