"""One closed-loop client: times each public call, checks it later.

Every call into the library goes through :meth:`Harness.call`, one at a
time from the main thread.  The call's wall time is measured around the
call plus the collect of any DataFrame it returns; its check against
the oracle runs after the pass, outside every timed region.  An
exception or a mismatch counts as a failed call and is never retried.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
from collections import defaultdict
from typing import Any, Callable, Optional

from tracing import Tracer

CORES = 4


def _first_line(exc: BaseException) -> str:
    text = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {text[0][:200] if text else ''}"


class Harness:
    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.spark = None
        self.jvm: Optional[subprocess.Popen] = None
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        self.errors: list[str] = []
        #: per pass tag: numbers the workload records (checks, bytes...)
        self.notes: dict = defaultdict(lambda: defaultdict(float))
        #: per pass tag: {"rows": credited rows, "time": timed seconds}
        self.passes: dict = {}
        self._pending: list = []
        self._cleanup: list = []
        self.tag = ""

    # ------------------------------------------------------------ session
    def start_session(self) -> float:
        """Start the local[4] session; returns the seconds it took."""
        from jsonschema_spark.session import get_spark
        idx = self.tracer.begin("session.start")
        self.spark = get_spark("perfbench", cores=CORES)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm is None:
            self.jvm = self.spark.sparkContext._gateway.proc
        return self.tracer.end(idx)

    def jvm_heap_mb(self) -> dict:
        """The driver JVM's heap as its memory beans report it: the heap
        committed now (its 2 GB start, or what G1 grew it to) and the old
        generation's peak occupancy (data that outlived young
        collections)."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        old = max((p.getPeakUsage().getUsed()
                   for p in mf.getMemoryPoolMXBeans()
                   if "Old Gen" in p.getName()), default=0)
        heap = mf.getMemoryMXBean().getHeapMemoryUsage()
        return {"heap_committed_mb": heap.getCommitted() / 2**20,
                "old_gen_peak_mb": old / 2**20}

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the gateway JVM, and wait for it."""
        self.stop_session()
        if self.jvm is not None:
            from pyspark import SparkContext
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            if self.jvm.stdin:
                self.jvm.stdin.close()    # PythonGatewayServer exits on EOF
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            self.jvm = None

    # -------------------------------------------------------------- calls
    def call(self, name: str, fn: Callable[[], Any], rows: int = 0,
             check: Optional[Callable[[Any], Optional[str]]] = None,
             extra: bool = False) -> Any:
        """Time one public call.  A DataFrame result is collected inside
        the timed region (with its executed plan forced first, in its
        own span, when tracing).  `rows` input rows are credited if the
        call succeeds and its deferred `check` passes; `extra` calls
        (traced-only breakdowns) are left out of the pass totals."""
        from pyspark.sql import DataFrame
        self.attempted += 1
        idx = self.tracer.begin(name)
        out, err = None, None
        try:
            out = fn()
            if isinstance(out, DataFrame):
                if self.tracer.on:
                    pidx = self.tracer.begin(name + ".plan")
                    try:
                        out._jdf.queryExecution().executedPlan()
                    finally:
                        self.tracer.end(pidx)
                out = out.collect()
        except Exception as exc:  # a failed call is a result, not a crash
            err = _first_line(exc)
        dt = self.tracer.end(idx)
        if not extra:
            self.passes[self.tag]["time"] += dt
        self._pending.append((name, out, err, check, rows, extra))
        return out

    def rows_per_s(self, tags: list) -> float:
        """Median over the passes `tags` of each pass's credited rows
        over its timed seconds."""
        return statistics.median(
            self.passes[t]["rows"] / self.passes[t]["time"] for t in tags)

    def note(self, name: str, value: float) -> None:
        self.notes[self.tag][name] += value

    def after_pass(self, fn: Callable[[], None]) -> None:
        self._cleanup.append(fn)

    def run_pass(self, tag: str, body: Callable[["Harness"], None]) -> None:
        """One pass: `body` issues the calls inside the ``pass`` span;
        checks and clean-up run after the span closes."""
        self.tag = self.tracer.tag = tag
        self.passes[tag] = {"rows": 0, "time": 0.0}
        idx = self.tracer.begin("pass")
        body(self)
        self.passes[tag]["wall"] = self.tracer.end(idx)
        for name, out, err, check, rows, extra in self._pending:
            if err is None and check is not None:
                try:
                    err = check(out)
                except Exception as exc:
                    err = "check raised " + _first_line(exc)
                if err:
                    self.mismatches += 1
            if err:
                self.failed += 1
                self.errors.append(f"[{tag}] {name}: {err}")
                print(f"perfbench: FAILED {name} [{tag}]: {err}",
                      file=sys.stderr, flush=True)
            elif not extra:
                self.passes[tag]["rows"] += rows
        self._pending = []
        for fn in self._cleanup:
            fn()
        self._cleanup = []


# --------------------------------------------------------------- process
def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the JVM plus the largest pyspark worker below it."""
    workers = [_status_kb(p, "VmHWM") for p in _descendants(jvm_pid)]
    return (_status_kb(jvm_pid, "VmHWM") + max(workers, default=0)) / 1024


def noise_sample() -> dict:
    """Hypervisor steal jiffies (all cores) and the load averages."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal_jiffies": steal, "loadavg": load}
