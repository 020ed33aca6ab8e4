"""Benchmark-side tracing: spans around calls into the program's modules,
Spark stage counters diffed per op, and process-tree memory from /proc.

Spans are recorded from the benchmark's own files: ``instrument`` rebinds
the program's public functions, in every module of the package that imported
them, to wrappers that open a span while a traced op is running.  Spans are
kept in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

PACKAGE = "jsons_to_schema_spark"


class Tracer:
    """In-memory span recorder for one single-threaded client.  A span is
    (op, name, start, end, parent index)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None  # spans are recorded only inside an op

    @contextmanager
    def span(self, name: str):
        if self.op is None:
            yield
            return
        idx = len(self.spans)
        rec = {
            "op": self.op,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def traced_op(self, op: int):
        """Root span ("op") of one op; every span opened inside belongs to it."""
        self.op = op
        try:
            with self.span("op"):
                yield
        finally:
            self.op = None

    def self_times(self, op: int) -> dict[str, float]:
        """Self time per span name within one op: the span's duration minus
        the part its child spans cover (children of one client never
        overlap, so that part is the sum of their durations)."""
        spans = [(i, s) for i, s in enumerate(self.spans) if s["op"] == op]
        child_total: dict[int, float] = {}
        for _, s in spans:
            if s["parent"] is not None:
                child_total[s["parent"]] = child_total.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for i, s in spans:
            own = (s["end"] - s["start"]) - child_total.get(i, 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def instrument(tracer: Tracer, targets: list[tuple[str, str]]) -> None:
    """Wrap ``module.attr`` for each (module, attr) target.  A dotted attr
    (``Class.method``) wraps a method on its class.  Every module of the
    package that bound the same function object gets the wrapper too, so
    ``from .validate import f`` call sites are traced as well."""
    for modname, attr in targets:
        mod = sys.modules.get(modname) or __import__(modname, fromlist=["_"])
        owner = mod
        path = attr.split(".")
        for part in path[:-1]:
            owner = getattr(owner, part)
        original = getattr(owner, path[-1])
        name = f"{modname.rsplit('.', 1)[-1]}.{attr}"
        wrapped = _wrap(tracer, name, original)
        setattr(owner, path[-1], wrapped)
        if owner is not mod:
            continue
        for other_name, other in list(sys.modules.items()):
            if other_name.startswith(PACKAGE) and getattr(other, path[-1], None) is original:
                setattr(other, path[-1], wrapped)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


# ---------------------------------------------------------------------------
# Spark stage counters (status REST API of the driver UI)
# ---------------------------------------------------------------------------

STAGE_FIELDS = {
    "spark.tasks": ("numCompleteTasks", 1),
    "spark.input_records": ("inputRecords", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.jvm_gc_s": ("jvmGcTime", 1e-3),
}


class StageCounters:
    """Reads completed-stage counters from ``<ui>/api/v1``.  ``snapshot``
    returns the ids seen so far; ``diff`` sums counters over stages that
    completed after a snapshot."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.url = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
            "/stages?status=complete"
        )

    def _stages(self) -> dict[tuple, dict]:
        # the status store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        with urllib.request.urlopen(self.url, timeout=30) as resp:
            stages = json.load(resp)
        return {(s["stageId"], s["attemptId"]): s for s in stages}

    def snapshot(self) -> set:
        return set(self._stages())

    def diff(self, before: set) -> dict[str, float]:
        new = [s for k, s in self._stages().items() if k not in before]
        out = {}
        for metric, (fields, scale) in STAGE_FIELDS.items():
            fields = fields if isinstance(fields, tuple) else (fields,)
            out[metric] = sum(s.get(f, 0) for s in new for f in fields) * scale
        return out


# ---------------------------------------------------------------------------
# Process-tree memory from /proc
# ---------------------------------------------------------------------------

def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, from the ppid field of
    /proc/<pid>/stat."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss:
    """Peak resident memory of the JVM plus its Python workers.

    A sampler thread sums VmRSS over the JVM and its descendants every
    0.2 s; the JVM's own high-water mark (VmHWM) bounds the result from
    below, so a JVM peak between samples is not missed.
    """

    PERIOD = 0.2

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        pids = [self.jvm_pid] + descendants(self.jvm_pid)
        total = sum(_status_kb(p, "VmRSS") for p in pids)
        self.peak_kb = max(self.peak_kb, total, _status_kb(self.jvm_pid, "VmHWM"))

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0
