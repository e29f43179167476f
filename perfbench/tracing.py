"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded only here, around calls into the engine's public
functions: the module attributes ``manifest.read_manifest``,
``list_commit_ids`` and ``write_manifest`` and ``bloom.build``,
``hash_pairs`` and ``contains_any_hashed`` are wrapped (every engine
module calls them through the module, so the wrappers see every call).
Spans stay in memory; the run folds them into per-op figures at the end.
Spark figures come from per-op job groups and the local UI REST API,
process CPU from ``/proc``, GC time from the JVM's MXBeans over py4j.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

from hudi_glue_spark.table import bloom as B
from hudi_glue_spark.table import manifest as M

_WRAPPED = (
    (M, "read_manifest", "manifest.read"),
    (M, "list_commit_ids", "manifest.list"),
    (M, "write_manifest", "manifest.write"),
    (B, "build", "bloom.build"),
    (B, "hash_pairs", "bloom.probe"),
    (B, "contains_any_hashed", "bloom.probe"),
)

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    #: index of the enclosing span, or -1 at the op's top level
    parent: int
    count: int = 0


@dataclass
class OpRecord:
    """One timed op: what the client saw plus what the layers did."""

    op: int
    kind: str
    start: float
    end: float
    traced: bool
    py_cpu_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def timed_commits(ops: list[OpRecord]) -> list[OpRecord]:
    """Timed commit ops whose upsert and inline clean both succeeded."""
    return [
        r
        for r in ops
        if r.extra["timed"] and r.kind == "commit" and "clean_op" in r.extra
    ]


class Tracer:
    """Installs the wrappers and keeps spans of the active op."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.active_op: int | None = None
        # open span indices, per thread (engine threads call the wrapped
        # functions too)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._orig: list[tuple] = []
        jvm = spark._jvm
        self._jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    # -- wrappers -------------------------------------------------------

    def install(self) -> None:
        for mod, attr, name in _WRAPPED:
            orig = getattr(mod, attr)
            self._orig.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._orig):
            setattr(mod, attr, orig)
        self._orig.clear()

    def _wrap(self, fn, name):
        def traced(*args, **kwargs):
            if self.active_op is None:
                return fn(*args, **kwargs)
            stack = self._local.__dict__.setdefault("stack", [])
            span = Span(
                name, self.active_op, time.perf_counter(), 0.0, stack[-1] if stack else -1
            )
            with self._lock:
                stack.append(len(self.spans))
                self.spans.append(span)
            try:
                out = fn(*args, **kwargs)
            finally:
                stack.pop()
                span.end = time.perf_counter()
            if name == "bloom.build":
                span.count = len(args[0]) if args else len(kwargs["keys"])
            return out

        traced.__wrapped__ = fn
        return traced

    # -- process counters -----------------------------------------------

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self._jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _CLK_TCK

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def outer_time(self, op: int, name: str) -> tuple[int, float]:
        """(calls, seconds) of the op's top-most ``name`` spans: a span
        nested in another span of the same name is not counted twice."""
        calls, secs = 0, 0.0
        for s in self.spans:
            if s.op != op or s.name != name:
                continue
            p = s.parent
            nested = False
            while p >= 0:
                if self.spans[p].name == name:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                calls += 1
                secs += s.end - s.start
        return calls, secs

    def built_keys(self, op: int) -> int:
        return sum(s.count for s in self.spans if s.op == op and s.name == "bloom.build")


# -- Spark UI REST ---------------------------------------------------------


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def spark_jobs(spark) -> list[dict]:
    """All jobs of the application from the local UI's REST API, each
    with its interval (epoch s) and its stages' executor run time."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = _get(f"{base}/stages?status=complete")
    run_s = {s["stageId"]: s.get("executorRunTime", 0) / 1000.0 for s in stages}
    for j in jobs:
        j["t0"] = _epoch(j.get("submissionTime"))
        j["t1"] = _epoch(j.get("completionTime"))
        j["task_s"] = sum(run_s.get(s, 0.0) for s in j.get("stageIds", []))
    return jobs


def jobs_of(jobs: list[dict], group: str, t0: float, t1: float) -> list[dict]:
    """Jobs of one op: those tagged with its job group, plus untagged
    jobs submitted inside its wall-clock window (engine threads do not
    inherit the caller's job group). The benchmark is the only client,
    and the CDC consumer's jobs carry their own group."""
    out = []
    for j in jobs:
        if j["t0"] is None or j["t1"] is None:
            continue
        g = j.get("jobGroup")
        if g == group or (not g and t0 <= j["t0"] <= t1):
            out.append(j)
    return out


def busy_s(jobs: list[dict], t0: float, t1: float) -> float:
    """Length of the union of the jobs' intervals, clipped to [t0, t1]."""
    iv = sorted((max(j["t0"], t0), min(j["t1"], t1)) for j in jobs)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
