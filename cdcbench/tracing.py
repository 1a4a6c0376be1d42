"""Spans around calls into the engine's public functions, plus the Spark
job, stage and SQL metrics that ran inside each span.

Spans are recorded from the benchmark's own files: `Tracer.patch` swaps a
public function or method for a timing wrapper, so the engine itself is
unchanged. Spark work is attributed afterwards, from the driver's status
stores (they work with the UI disabled): each job and SQL execution
belongs to every span whose wall-clock interval holds its submission time.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # wall clock, seconds since the epoch
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = Span(name, time.time(), parent=stack[-1] if stack else None, attrs=attrs)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Time every call of `owner.attr`. For a module-level function, every
        engine module that imported the same function object is patched too,
        so calls through `from x import f` are seen."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m
                for mod_name, m in list(sys.modules.items())
                if mod_name.startswith("greenplum_cdc_spark") and m is not owner and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._patched.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def unpatch(self) -> None:
        for t, attr, orig in reversed(self._patched):
            setattr(t, attr, orig)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def within(self, outer: Span, name: str) -> list[Span]:
        return [s for s in self.named(name) if outer.start <= s.start and s.end <= outer.end]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, **s.attrs}) + "\n")


# --- Spark status stores ------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """A count or size SQL metric as the status store formats it: '1,000',
    '8.5 KiB', or a 'total (min, med, max ...)' header line followed by the
    line whose first figure is the total."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([\d,.]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)


class SparkLedger:
    """Every job, stage and SQL execution the driver retained, with sums over
    the ones submitted inside a span."""

    def __init__(self, spark):
        jvm = spark._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        store = spark._jsc.sc().statusStore()
        self.jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            mapper.writeValueAsString(
                store.stageList(
                    None, False, False, getattr(store, "stageList$default$4")(), getattr(store, "stageList$default$5")()
                )
            )
        )
        self.stages = {s["stageId"]: s for s in stages}
        sql_store = spark._jsparkSession.sharedState().statusStore()
        self.executions = json.loads(mapper.writeValueAsString(sql_store.executionsList()))

    def stats(self, span: Span) -> dict:
        lo, hi = span.start * 1000.0, span.end * 1000.0
        jobs = [j for j in self.jobs if lo <= j["submissionTime"] <= hi]
        out = dict.fromkeys(
            (
                "jobs",
                "tasks",
                "stages",
                "run_s",
                "cpu_s",
                "input_bytes",
                "output_bytes",
                "shuffle_write_bytes",
                "shuffle_write_records",
                "python_bytes",
                "files_read",
                "file_bytes_read",
            ),
            0.0,
        )
        out["jobs"] = len(jobs)
        seen = set()
        for j in jobs:
            for sid in j["stageIds"]:
                st = self.stages.get(sid)
                if sid in seen or st is None or st["status"] == "SKIPPED":
                    continue
                seen.add(sid)
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"]
                out["run_s"] += st["executorRunTime"] / 1e3
                out["cpu_s"] += st["executorCpuTime"] / 1e9
                out["input_bytes"] += st["inputBytes"]
                out["output_bytes"] += st["outputBytes"]
                out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                out["shuffle_write_records"] += st["shuffleWriteRecords"]
        for ex in self.executions:
            if not lo <= ex["submissionTime"] <= hi:
                continue
            values = ex.get("metricValues") or {}
            for m in ex["metrics"]:
                v = values.get(str(m["accumulatorId"]))
                if v is None:
                    continue
                if m["name"] in ("data sent to Python workers", "data returned from Python workers"):
                    out["python_bytes"] += parse_metric(v)
                elif m["name"] == "number of files read":
                    out["files_read"] += parse_metric(v)
                elif m["name"] == "size of files read":
                    out["file_bytes_read"] += parse_metric(v)
        return out


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def storage_mb(spark) -> float:
    """Storage memory the block manager holds (cached and persisted data)."""
    status = spark._jsc.sc().getExecutorMemoryStatus()
    it = status.values().iterator()
    used = 0
    while it.hasNext():
        t = it.next()
        used += t._1() - t._2()
    return used / 2**20


def cached_rdds(spark) -> int:
    return int(spark._jsc.getPersistentRDDs().size())
