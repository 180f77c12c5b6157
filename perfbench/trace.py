"""Outside-in layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side only: the tracer wraps the
public functions of each engine layer module, in every engine module
that bound them, and `DataFrameWriter.parquet` for writes.  Nothing in
the engine changes.  Each span records its layer, name, start, end and
parent, the JVM's cumulative JIT and GC time at both ends (JMX), and
sets a Spark job group so the status store's stage metrics land on the
innermost open span.  Spans stay in memory; `dump` writes them out at
the end of the run.

Self time of a span is its duration minus the part covered by its
child spans; a layer's self time is the sum over its spans.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "bank_transaction_data_warehouse_spark"

# layer -> engine module whose functions are that layer's calls
LAYER_MODULES = {
    "sources": f"{PKG}.sources.tables",
    "keys": f"{PKG}.operators.keys",
    "warehouse": f"{PKG}.plans.warehouse",
    "materialize": f"{PKG}.plans.materialize",
    "analytics": f"{PKG}.plans.analytics",
    "corpus": f"{PKG}.plans.corpus",
    "dedup": f"{PKG}.operators.dedup",
    "components": f"{PKG}.operators.components",
    "ann": f"{PKG}.operators.ann",
    "text": f"{PKG}.functions.text",
}
# private builders that other modules call directly; traced so their
# work is attributed (and dim builds counted) where it happens
EXTRA_FUNCTIONS = {
    "warehouse": ("_dim_customer_ext",),
    "analytics": ("_fact_with_dims",),
}
JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jit0: float = 0.0
    jit1: float = 0.0
    gc0: float = 0.0
    gc1: float = 0.0
    returned: object = None  # the DataFrame a layer call returned, if any
    jobs: list[int] = field(default_factory=list)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Records spans while enabled.  `enable` installs the wrappers and
    `disable` restores the engine's functions, so untraced passes run
    the engine exactly as it is."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = False

    # ---------------------------------------------------------- JVM
    def jvm_times(self) -> tuple[float, float]:
        """(cumulative JIT compile seconds, cumulative GC seconds)."""
        jit = self._comp.getTotalCompilationTime() / 1000.0
        gc = sum(g.getCollectionTime() for g in self._gcs) / 1000.0
        return jit, gc

    # -------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        s.jit0, s.gc0 = self.jvm_times()
        self._jsc.setLocalProperty(JOB_GROUP, f"pb{s.id}")
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._jsc.setLocalProperty(JOB_GROUP, f"pb{parent.id}" if parent else None)
            s.jit1, s.gc1 = self.jvm_times()
            self._stack.pop()

    def record_setup(self, start: float, end: float) -> None:
        """Record the session set-up, which ran before the tracer could
        exist, as a finished span; its JIT and GC times run from JVM
        start."""
        s = Span(len(self.spans), "session", "get_spark", None, start, end)
        s.jit1, s.gc1 = self.jvm_times()
        self.spans.append(s)

    def _wrap(self, layer: str, fn, name=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name(args) if name else fn.__name__) as s:
                out = fn(*args, **kwargs)
                if s is not None:
                    s.returned = out
                return out

        return traced

    # ---------------------------------------------------- patching
    def enable(self) -> None:
        if self.enabled:
            return
        wrappers = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            extra = EXTRA_FUNCTIONS.get(layer, ())
            for name, obj in vars(mod).items():
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == modname
                    and not hasattr(obj, "evalType")  # a UDF object
                    and (not name.startswith("_") or name in extra)
                ):
                    wrappers[id(obj)] = (obj, self._wrap(layer, obj))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(PKG) or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, hit[1])
        from pyspark.sql.readwriter import DataFrameWriter

        parquet = DataFrameWriter.parquet
        self._patched.append((DataFrameWriter, "parquet", parquet))
        DataFrameWriter.parquet = self._wrap(
            "materialize", parquet, lambda a: f"write:{os.path.basename(a[1])}"
        )
        self.enabled = True

    def disable(self) -> None:
        for owner, name, obj in reversed(self._patched):
            setattr(owner, name, obj)
        self._patched.clear()
        self.enabled = False

    # ------------------------------------------------ status store
    def attach_jobs(self, spans: list[Span], since_job: int) -> int:
        """Attach every job with id >= since_job to the span whose group
        it ran under; returns the next unseen job id."""
        by_id = {s.id: s for s in spans}
        jobs = self._jsc.sc().statusStore().jobsList(None)
        top = since_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid < since_job:
                continue
            top = max(top, jid + 1)
            g = j.jobGroup()
            gid = g.get() if g.isDefined() else ""
            if gid.startswith("pb") and int(gid[2:]) in by_id:
                by_id[int(gid[2:])].jobs.append(jid)
        return top

    def stage_metrics(self, job_ids: list[int]) -> dict[int, dict]:
        """Job id -> summed metrics of its completed stages, plus the
        per-task output record counts of stages that wrote rows."""
        store = self._jsc.sc().statusStore()
        wanted = set(job_ids)
        jobs = store.jobsList(None)
        out = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() not in wanted:
                continue
            m = defaultdict(float)
            m["task_records_written"] = []
            sids = j.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError:  # stage evicted or never attempted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                m["stages"] += 1
                m["tasks"] += st.numTasks()
                m["run_s"] += st.executorRunTime() / 1000.0
                m["cpu_s"] += st.executorCpuTime() / 1e9
                m["gc_s"] += st.jvmGcTime() / 1000.0
                m["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                m["shuffle_records"] += st.shuffleWriteRecords()
                m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                if st.outputRecords() > 0:
                    tl = store.taskList(st.stageId(), st.attemptId(), st.numTasks())
                    for x in range(tl.size()):
                        tm = tl.apply(x).taskMetrics()
                        if tm.isDefined():
                            m["task_records_written"].append(
                                tm.get().outputMetrics().recordsWritten()
                            )
            out[j.jobId()] = m
        return out

    def dump(self, path: str) -> None:
        spans = self.spans
        selfs = self_times(spans)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id, "layer": s.layer, "name": s.name,
                        "parent": s.parent, "start": s.start, "end": s.end,
                        "self_s": selfs[s.id], "jit_s": s.jit1 - s.jit0,
                        "gc_s": s.gc1 - s.gc0, "jobs": s.jobs,
                    }
                    for s in spans
                ],
                f,
            )
