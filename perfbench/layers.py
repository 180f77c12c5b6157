"""Per-layer metrics of one traced pass, from its spans and the status
store's metrics of the jobs each span launched.

Layer names follow the engine's modules (see trace.LAYER_MODULES);
`bench` is the benchmark's own glue inside an operation.  Metrics of a
layer a workload never calls are 0.
"""

from __future__ import annotations

import re
import statistics
from collections import defaultdict

from perfbench.trace import Span, self_times
from perfbench.workloads import CORPUS_STEPS, DASHBOARD_QUERIES

SELF_LAYERS = (
    "sources", "keys", "warehouse", "materialize", "analytics",
    "corpus", "dedup", "components", "ann", "text", "bench",
)
EXEC_KEYS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_records", "spill_mb",
)
# metrics also reported for the cold pass, as cold.<name>
COLD = (
    "jvm.jit_s", "jvm.gc_s", "sources.self_s", "sources.jobs",
    "keys.self_s", "keys.jobs", "keys.memo_misses",
    "warehouse.build_s", "warehouse.jobs", "exec.jobs", "exec.run_s",
)
_PY_NODES = re.compile(r"Scan ExistingRDD|BatchEvalPython|ArrowEvalPython|MapInArrow")
_DIM = re.compile(r"_?dim_")


def metric_names() -> list[str]:
    names = ["jvm.jit_s", "jvm.gc_s", "sources.calls", "sources.jobs", "plan.python_nodes",
             "keys.jobs", "keys.memo_misses", "warehouse.build_s", "warehouse.jobs",
             "warehouse.dim_builds", "materialize.write_s", "materialize.write_tasks",
             "materialize.max_task_share", "materialize.files", "analytics.build_s",
             "analytics.exec_s", "analytics.jobs_per_query", "components.jobs",
             "corpus.kept_ratio"]
    names += [f"{layer}.self_s" for layer in SELF_LAYERS]
    for step in CORPUS_STEPS:
        names += [f"corpus.{step}.build_s", f"corpus.{step}.exec_s", f"corpus.{step}.rows_out"]
    names += [f"exec.{k}" for k in EXEC_KEYS]
    names += [f"cold.{n}" for n in COLD]
    names += ["trace.coverage", "trace.pass_s", "trace.overhead_s"]
    return names


def python_nodes(frames: list) -> int:
    """Python-worker plan nodes in the physical plans of ``frames``."""
    n = 0
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        n += len(_PY_NODES.findall(plan))
    return n


def pass_metrics(
    spans: list[Span],
    jobs: dict[int, dict],
    info: dict,
    docs_in: int,
    memo_misses: int,
) -> dict[str, float]:
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent in by_id:
            kids[s.parent].append(s)

    def subtree_jobs(s: Span) -> list[int]:
        out = list(s.jobs)
        for c in kids[s.id]:
            out += subtree_jobs(c)
        return out

    def outermost(layer: str, pred=lambda s: True) -> list[Span]:
        """Spans of ``layer`` with no ancestor of the same layer."""
        res = []
        for s in spans:
            if s.layer != layer or not pred(s):
                continue
            p = by_id.get(s.parent)
            while p is not None and p.layer != layer:
                p = by_id.get(p.parent)
            if p is None:
                res.append(s)
        return res

    def dur(ss) -> float:
        return sum(s.end - s.start for s in ss)

    def nj(ss) -> int:
        return sum(len(s.jobs) for s in ss)

    def exec_sum(job_ids, key) -> float:
        return sum(jobs[j][key] for j in job_ids if j in jobs)

    def of(layer: str) -> list[Span]:
        return [s for s in spans if s.layer == layer]

    selfs = self_times(spans)
    ops = of("bench")
    all_jobs = [j for s in spans for j in s.jobs]
    m: dict[str, float] = {}
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = sum(selfs[s.id] for s in of(layer))
    m["jvm.jit_s"] = sum(s.jit1 - s.jit0 for s in ops)
    m["jvm.gc_s"] = sum(s.gc1 - s.gc0 for s in ops)

    m["sources.calls"] = len(of("sources"))
    m["sources.jobs"] = nj(of("sources"))
    frames = {id(s.returned): s.returned for s in of("sources") if hasattr(s.returned, "_jdf")}
    m["plan.python_nodes"] = python_nodes(list(frames.values()))
    m["keys.jobs"] = nj(of("keys"))
    m["keys.memo_misses"] = memo_misses

    m["warehouse.build_s"] = dur(outermost("warehouse"))
    m["warehouse.jobs"] = nj(of("warehouse"))
    m["warehouse.dim_builds"] = len(
        [s for s in of("warehouse")
         if _DIM.match(s.name) and not _DIM.match(by_id[s.parent].name if s.parent in by_id else "")]
    )

    writes = [s for s in of("materialize") if s.name.startswith("write")]
    m["materialize.write_s"] = dur(writes)
    m["materialize.write_tasks"] = exec_sum([j for w in writes for j in subtree_jobs(w)], "tasks")
    fact_tasks = [
        r for w in writes if w.name.endswith("fact_spending")
        for j in subtree_jobs(w) if j in jobs for r in jobs[j]["task_records_written"]
    ]
    m["materialize.max_task_share"] = max(fact_tasks) / sum(fact_tasks) if sum(fact_tasks) else 0.0
    m["materialize.files"] = sum(v.get("files", 0) for v in info.values())

    m["analytics.build_s"] = dur(outermost("analytics", lambda s: not s.name.startswith("exec:")))
    m["analytics.exec_s"] = dur(s for s in of("analytics") if s.name.startswith("exec:"))
    panels = [s for s in ops if s.name.removeprefix("op:") in DASHBOARD_QUERIES]
    m["analytics.jobs_per_query"] = (
        sum(len(subtree_jobs(s)) for s in panels) / len(panels) if panels else 0.0
    )

    m["components.jobs"] = len([j for s in outermost("components") for j in subtree_jobs(s)])
    for step in CORPUS_STEPS:
        m[f"corpus.{step}.build_s"] = dur(
            s for s in outermost("corpus") if s.name == step
        )
        m[f"corpus.{step}.exec_s"] = dur(s for s in of("corpus") if s.name == f"exec:{step}")
        m[f"corpus.{step}.rows_out"] = info.get(step, {}).get("rows_out", 0)
    clean = info.get("corpus_clean", {}).get("rows_out")
    m["corpus.kept_ratio"] = clean / docs_in if clean is not None else 0.0

    m["exec.jobs"] = len(all_jobs)
    for k in EXEC_KEYS[1:]:
        m[f"exec.{k}"] = exec_sum(all_jobs, k)

    wall = dur(ops)
    m["trace.pass_s"] = wall
    m["trace.coverage"] = (wall - m["bench.self_s"]) / wall if wall else 0.0
    return m


def summarize(cold: dict, warm: list[dict], untraced_warm_s: list[float]) -> dict[str, float]:
    """Per-layer metrics of a traced run: the median over traced warm
    passes, the cold pass's values as cold.*, the worst pass coverage,
    and the tracing overhead (traced minus untraced warm pass time)."""
    names = metric_names()
    out = {}
    for n in names:
        if n.startswith("cold."):
            out[n] = cold[n[5:]]
        elif n == "trace.coverage":
            out[n] = min(p[n] for p in [cold, *warm])
        elif n == "trace.overhead_s":
            out[n] = statistics.median(p["trace.pass_s"] for p in warm) - statistics.median(
                untraced_warm_s
            )
        else:
            out[n] = statistics.median(p[n] for p in warm)
    return out
