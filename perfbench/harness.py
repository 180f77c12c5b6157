"""Closed-loop pass runner and the end-to-end metrics it yields.

A workload is a list of operations per pass.  One client (the driver
thread) runs them back to back; each operation is timed alone, and its
output is checked right after, outside the timed region.  The first
pass of a process is the cold pass.  Warm passes then run until the
window has lasted ``seconds`` and holds at least ``min_warm`` passes.
"""

from __future__ import annotations

import contextlib
import statistics
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any, NamedTuple


class Verdict(NamedTuple):
    ok: bool
    out_bytes: int
    info: dict  # per-operation facts for the trace (rows out, files)


class Op(NamedTuple):
    name: str
    run: Callable[[], Any]  # the timed call
    verify: Callable[[Any], Verdict]  # untimed: check the output, release it


@dataclass
class PassResult:
    index: int
    traced: bool
    op_names: list[str] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    out_bytes: int = 0
    failed: int = 0
    info: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return sum(self.op_s)


def run_pass(index: int, ops: list[Op], tracer=None) -> PassResult:
    """Run one pass; with a ``tracer``, each operation is a span."""
    res = PassResult(index, tracer is not None)
    for op in ops:
        span = tracer.span("bench", f"op:{op.name}") if tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                value = op.run()
            dt = time.perf_counter() - t0
            verdict = op.verify(value)
        except Exception:  # a failed operation is counted, not fatal
            dt = time.perf_counter() - t0
            traceback.print_exc()
            verdict = Verdict(False, 0, {})
        if not verdict.ok:
            print(f"FAILED pass {index} op {op.name}", flush=True)
            res.failed += 1
        res.op_names.append(op.name)
        res.op_s.append(dt)
        res.out_bytes += verdict.out_bytes
        res.info[op.name] = verdict.info
    return res


def measure(
    make_ops: Callable[[int], list[Op]],
    seconds: float,
    min_warm: int,
    tracer=None,
    trace_plan: Callable[[int], bool] = lambda i: False,
    after_pass: Callable[[PassResult], None] = lambda p: None,
) -> list[PassResult]:
    """Run the cold pass, then warm passes for the window.  With a
    tracer, ``trace_plan(i)`` says whether pass ``i`` is traced."""
    passes = []

    def one(i: int) -> None:
        traced = tracer is not None and trace_plan(i)
        if traced:
            tracer.enable()
        p = run_pass(i, make_ops(i), tracer if traced else None)
        if traced:
            tracer.disable()
        after_pass(p)
        passes.append(p)

    one(0)
    start = time.perf_counter()
    while len(passes) - 1 < min_warm or time.perf_counter() - start < seconds:
        one(len(passes))
    return passes


def end_to_end(setup_s: float, passes: list[PassResult]) -> dict[str, float]:
    cold, warm = passes[0], passes[1:]
    return {
        "setup_s": setup_s,
        "cold_s": cold.wall_s,
        "warm_s": statistics.median(p.wall_s for p in warm),
        "op_p50_s": statistics.median(t for p in warm for t in p.op_s),
        "out_mb": statistics.median(p.out_bytes for p in passes) / 1e6,
    }
