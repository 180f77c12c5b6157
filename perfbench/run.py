"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload warehouse_dashboard --seed 1 --seconds 5 --trace 0

Writes the seed's inputs under a temp directory inside the checkout,
computes the expected outputs with the DuckDB twins, starts the Spark
session on local[<usable cores>], then runs the cold pass and the warm
window (see harness.py).  Every operation's output is checked.

stdout: one detail line (seed, input rows, per-pass times, failures
and, when traced, the span file), then the result line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1).  Exits non-zero without a result line when the
engine is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "bank_transaction_data_warehouse_spark"
SCRATCH = ".perfbench_tmp"  # under the checkout root; removed per run
TRACES = ".perfbench_traces"  # span dumps of traced runs
# One warm pass in an untraced run: a run must fit the benchmark's time
# budget (see README.md), and a second warm pass would cost 9-13 s.
MIN_WARM = 1
# Traced runs: the cold pass is traced; warm pass 1 is an untraced
# settling pass (the JIT is still busy: it is the slowest warm pass);
# pass 2 is traced and pass 3 untraced, and the tracing overhead is
# their difference.  Passes past 3 (a longer --seconds) go T U U T ...,
# so a linear pass-to-pass drift cancels out of the overhead.
MIN_WARM_TRACED = 3
E2E_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "op_p50_s": "s",
    "out_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "_ratio", ".coverage")):
        return "ratio"
    return "count"


def _traced_pass(i: int) -> bool:
    return i == 0 or (i >= 2 and i % 4 in (1, 2))


def _hygiene_env(tmp: str, cpus: int) -> None:
    """Keep every file a run writes under ``tmp`` and the task threads
    at the usable core count; silence the console progress bar."""
    for d in ("tmp", "spark-local", "spark-warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp}/tmp -Dderby.system.home={tmp}"
    os.environ.update({
        "TMPDIR": os.path.join(tmp, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "BTDW_WAREHOUSE_DIR": os.path.join(tmp, "spark-warehouse"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]),
    })


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)

    from perfbench import harness, layers
    from perfbench.checks import oracle_signatures
    from perfbench.inputs import write_inputs
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx, oracle_queries

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, SCRATCH, f"{args.workload}-{args.seed}-{os.getpid()}")
    _hygiene_env(tmp, cpus)
    data_dir = os.path.join(tmp, "inputs")
    spark = None
    layer_passes: dict[int, dict] = {}
    trace_file = None
    try:
        rows = write_inputs(args.seed, data_dir)
        expected = oracle_signatures(data_dir, list(rows), oracle_queries(args.workload), cpus)
        prep_s = time.perf_counter() - T0

        t0 = time.perf_counter()
        from bank_transaction_data_warehouse_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")

        tracer = Tracer(spark) if args.trace else None
        if tracer is not None:
            tracer.record_setup(t0, t0 + setup_s)
        ctx = Ctx(spark, data_dir, os.path.join(tmp, "work"), args.seed, expected, tracer)
        make_ops = WORKLOADS[args.workload](ctx)
        after_pass = lambda p: None  # noqa: E731
        if tracer is not None:
            from bank_transaction_data_warehouse_spark.operators import keys

            state = {"span": len(tracer.spans), "job": 0, "memo": len(keys._STATS_MEMO)}

            def after_pass(p: harness.PassResult) -> None:
                spans = tracer.spans[state["span"]:]
                state["span"] = len(tracer.spans)
                state["job"] = tracer.attach_jobs(spans, state["job"])
                memo = len(keys._STATS_MEMO)
                misses, state["memo"] = memo - state["memo"], memo
                if p.traced:
                    jobs = tracer.stage_metrics([j for s in spans for j in s.jobs])
                    layer_passes[p.index] = layers.pass_metrics(
                        spans, jobs, p.info, rows["documents"], misses
                    )
                for s in spans:
                    s.returned = None  # release the pass's plans

        passes = harness.measure(
            make_ops,
            args.seconds,
            MIN_WARM_TRACED if tracer else MIN_WARM,
            tracer,
            _traced_pass,
            after_pass,
        )
        if tracer is not None:
            os.makedirs(os.path.join(ROOT, TRACES), exist_ok=True)
            trace_file = os.path.join(ROOT, TRACES, f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_file)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.isdir(os.path.join(ROOT, SCRATCH)) and not os.listdir(os.path.join(ROOT, SCRATCH)):
            os.rmdir(os.path.join(ROOT, SCRATCH))

    attempted = sum(len(p.op_s) for p in passes)
    failed = sum(p.failed for p in passes)
    warm_ops = [t for p in passes[1:] for t in p.op_s]
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "input_rows": rows,
        "prep_s": round(prep_s, 3),
        "setup_s": round(setup_s, 3),
        "run_s": round(time.perf_counter() - T0, 3),
        "failed_frac": failed / attempted,
        "warm_ops": len(warm_ops),
        "passes": [
            {"traced": p.traced, "wall_s": round(p.wall_s, 4),
             "ops": {n: round(t, 4) for n, t in zip(p.op_names, p.op_s)}}
            for p in passes
        ],
        "trace_file": trace_file,
    }))
    if args.trace:
        cold = layer_passes[0]
        warm = [layer_passes[p.index] for p in passes[1:] if p.traced]
        untraced = [p.wall_s for p in passes[2:] if not p.traced]
        values = layers.summarize(cold, warm, untraced)
        metrics = {n: {"value": v, "unit": layer_unit(n)} for n, v in values.items()}
    else:
        values = harness.end_to_end(setup_s, passes)
        metrics = {n: {"value": v, "unit": E2E_UNITS[n]} for n, v in values.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
