"""The benchmark's two workloads.  Each is a closed loop with one
client (the driver thread) and reads only the seeded inputs.

warehouse_dashboard  pass = the paper's pipeline as its users run it:
                     `materialize.build_warehouse` into a fresh
                     directory, `read_warehouse` and a count of every
                     table (one operation), then the reference's three
                     dashboard panels in a seeded order, each collected
                     to the driver (one operation per panel).
corpus_curation      pass = the seven curation steps of `plans.corpus`,
                     in chain order, each collected to the driver; one
                     operation = one step.  Touches no warehouse code.

Every operation's output is compared with the DuckDB twin of the same
query (`ORACLE` in the engine's plan modules) on the same inputs.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
from dataclasses import dataclass

from perfbench.checks import Signature, signature
from perfbench.harness import Op, Verdict

WAREHOUSE_TABLES = (
    "dim_customer", "dim_account", "dim_location", "dim_merchant",
    "dim_date", "dim_date_daily", "fact_spending",
)
# the reference's three dashboard panels (scripts/dashboard.py)
DASHBOARD_QUERIES = ("spend_trend_monthly", "top_categories", "spend_by_tier")
CORPUS_STEPS = (
    "corpus_clean", "dedup_minhash_lsh", "dedup_edit_distance",
    "embedding_dedup", "quality_top_decile", "quality_mixture_sample",
    "pack_documents",
)


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    expected: dict[str, Signature]
    tracer: object = None

    def span(self, layer: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)


def oracle_queries(workload: str) -> dict[str, str]:
    from bank_transaction_data_warehouse_spark.plans import analytics as A
    from bank_transaction_data_warehouse_spark.plans import corpus as C
    from bank_transaction_data_warehouse_spark.plans import warehouse as WH

    if workload == "corpus_curation":
        return {n: C.ORACLE[n] for n in CORPUS_STEPS}
    return {
        **{n: WH.ORACLE[n] for n in WAREHOUSE_TABLES},
        **{n: A.ORACLE[n] for n in DASHBOARD_QUERIES},
    }


def _parquet_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]


def warehouse_dashboard(ctx: Ctx):
    from bank_transaction_data_warehouse_spark.plans import analytics as A
    from bank_transaction_data_warehouse_spark.plans import materialize as M

    def make_ops(i: int) -> list[Op]:
        order = list(DASHBOARD_QUERIES)
        random.Random(ctx.seed * 1_000_003 + i).shuffle(order)
        return [_etl_op(ctx, M, i)] + [
            _collect_op(ctx, A, "analytics", q, out_bytes=False) for q in order
        ]

    return make_ops


def _etl_op(ctx: Ctx, M, i: int) -> Op:
    """Build and load the star into a fresh directory, read it back and
    count every table; the check compares every table read back from
    disk (without the fact's `ym` partition column) with its twin."""
    out = os.path.join(ctx.work_dir, f"warehouse-{i}")

    def run():
        M.build_warehouse(ctx.spark, ctx.data_dir, out)
        tables = M.read_warehouse(ctx.spark, out)
        with ctx.span("materialize", "exec:count"):
            counts = {n: df.count() for n, df in tables.items()}
        return tables, counts

    def verify(value) -> Verdict:
        tables, counts = value
        try:
            ok = set(tables) == set(WAREHOUSE_TABLES)
            for name in WAREHOUSE_TABLES:
                sig = signature(tables[name].toArrow(), drop=("ym",))
                ok = ok and sig == ctx.expected[name] and counts[name] == sig.rows
            files = _parquet_files(out)
            return Verdict(ok, sum(os.path.getsize(f) for f in files), {"files": len(files)})
        finally:
            shutil.rmtree(out, ignore_errors=True)

    return Op("build_warehouse", run, verify)


def corpus_curation(ctx: Ctx):
    from bank_transaction_data_warehouse_spark.plans import corpus as C

    for step in CORPUS_STEPS:  # the registry and the module agree
        if C.QUERIES[step] is not getattr(C, step):
            raise RuntimeError(f"plans.corpus.QUERIES[{step!r}] is not {step}")

    def make_ops(i: int) -> list[Op]:
        return [_collect_op(ctx, C, "corpus", s, out_bytes=True) for s in CORPUS_STEPS]

    return make_ops


def _collect_op(ctx: Ctx, module, layer: str, name: str, out_bytes: bool) -> Op:
    """Build the query through the module attribute (so a traced run
    sees the call), collect it to the driver, check it.  With
    ``out_bytes`` the collected result's Arrow size counts as output."""

    def run():
        df = getattr(module, name)(ctx.spark, ctx.data_dir)
        with ctx.span(layer, f"exec:{name}"):
            return df.toArrow()

    def verify(table) -> Verdict:
        # plans that persist() a shared frame leave it cached; release it
        # so the session never accumulates (as bench.py does)
        ctx.spark.catalog.clearCache()
        ok = signature(table) == ctx.expected[name]
        return Verdict(ok, table.nbytes if out_bytes else 0, {"rows_out": table.num_rows})

    return Op(name, run, verify)


WORKLOADS = {
    "warehouse_dashboard": warehouse_dashboard,
    "corpus_curation": corpus_curation,
}
