"""Tests of the benchmark's own machinery; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

from perfbench import harness, layers
from perfbench.checks import signature
from perfbench.harness import Op, Verdict
from perfbench.inputs import write_inputs
from perfbench.run import E2E_UNITS, layer_unit
from perfbench.trace import Span, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _read_all(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    rows_a = write_inputs(11, str(tmp_path / "a"))
    rows_b = write_inputs(11, str(tmp_path / "b"))
    write_inputs(12, str(tmp_path / "c"))
    a, b, c = (_read_all(str(tmp_path / x)) for x in "abc")
    assert rows_a == rows_b
    assert a == b
    assert a.keys() == c.keys() and a["lineitem.parquet"] != c["lineitem.parquet"]


def _span(i, parent, start, end, layer="x"):
    return Span(i, layer, f"s{i}", parent, start, end)


def test_self_time_subtracts_covered_child_time():
    #  0 [0, 10]
    #  +- 1 [1, 4]   +- 3 [2, 3]
    #  +- 2 [6, 9]
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 6.0, 9.0),
        _span(3, 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 5.0), _span(2, 0, 3.0, 12.0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_signature_is_order_insensitive_and_value_sensitive():
    t = pa.table({"b": [1.0, 2.5, None], "a": ["x", "y", "z"], "ym": [1, 1, 2]})
    shuffled = t.take([2, 0, 1]).select(["a", "ym", "b"])
    assert signature(t) == signature(shuffled)
    assert signature(t, drop=("ym",)) == signature(t.drop(["ym"]))
    wrong = t.set_column(0, "b", pa.array([1.0, 2.5, 3.0]))
    assert signature(wrong) != signature(t)
    # engines may differ in the last bits of a float, and in int vs float
    ulp = t.set_column(0, "b", pa.array([1.0 + 2**-52, 2.5, None]))
    assert signature(ulp) == signature(t)
    as_float = t.set_column(2, "ym", pa.array([1.0, 1.0, 2.0]))
    assert signature(as_float) == signature(t)


def _fake_ops(wrong_at: int | None = None, raise_at: int | None = None):
    good = pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    expected = signature(good)

    def make_ops(i):
        ops = []
        for j in range(3):
            def run(j=j):
                if j == raise_at and i == 1:
                    raise RuntimeError("boom")
                if j == wrong_at and i == 1:
                    return good.set_column(1, "v", pa.array([0.5, 1.5, 2.6]))
                return good

            ops.append(Op(f"op{j}", run, lambda t: Verdict(signature(t) == expected, t.nbytes, {})))
        return ops

    return make_ops


def _failed_frac(passes):
    return sum(p.failed for p in passes) / sum(len(p.op_s) for p in passes)


def test_wrong_output_raises_failed_frac(capsys):
    assert _failed_frac(harness.measure(_fake_ops(), 0, 2)) == 0
    passes = harness.measure(_fake_ops(wrong_at=1), 0, 2)
    assert _failed_frac(passes) == pytest.approx(1 / 9)
    passes = harness.measure(_fake_ops(raise_at=0), 0, 2)
    assert _failed_frac(passes) == pytest.approx(1 / 9)
    assert "FAILED pass 1 op op0" in capsys.readouterr().out


def test_end_to_end_names_and_units_match_benchmark_json():
    passes = harness.measure(_fake_ops(), 0, 2)
    values = harness.end_to_end(5.0, passes)
    declared = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {n: E2E_UNITS[n] for n in values} == declared


def test_layer_names_and_units_match_benchmark_json():
    spans = [
        Span(0, "bench", "op:corpus_clean", None, 0.0, 4.0),
        Span(1, "corpus", "corpus_clean", 0, 0.1, 2.0),
        Span(2, "sources", "load_table", 1, 0.2, 0.3),
        Span(3, "corpus", "exec:corpus_clean", 0, 2.0, 3.9, jobs=[7]),
    ]
    job = {k: 1.0 for k in layers.EXEC_KEYS[1:]}
    job["task_records_written"] = []
    m = layers.pass_metrics(spans, {7: job}, {"corpus_clean": {"rows_out": 9}}, 10, 0)
    assert m["trace.coverage"] == pytest.approx(3.8 / 4.0)
    assert m["corpus.kept_ratio"] == pytest.approx(0.9)
    assert m["exec.jobs"] == 1 and m["exec.run_s"] == 1.0
    values = layers.summarize(m, [m, m], [3.5, 3.7])
    assert values["trace.overhead_s"] == pytest.approx(0.4)
    declared = {x["name"]: x["unit"] for x in BENCH["per_layer"]}
    assert {n: layer_unit(n) for n in values} == declared


def test_run_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    cmd = BENCH["command"] + ["--workload", BENCH["workloads"][0]["name"],
                              "--seed", "1", "--seconds", "1", "--trace", "0"]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    r = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0 and '"correct"' not in r.stdout
