"""Seeded input tables for the benchmark.

The engine reads a directory of one-parquet-file-per-table inputs
(`sources/tables.py`).  This module writes such a directory from a seed
alone: the same seed gives byte-identical files.  Row counts, value
ranges and distributions are those of the engine's sf0.1 data set (a
TPC-H-like star plus an event stream, a text corpus with planted
near-duplicates and unit embedding vectors); `calibrate.py` prints the
two side by side.  Only the tables the two workloads read are written.

Each file is one row group, like the engine's test data, so the
engine's input-split heuristics (`spread_scan`) see the same layout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated tables before the seeded 90 % subset of
# four of them: those of the engine's sf0.1 data set, which bench.py
# reads and the engine's partition widths are tuned for.
SIZES = {
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
# Tables cut to a seed-keyed subset of exactly SUBSET_KEEP of their rows,
# so seeds differ in keys as well as in values but not in table sizes.
# The cleaning step drops the orphans this leaves.
SUBSET_TABLES = ("lineitem", "orders", "documents", "embeddings")
SUBSET_KEEP = 0.9

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
# "ring".."plate" hit the merchant fallback rules; "cable" falls to Other
PART_NOUN = ["ring", "widget", "gear", "bolt", "rod", "anvil", "plate", "cable"]
# MEDIUM is not in the MCC lookup, so the keyword fallback is exercised
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a the data spark table column row key value join group agg filter "
    "scan sort hash merge window stream batch query order line part "
    "customer vector fast slow big small"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
DUP_SHARE = 0.05
EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All input tables for ``seed``; a pure function of the seed."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(N_NATIONS)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": _keys(n["customer"]),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    adj = rng.choice(PART_ADJ, n["part"])
    noun = rng.choice(PART_NOUN, n["part"])
    t["part"] = pa.table({
        "p_partkey": _keys(n["part"]),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": _keys(n["orders"]),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["O", "F", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, 1000, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": _money(rng, 0.0, 0.1, nl),
        "l_tax": _money(rng, 0.0, 0.08, nl),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        # independent of the order date, so the clean step's
        # ship-after-open rule rejects about half the rows
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": _keys(ne),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": _keys(nv),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })

    for name in SUBSET_TABLES:
        n_rows = t[name].num_rows
        keep = np.sort(rng.choice(n_rows, int(n_rows * SUBSET_KEEP), replace=False))
        t[name] = t[name].take(pa.array(keep))
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Docs of 10-99 words over a small vocabulary; DUP_SHARE of them
    are another doc's text plus one token (planted near-duplicates)."""
    lengths = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": _keys(n),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def write_inputs(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table for ``seed`` under ``out_dir`` as
    ``<name>.parquet``; returns table -> row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
        rows[name] = table.num_rows
    return rows
