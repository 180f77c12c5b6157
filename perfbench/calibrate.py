"""Compare the generated inputs with a reference data directory.

    python3 perfbench/calibrate.py <reference-dir> [--seed 1]

The reference is a directory in the engine's input layout, such as the
sf0.1 data set `bench.py` reads.  For every table the generator writes,
prints the row count of both sides (the generated side after its 90 %
subset) and, per column, a short profile of each: min / mean / max and
distinct count for numbers and times, distinct count and largest share
for strings, word counts for document text and length for vectors.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.inputs import write_inputs  # noqa: E402


def profile(col: pa.ChunkedArray, name: str) -> str:
    t = col.type
    if name == "text":
        words = pc.list_value_length(pc.utf8_split_whitespace(col)).to_numpy()
        return f"words {words.min()}..{words.max()} mean {words.mean():.1f}"
    if pa.types.is_list(t):
        return f"dim {pc.list_value_length(col).to_numpy()[0]}"
    if pa.types.is_string(t):
        share = pc.value_counts(col).field("counts").to_numpy().max() / len(col)
        return f"distinct {pc.count_distinct(col).as_py()} top {share:.3f}"
    if pa.types.is_timestamp(t):
        mm = pc.min_max(col)
        return f"{mm['min'].as_py():%Y-%m-%d}..{mm['max'].as_py():%Y-%m-%d}"
    v = col.cast(pa.float64()).to_numpy()
    return f"{v.min():g}..{v.max():g} mean {v.mean():.4g} distinct {len(np.unique(v))}"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with tempfile.TemporaryDirectory() as gen:
        for table in write_inputs(args.seed, gen):
            ref = pq.read_table(os.path.join(args.reference, f"{table}.parquet"))
            out = pq.read_table(os.path.join(gen, f"{table}.parquet"))
            print(f"{table}: rows {ref.num_rows} reference, {out.num_rows} generated")
            for c in ref.column_names:
                print(f"  {c:16s} ref {profile(ref.column(c), c)}")
                print(f"  {'':16s} gen {profile(out.column(c), c)}")


if __name__ == "__main__":
    main()
