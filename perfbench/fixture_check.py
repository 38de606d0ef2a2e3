#!/usr/bin/env python3
"""Compare the generated star schema with a fixture directory.

    python3 perfbench/fixture_check.py <fixture dir, e.g. .../sf0.001> [--sf 0.001] [--seed 1]

For every table it prints whether the row count and the schema match,
then per column: min, max, mean and distinct count for numbers, the
distinct count for strings and the range for timestamps, generated
value first. Exits 1 when a table's row count or schema differs.
"""

from __future__ import annotations

import argparse
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen


def profile(col: pa.ChunkedArray) -> str:
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        return f"[{pc.min(col).as_py()}, {pc.max(col).as_py()}] mean {pc.mean(col).as_py():.4g} nd {pc.count_distinct(col).as_py()}"
    if pa.types.is_string(t):
        return f"nd {pc.count_distinct(col).as_py()}"
    if pa.types.is_timestamp(t):
        return f"[{pc.min(col).as_py()}, {pc.max(col).as_py()}]"
    return str(t)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("fixture_dir")
    p.add_argument("--sf", type=float, default=0.001)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    same = True
    for name, gen in datagen.star_tables(args.seed, args.sf).items():
        fix = pq.read_table(os.path.join(args.fixture_dir, f"{name}.parquet"))
        rows_ok, schema_ok = gen.num_rows == fix.num_rows, gen.schema.equals(fix.schema)
        same &= rows_ok and schema_ok
        print(f"{name}: rows {gen.num_rows} / {fix.num_rows} {'ok' if rows_ok else 'DIFFER'}, schema {'ok' if schema_ok else 'DIFFERS'}")
        for c in fix.column_names:
            if c in gen.column_names:
                print(f"  {c:16s} {profile(gen[c])}  |  {profile(fix[c])}")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
