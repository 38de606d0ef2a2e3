#!/usr/bin/env python
"""Targeted oracle check: the oracle verdict for named registered
queries at a given SF dir, on the preflight's local[8] session.
Rows-only queries (oracle=None) are counted, not compared.

Usage: PYTHONPATH=. python tools/oracle_check.py [--sf-dir DIR] q [q ...]
"""
from __future__ import annotations

import argparse
import sys

import bench
from proyecto_final_de_big_data_spark.oracle import check
from proyecto_final_de_big_data_spark.queries import QUERIES


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    spark = bench.session("oracle-check", cpus=8)
    fails = 0
    for name in args.queries:
        r = check(spark, QUERIES[name], args.sf_dir)
        fails += r["status"] in ("fail", "error")
        print(f"{name}: {r['status']} {r.get('detail', r.get('rows', ''))} ({r['sec']}s)")
    print("failures:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
