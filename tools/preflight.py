"""Driver-emulation preflight: the oracle verdict for the first-50
verification window at sf0.01, on the oracle tools' local[8] session.

Usage: PYTHONPATH=. python tools/preflight.py   (ends "failures: N",
exit 1 when N > 0)
"""
import sys

import bench
from proyecto_final_de_big_data_spark.oracle import check
from proyecto_final_de_big_data_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def main() -> int:
    spark = bench.session("preflight-vanilla", cpus=8)
    fails = 0
    for i, (name, q) in enumerate(list(QUERIES.items())[:50], 1):
        r = check(spark, q, SF)
        fails += r["status"] in ("fail", "error")
        print(f"{i:3d} {name}: {r['status']} {r.get('detail', r.get('rows', ''))} ({r['sec']}s)")
    print("failures:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
