#!/usr/bin/env python
"""Print registered queries' formatted physical plans and the verdict on
each plan claim the query declares (``register(..., claims=...)``).
With no names, every query that declares claims. Exits 1 if any claim
fails; writes no file. Run from the repo root:

    PYTHONPATH=. python tools/plan_audit.py [query ...] 2>/dev/null
"""

from __future__ import annotations

import os
import sys

import bench
from proyecto_final_de_big_data_spark.queries import QUERIES
from proyecto_final_de_big_data_spark.utils.plans import plan_text


def main() -> int:
    names = sys.argv[1:] or [n for n, q in QUERIES.items() if q.claims]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = bench.session("plan-audit", cpus=4)
    failed = 0
    for name in names:
        q = QUERIES[name]
        text = plan_text(q.spark_fn(spark, sf_dir))
        print(f"## {name}\n\n{text.rstrip()}\n")
        for claim in q.claims:
            miss = claim.miss(text)
            failed += miss is not None
            print(f"{'FAIL' if miss else 'ok  '} {claim!r}" + (f": {miss}" if miss else ""))
        print(flush=True)
    print(f"{len(names)} plans, {failed} failed claims at {sf_dir}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
