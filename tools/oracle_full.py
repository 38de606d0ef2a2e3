"""Full-catalog oracle attestation at the driver's correctness scale.

Runs EVERY registered query (not just the first-50 verification
window) through the oracle verdict at sf0.01, on the preflight's
local[8] session, and writes a judge-diffable JSON artifact, one entry
per query: ``{"status": "ok"|"rows_only"|"fail"|"error", "rows": n,
"detail": msg, "sec": t, "in_window": bool}`` plus a summary header.

Usage:  PYTHONPATH=. python tools/oracle_full.py [OUT.json]
"""
import json
import sys
import time

import bench
from proyecto_final_de_big_data_spark.oracle import check
from proyecto_final_de_big_data_spark.queries import QUERIES, _VERIFICATION_WINDOW

SF = "/root/testdata/sf0.01"


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "ORACLE_FULL.json"
    spark = bench.session("oracle-full-vanilla", cpus=8)
    results = {}
    t_start = time.time()
    for i, (name, q) in enumerate(QUERIES.items(), 1):
        entry = check(spark, q, SF)
        entry["in_window"] = i <= len(_VERIFICATION_WINDOW)
        results[name] = entry
        print(f"{i:3d} {name}: {entry['status']} ({entry['sec']}s)")

    statuses = [r["status"] for r in results.values()]
    fails = statuses.count("fail") + statuses.count("error")
    artifact = {
        "sf_dir": SF,
        "n_queries": len(results),
        "n_pass": statuses.count("ok"),
        "n_rows_only": statuses.count("rows_only"),
        "n_fail": fails,
        "total_sec": round(time.time() - t_start, 1),
        "queries": results,
    }
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(artifact, f, indent=1)
    print(f"failures: {fails}  -> {out_path}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
