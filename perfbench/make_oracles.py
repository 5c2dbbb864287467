#!/usr/bin/env python3
"""Remake perfbench/oracles.json: the canonical digest of every register
row's DuckDB oracle (SparkEntry.oracleSql) over the inputs the row reads.

    python3 perfbench/make_oracles.py

The harness stages curate_llm's inputs (--stage-only) exactly as a run
does and writes the oracle SQL next to them; DuckDB then evaluates each
oracle over those tables. Run it again whenever an input, a row or
its oracle SQL changes.
"""
import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import run  # noqa: E402


def main():
    workload = "curate_llm"
    classpath = run.build()
    work = run.fresh_dir(os.path.join(run.BUILD_DIR, "oracles", workload))
    args = argparse.Namespace(workload=workload, seed=0, seconds=0, trace=0)
    if run.run_jvm(classpath, args, work, time.time() + 600, extra=["--stage-only"]) is None:
        sys.exit(f"staging {workload} failed")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        spec = json.load(f)
    con = check.connect(spec["query_dir"])
    rows = {}
    for q, sql in sorted(spec["oracle_sql"].items()):
        if not sql:
            sys.exit(f"{q} has no oracle SQL")
        rows[q] = check.canon(con.execute(sql).fetchdf())
        print(f"{workload} {q}: {rows[q]['rows']} rows", file=sys.stderr)
    out = {workload: {"inputs": check.input_digest(spec["query_dir"]), "rows": rows}}
    with open(check.ORACLES, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
