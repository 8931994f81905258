#!/usr/bin/env python3
"""Tests of the benchmark itself: two traced runs on one seed must report
the same listener-, codegen-, filesystem- and stub-derived counts, pass
their output checks, and upsert each streamable camera exactly once.

Run from the root of a checkout (takes a few minutes per workload):

    python3 repobench/test_repeat.py [query_mix] [table_churn]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ["scheduler.jobs", "codegen.compiles", "tables.fs_write_ops", "stub.device_pages",
         "stub.lease_pages", "stub.patch", "stub.post", "stub.submit_bytes"]


def traced(workload, seed):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "5", "--trace", "1"],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    workloads = sys.argv[1:] or ["query_mix", "table_churn"]
    failures = []
    for w in workloads:
        a, b = traced(w, 7), traced(w, 7)
        for r in (a, b):
            if not r["correct"] or r["failed"]:
                failures.append(f"{w}: run not correct ({r['failed']} failed ops)")
            if w == "query_mix" and r["metrics"]["verkada.upserts_per_streamable"]["value"] != 1.0:
                failures.append(f"{w}: upserts_per_streamable != 1.0")
        for k in EXACT:
            va, vb = a["metrics"][k]["value"], b["metrics"][k]["value"]
            status = "ok" if va == vb else "DIFFERS"
            print(f"{w:12s} {k:24s} {va:>14} {vb:>14} {status}")
            if va != vb:
                failures.append(f"{w}: {k} {va} != {vb}")
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
