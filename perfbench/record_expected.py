#!/usr/bin/env python3
"""Record the expected fingerprints of the query workloads.

    python3 perfbench/record_expected.py

Run from the repository root. Runs every declared ``rel_``, ``bpi_``,
``text_`` and ``stream_`` query (the families the query workload draws
from) over the benchmark's tables, once cold and once warm, and writes ``perfbench/expected_fingerprints.json``:
``{name: {"fp", "rows", "oracle"}}``. A query that fails, or whose two
fingerprints differ, is reported and left out.

Record only from an engine whose results the repository's DuckDB oracle
accepts on these tables (``graft.Verify`` over ``.bench_build/data`` then
``tools/local_check.py``).
"""
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402
import run  # noqa: E402


def main():
    os.makedirs(run.BUILD, exist_ok=True)
    cp = run.build()
    work = os.path.abspath(os.path.join(run.BUILD, "record"))
    os.makedirs(work, exist_ok=True)
    listing = subprocess.run(
        run.java_cmd(cp, work) + ["perfbench.ListQueries"], capture_output=True, text=True,
        check=True)
    names = [n for n in listing.stdout.split() if n.startswith(("rel_", "bpi_", "text_", "stream_"))]
    queries = os.path.join(work, "queries.txt")
    with open(queries, "w") as f:
        f.write("\n".join(names) + "\n")
    out = run.run_harness(cp, "record", work, 0,
                          ["--queries", queries, "--data", run.tables(bench.TABLES_SF)],
                          time.monotonic() + 3600)
    cold, warm = out["passes"]
    expected = {}
    for c, w in zip(cold["queries"], warm["queries"]):
        if "error" in c or "error" in w:
            print(f"{c['name']}: failed: {c.get('error') or w.get('error')}")
        elif c["fp"] != w["fp"]:
            print(f"{c['name']}: unstable fingerprint {c['fp']} vs {w['fp']}")
        else:
            expected[c["name"]] = {"fp": c["fp"], "rows": c["rows"],
                                   "oracle": out["oracle"][c["name"]]}
    path = os.path.join(bench.HERE, "expected_fingerprints.json")
    with open(path, "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")
    print(f"{len(expected)} of {len(names)} queries recorded in {path}")


if __name__ == "__main__":
    main()
