#!/usr/bin/env python3
"""Record the output digests the `families` workload checks against.

    python3 perfbench/record.py <full sf0.1 dir> <scratch dir>

Runs every query of the workload under the benchmark's own session
settings: twice into the digest sink (the digests must agree), once to
parquet. Then tools/check_correctness.py compares each parquet output
with its DuckDB oracle on the full sf0.1 tables (it registers all ten),
and only if every query passes are the digests written to
perfbench/digests.json.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    sf_dir, out = sys.argv[1], sys.argv[2]
    queries = run.FAMILY_QUERIES
    cp = build.build()
    with open(os.path.join(out, "record.log"), "w") as log:
        _, r = run.drive(cp, dict(mode="record", cores=run.nproc(),
                                     queries=",".join(queries),
                                     partitions=run.FAMILY_PARTITIONS,
                                     data=run.DATA, out=out), log)
    bad = [q for q in queries
           if "error" in r[q] or not r[q]["stable"]]
    if bad:
        sys.exit(f"failed or unstable: {bad}")
    oracle = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools",
                                      "check_correctness.py"),
         sf_dir, out] + queries)
    if oracle.returncode != 0:
        sys.exit("oracle check failed")
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump({q: r[q]["digest"] for q in sorted(queries)}, f,
                  indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
