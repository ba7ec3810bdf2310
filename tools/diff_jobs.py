#!/usr/bin/env python3
"""Compare the per-query job counts of two `graft.Bench` logs.

Usage: python3 tools/diff_jobs.py BASE_LOG NEW_LOG

Each log is Bench's captured output (stdout and stderr, sbt prefixes and
all). Bench prints one `{"q": ..., "jobs": ...}` line per query; its counts
come from the last pass, so run both sides with the same
`SPARK_GRAFT_REPS`, scale and cores, e.g.
`SPARK_GRAFT_CPUS=2 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 SPARK_GRAFT_REPS=2`.
Prints every query whose count changed with its delta, then both totals.
Exits 1 when any query's job count rose or a query appears in one log
only, else 0.
"""
import json
import sys


def jobs(path: str) -> dict:
    counts = {}
    for line in open(path, errors="replace"):
        start = line.find('{"q":')
        if start < 0:
            continue
        rec = json.loads(line[start:])
        counts[rec["q"]] = rec["jobs"]
    return counts


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    base, new = jobs(sys.argv[1]), jobs(sys.argv[2])
    rose, only = [], []
    for q in sorted(set(base) | set(new)):
        if q not in base or q not in new:
            only.append(q)
            side = "base" if q in base else "new"
            print(f"{q:<28} only in {side}")
            continue
        delta = new[q] - base[q]
        if delta:
            print(f"{q:<28} {base[q]:>4} -> {new[q]:>4}  {delta:+d}")
        if delta > 0:
            rose.append(q)
    print(f"total jobs: base {sum(base.values())} ({len(base)} queries), "
          f"new {sum(new.values())} ({len(new)} queries)")
    if rose:
        print(f"job count rose: {', '.join(rose)}")
    if only:
        print(f"in one log only: {', '.join(only)}")
    return 1 if rose or only else 0


if __name__ == "__main__":
    sys.exit(main())
