#!/usr/bin/env python3
"""Diff two directories of per-query plans written by `tools/split_plans.py`.

Usage: python3 tools/diff_plans.py BASE_DIR NEW_DIR [query ...]

Each directory holds `<query>_<suffix>.txt` files (any one suffix per
directory). Expression and plan ids (`#123`, `[id=#123]`, `plan_id=123`,
`subquery#123`), RDD ids and their source lines (`MapPartitionsRDD[566] at
localCheckpoint at X.scala:559`), lambda class names and addresses,
timestamped Spark log lines and sbt's `Total time` line differ between any
two runs or revisions, so they are stripped before comparing.
Prints a unified diff for each query whose plan differs and a one-line
summary; exits 1 when any plan differs or a named query is missing from
either side, else 0. With no query names, every query found in either
directory is compared.
"""
import difflib
import os
import re
import sys

_LOG_LINE = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d |Total time: )")
_VOLATILE = [
    (re.compile(r"\$Lambda\$[\w/$]+@[0-9a-f]+"), "$Lambda$"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\.scala:\d+"), ".scala:"),
    (re.compile(r"\[id=#\d+\]"), "[id=#]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"subquery#\d+"), "subquery#"),
    (re.compile(r"#\d+"), "#"),
]


def load(directory: str) -> dict:
    plans = {}
    for name in sorted(os.listdir(directory)):
        if name.endswith(".txt"):
            query = name[: -len(".txt")].rsplit("_", 1)[0]
            plans[query] = os.path.join(directory, name)
    return plans


def normalized(path: str) -> list:
    lines = []
    for line in open(path, errors="replace"):
        if _LOG_LINE.match(line):
            continue
        for pattern, repl in _VOLATILE:
            line = pattern.sub(repl, line)
        lines.append(line)
    return lines


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    base, new = load(sys.argv[1]), load(sys.argv[2])
    queries = sys.argv[3:] or sorted(set(base) | set(new))
    differ = []
    for q in queries:
        if q not in base or q not in new:
            side = sys.argv[1] if q not in base else sys.argv[2]
            print(f"== {q}: missing from {side}")
            differ.append(q)
            continue
        diff = list(difflib.unified_diff(
            normalized(base[q]), normalized(new[q]),
            fromfile=base[q], tofile=new[q]))
        if diff:
            print(f"== {q}: differs")
            sys.stdout.writelines(diff)
            differ.append(q)
    same = len(queries) - len(differ)
    print(f"{same} identical, {len(differ)} differ"
          + (f": {' '.join(differ)}" if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
