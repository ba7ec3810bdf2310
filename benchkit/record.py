#!/usr/bin/env python3
"""Records the expected answers in benchkit/expected.json.

Usage (from the root of the repository): python3 benchkit/record.py

For `catalog-write` it dumps the query results with graft.Verify,
validates them with the DuckDB oracle (tools/check_oracle.py, the same gate
the catalog is held to), runs them again through the benchmark's own write
path (graftbench.Record) and requires the same digests, and only then
stores the digests and the input rows each query scans. Run it again only when the catalog's answers or the
generated tables change on purpose.
"""
import json
import os
import shutil
import subprocess
import sys

import run

OUT = os.path.join(run.BUILD, "record")


def main():
    classpath = run.build()
    cfg = run.WORKLOADS["catalog-write"]
    data = run.data_dir(cfg["sf"])
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    names = ",".join(cfg["queries"])
    java = run.java_cmd(classpath, "-", "-", 0)[:-4]
    env = dict(os.environ, SPARK_GRAFT_ONLY=names, SPARK_GRAFT_CPUS="2")
    subprocess.run(java + ["graft.Verify", data, OUT], env=env, check=True, cwd=OUT,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    gate = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                           data, OUT], capture_output=True, text=True)
    print(gate.stdout.splitlines()[-1])
    if gate.returncode != 0 or " 0 fail" not in gate.stdout:
        sys.exit(gate.stdout)
    live = os.path.join(run.BUILD, "record-live")
    shutil.rmtree(live, ignore_errors=True)
    rec = os.path.join(OUT, "record.json")
    subprocess.run(java + ["graftbench.Record", data, live, rec, names], check=True, cwd=OUT,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(rec) as f:
        got = json.load(f)
    for q in got:
        checked = run.check.parquet_digest(os.path.join(OUT, q))
        written = run.check.parquet_digest(os.path.join(live, q))
        if written != checked:
            sys.exit(f"{q}: the benchmark's write path gives {written}, the checked output {checked}")
        got[q]["digest"] = checked
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({"catalog-write": got}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
