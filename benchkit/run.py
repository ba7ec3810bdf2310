#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one fresh JVM, one result.

Usage (from the root of a checkout):
  python3 benchkit/run.py --workload catalog-write|stream-stateful \
      --seed N --seconds S --trace 0|1

The first run builds the engine and the harness with sbt and generates the
input tables; later runs reuse both while the sources are unchanged. Every
op's answer is checked. The last stdout line is the JSON result; the line
before it holds the run's host context and its wall-clock figures, neither of
which is folded into a metric.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import host  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
HEAP = "2g"

# Every family at sf0.01, fixture-backed queries included, each result
# written as parquet the way graft.Verify writes it.
CATALOG = [
    "q1_pricing_summary", "s6_scd2_intervals", "p4_filter_dateband", "j3_semi_segment",
    "a2_capacity_ledger", "a8_approx_distinct", "x10_group_regression", "w1_hourly_rollup",
    "r2_cube_orders", "t12_pii_redact", "d6_dup_clusters", "c2_chunking", "e2_knn_ivf",
    "m1_payload_meta",
]

# Batch: scale, query list, untimed warm passes (fixed from the measured
# pass-time plateau) and nominal seconds of one timed pass (sets the timed
# pass count from --seconds). Stream: warm files fed to the queries untimed,
# then backlog files drained at max_files per trigger, then one file every
# paced_ms for --seconds, all through the same running queries. Either way a run has
# at least MIN_OPS timed ops, so op_tail_ms has 10 ops beyond its percentile.
WORKLOADS = {
    "catalog-write": dict(sf="0.01", queries=CATALOG, warm=2, pass_s=6.0),
    "stream-stateful": dict(sf="0.1", drain=40, max_files=5, paced_ms=500.0,
                            late_share=0.02, warm_files=10, watermark="2 days"),
}
MIN_OPS = 2 * check.MIN_BEYOND + 1


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine and harness; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"no engine sources here: {need} is missing under {ROOT}")
    stamp = tree_hash([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                       os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")])
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    log("building engine and harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=sbt_env(),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("sbt build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def data_dir(sf):
    """The generated tables of scale `sf`, made once per generator version."""
    d = os.path.join(BUILD, "data", f"sf{sf}")
    stamp = tree_hash([os.path.join(HERE, "gen.py")])
    mark = os.path.join(d, ".stamp")
    if not (os.path.exists(mark) and open(mark).read() == stamp):
        log(f"generating tables at sf{sf}")
        shutil.rmtree(d, ignore_errors=True)
        gen.write(float(sf), d)
        with open(mark, "w") as f:
            f.write(stamp)
    return d


def batch_plan(w, cfg, seed, seconds, data, run_dir):
    rng = random.Random(seed)
    passes = max(-(-MIN_OPS // len(cfg["queries"])), round(seconds / cfg["pass_s"]))
    order = lambda: rng.sample(cfg["queries"], len(cfg["queries"]))
    lines = [("workload", w), ("data", data), ("out", os.path.join(run_dir, "out"))]
    lines += [("warm", ",".join(order())) for _ in range(cfg["warm"])]
    lines += [("timed", ",".join(order())) for _ in range(passes)]
    return lines


def stream_plan(w, cfg, seed, seconds, data, run_dir):
    staging = os.path.join(run_dir, "staging")
    paced = max(MIN_OPS, round(seconds * 1000.0 / cfg["paced_ms"]))
    warm, drain = cfg["warm_files"], cfg["drain"]
    files = check.stream_files(os.path.join(data, "events.parquet"), seed, warm + drain + paced,
                               cfg["late_share"], staging)
    names = [f for f, _ in files]
    lines = [("workload", w), ("staging", staging),
             ("work", os.path.join(run_dir, "work")), ("max_files", str(cfg["max_files"])),
             ("watermark", cfg["watermark"]),
             ("warm_files", ",".join(names[:warm])),
             ("drain", ",".join(names[warm:warm + drain])),
             ("paced", ",".join(names[warm + drain:])), ("paced_ms", str(cfg["paced_ms"]))]
    lines += [("rows", f, str(n)) for f, n in files]
    return lines


def java_cmd(classpath, plan_file, result_file, trace):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           # the JIT keeps its compiler threads, so their CPU can be told apart
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           # Hadoop's local file system without process launches (LocalFs.scala)
           "-Dspark.hadoop.fs.file.impl=graftbench.NioLocalFileSystem",
           "-Dspark.hadoop.fs.AbstractFileSystem.file.impl=graftbench.NioLocalFs"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graftbench.Main", plan_file, result_file, str(trace)]


def run_jvm(cmd, run_dir):
    """Runs the harness JVM; returns (result dict, launch time in epoch ms)."""
    log_file = os.path.join(run_dir, "jvm.log")
    t_launch = time.time() * 1000.0
    with open(log_file, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness JVM timed out")
    result_file = cmd[-2]
    if not os.path.exists(result_file):
        sys.stderr.write(open(log_file).read()[-4000:])
        raise SystemExit(f"harness JVM exited {rc} without a result")
    with open(result_file) as f:
        res = json.load(f)
    if not res.get("ok"):
        sys.stderr.write(open(log_file).read()[-4000:])
        raise SystemExit(f"harness failed: {res.get('error')}")
    return res, t_launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]
    classpath = build()
    data = data_dir(cfg["sf"])
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.workload == "stream-stateful":
            plan = stream_plan(a.workload, cfg, a.seed, a.seconds, data, run_dir)
        else:
            plan = batch_plan(a.workload, cfg, a.seed, a.seconds, data, run_dir)
        plan_file = os.path.join(run_dir, "plan.tsv")
        with open(plan_file, "w") as f:
            f.writelines("\t".join(l) + "\n" for l in plan)
        ctx = host.Context()
        res, t_launch = run_jvm(java_cmd(classpath, plan_file, os.path.join(run_dir, "result.json"),
                                         a.trace), run_dir)
        ctx.finish()
        records = os.path.join(BUILD, "records")
        os.makedirs(records, exist_ok=True)
        tag = f"{int(time.time())}-{a.workload}-{a.seed}-{a.trace}"
        shutil.copy(os.path.join(run_dir, "result.json"), os.path.join(records, f"{tag}.result.json"))
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        outcome = check.evaluate(a.workload, res, t_launch, expected.get(a.workload, {}),
                                 run_dir, a.trace == 1)
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": ctx.values,
                  "result": outcome}
        with open(os.path.join(records, f"{tag}.json"), "w") as f:
            json.dump(record, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for msg in outcome.pop("problems", [])[:20]:
        log(msg)
    print(json.dumps({"host": ctx.values, "wall": outcome.pop("wall")}))
    print(json.dumps(outcome))


if __name__ == "__main__":
    main()
