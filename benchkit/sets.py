#!/usr/bin/env python3
"""Sets of benchmark runs and their spread.

Usage (from the root of a checkout):
  python3 benchkit/sets.py run <tag> <workload> <first seed> <count> [--trace 1]
  python3 benchkit/sets.py summary <tag> [<tag> ...]

`run` runs the benchmark once per seed and appends each result, with the
run's host context and wall time, to .bench_build/sets/<tag>.jsonl.
`summary` prints, per tag, workload and metric, the median, the quartiles
(statistics.quantiles, n=4) and the spread (q3 - q1) / median, as a
Markdown table, with the spread over the runs host.py marks host-steady
beside it; traced runs give the per-layer medians instead.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETS = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build"), "sets")


def seconds():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def run(tag, workload, first, count, trace):
    os.makedirs(SETS, exist_ok=True)
    for seed in range(first, first + count):
        t = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds()), "--trace", str(trace)],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        rec = {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
               "wall_s": round(time.monotonic() - t, 1)}
        if p.returncode == 0 and len(lines) >= 2:
            rec.update(json.loads(lines[-2]))
            rec["result"] = json.loads(lines[-1])
        else:
            rec["stderr"] = p.stderr[-2000:]
        with open(os.path.join(SETS, f"{tag}.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")
        r = rec.get("result", {})
        print(f"{workload} seed {seed}: exit {p.returncode} correct {r.get('correct')} "
              f"failed {r.get('failed')} wall {rec['wall_s']} s", flush=True)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def summary(tags):
    for tag in tags:
        with open(os.path.join(SETS, f"{tag}.jsonl")) as f:
            recs = [json.loads(l) for l in f if l.strip()]
        for trace in (0, 1):
            for w in sorted({r["workload"] for r in recs if r["trace"] == trace}):
                rs = [r for r in recs if r["workload"] == w and r["trace"] == trace and "result" in r]
                bad = [r["seed"] for r in rs if not r["result"]["correct"]]
                print(f"\n### {tag} · {w} · {'traced' if trace else 'untraced'} · {len(rs)} runs, "
                      f"failed ops {sum(r['result']['failed'] for r in rs)}"
                      + (f", wrong answers in seeds {bad}" if bad else "") + "\n")
                for r in rs:
                    r["result"]["metrics"].update({f"wall {k}": v for k, v in r.get("wall", {}).items()})
                names = list(rs[0]["result"]["metrics"])
                if trace or len(rs) < 2:
                    print("| metric | unit | median |\n|---|---|---|")
                    for m in names:
                        vals = [r["result"]["metrics"][m]["value"] for r in rs]
                        print(f"| {m} | {rs[0]['result']['metrics'][m]['unit']} | "
                              f"{statistics.median(vals):.6g} |")
                    continue
                steady = [r for r in rs if r["host"].get("host_steady", True)]
                print(f"| metric | unit | median | q1 | q3 | spread | spread, {len(steady)} host-steady runs |"
                      "\n|---|---|---|---|---|---|---|")
                for m in names:
                    med, q1, q3, sp = spread([r["result"]["metrics"][m]["value"] for r in rs])
                    sp_steady = (f"{spread([r['result']['metrics'][m]['value'] for r in steady])[3]:.3f}"
                                 if len(steady) >= 2 else "-")
                    print(f"| {m} | {rs[0]['result']['metrics'][m]['unit']} | {med:.6g} | {q1:.6g} | "
                          f"{q3:.6g} | {sp:.3f} | {sp_steady} |")
                hosts = [r["host"] for r in rs]
                keys = [k for k in hosts[0] if k != "host_steady"]
                print("\nhost: " + ", ".join(
                    f"{k} median {statistics.median(h[k] for h in hosts):.4g} "
                    f"(min {min(h[k] for h in hosts):.4g}, max {max(h[k] for h in hosts):.4g})"
                    for k in keys) + f"; run wall median {statistics.median(r['wall_s'] for r in rs)} s"
                    + f"; host-steady runs {len(steady)} of {len(rs)}")


if __name__ == "__main__":
    a = sys.argv[1:]
    if a[:1] == ["run"] and len(a) >= 5:
        run(a[1], a[2], int(a[3]), int(a[4]), int(a[6]) if a[5:6] == ["--trace"] else 0)
    elif a[:1] == ["summary"] and len(a) >= 2:
        summary(a[1:])
    else:
        sys.exit(__doc__)
