"""Answer checks and metrics of one run.

Batch ops are checked against recorded digests: each `catalog-write` output
is read back here and digested. Stream outputs are checked against the same
operators run in batch over every delivered row. A wrong or missing answer
fails the op it belongs to.
"""
import glob
import hashlib
import math
import os
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MIN_BEYOND = 10
UNACCOUNTED_TOLERANCE = 0.10

# Bounded metrics (--trace 0). The timings are CPU time of the process
# without its JIT compiler threads (graftbench.Jvm.workCpuMs).
END_TO_END = {
    "setup_s": "s", "rows_per_cpu_s": "1/s", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB",
}
# Wall-clock figures of the same run, printed beside the host context and not
# bounded: on a shared host they follow its CPU steal.
WALL = {"setup_s": "s", "rows_per_s": "1/s", "op_p50_ms": "ms", "op_tail_ms": "ms"}
PER_LAYER = {
    "engine.session_s": "s", "engine.warm_s": "s",
    "queries.build_ms": "ms/op", "queries.fixture_s": "s", "queries.fixture_jobs": "count",
    "plan.analysis_ms": "ms/op", "plan.optimization_ms": "ms/op", "plan.planning_ms": "ms/op",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.jobs_per_op": "count/op", "sched.job_ms": "ms/op", "sched.driver_gap_ms": "ms/op",
    "sched.task_delay_ms": "ms/task",
    "scan.bytes": "bytes", "scan.rows": "count", "scan.ms": "ms",
    "exchange.write_bytes": "bytes", "exchange.read_bytes": "bytes",
    "exchange.fetch_wait_ms": "ms", "exchange.spill_bytes": "bytes",
    "operators.join_build_ms": "ms", "operators.broadcast_bytes": "bytes",
    "operators.agg_ms": "ms", "operators.sort_ms": "ms", "operators.window_ms": "ms",
    "functions.task_cpu_s": "s",
    "sink.write_ms": "ms/op", "sink.commit_ms": "ms/op", "sink.files": "count",
    "sink.bytes": "bytes",
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "streaming.getBatch_ms": "ms/batch", "streaming.queryPlanning_ms": "ms/batch",
    "streaming.addBatch_ms": "ms/batch", "streaming.walCommit_ms": "ms/batch",
    "streaming.commitOffsets_ms": "ms/batch", "streaming.backlog_files_max": "count",
    "state.rows": "count", "state.memory_bytes": "bytes", "state.commit_ms": "ms/batch",
    "state.fileSync_ms": "ms/batch", "state.checkpoint_ms": "ms/batch",
    "state.flush_ms": "ms/batch",
    "state.sst_bytes": "bytes",
    "gen.late_ms_max": "ms",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.cpu_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.overhead_s": "s", "trace.unaccounted_share": "share",
}
STREAM_QUERIES = ("ledger", "topk", "rollup")


def tail_percentile(n):
    """The highest whole percentile of `n` ops with at least MIN_BEYOND ops
    beyond it (p64 of 28 ops, p90 of 100)."""
    if n <= MIN_BEYOND:
        raise ValueError(f"{n} ops leave no percentile with {MIN_BEYOND} ops beyond it")
    return (n - MIN_BEYOND) * 100 // n


def percentile(values, p):
    """Nearest-rank percentile; refuses one with fewer than MIN_BEYOND ops
    above it, so a tail never rests on a handful of ops."""
    n = len(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p} of {n} ops has {n - rank} ops beyond it (< {MIN_BEYOND})")
    return sorted(values)[rank - 1]


def canon(v):
    """Canonical text of a value; floats keep 9 significant digits."""
    if v is None:
        return "~"
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return repr(v)
        return "0" if v == 0 else f"{Decimal(v):.8e}"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, Decimal):
        return format(v.normalize(), "f")
    return str(v)


def row_hash(values):
    h = hashlib.blake2b("\x1f".join(canon(x) for x in values).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def table_digest(t):
    rows = t.to_pylist()
    total = 0
    for r in rows:
        total = (total + row_hash(list(r.values()))) % (1 << 64)
    return f"{len(rows)}:{total:x}"


def parquet_digest(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    return table_digest(pa.concat_tables([pq.read_table(f) for f in files]))


# ---------------------------------------------------------------- stream input

def stream_files(events_path, seed, n_files, late_share, out_dir):
    """Cuts the ts-sorted events into `n_files` files of uneven size; a
    `late_share` of each file's rows arrives one file late. `seq` is the
    arrival position. Returns [(file name, rows)] in arrival order."""
    t = pq.read_table(events_path)
    n = t.num_rows
    rng = random.Random(seed)
    w = [rng.uniform(0.4, 1.6) for _ in range(n_files)]
    cuts = np.concatenate([[0], np.round(np.cumsum(w) / sum(w) * n).astype(int)])
    groups = [list(range(cuts[i], cuts[i + 1])) for i in range(n_files)]
    late = []
    for i in range(n_files):
        own = [r for r in groups[i] if not (i < n_files - 1 and rng.random() < late_share)]
        moved = sorted(set(groups[i]) - set(own))
        groups[i] = late + own
        late = moved
    os.makedirs(out_dir, exist_ok=True)
    ts = t.column("ts").cast(pa.timestamp("us", tz="UTC"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts)
    out, seq = [], 0
    for i, g in enumerate(groups):
        part = t.take(pa.array(g, pa.int64()))
        part = part.append_column("seq", pa.array(np.arange(seq, seq + len(g)), pa.int64()))
        seq += len(g)
        name = f"f{i:04d}.parquet"
        pq.write_table(part, os.path.join(out_dir, name))
        out.append((name, len(g)))
    return out


def _read_dir(d, with_batch=False):
    parts = []
    for f in sorted(glob.glob(os.path.join(d, "batch_id=*", "*.parquet")) if with_batch
                    else glob.glob(os.path.join(d, "*.parquet"))):
        tb = pq.read_table(f)
        if with_batch:
            b = int(os.path.basename(os.path.dirname(f)).split("=")[1])
            tb = tb.append_column("batch_id", pa.array([b] * tb.num_rows, pa.int64()))
        parts.append(tb)
    return pa.concat_tables(parts).to_pylist() if parts else []


def _ms(v):
    if hasattr(v, "timestamp"):
        return int(round(v.timestamp() * 1000))
    return int(v)


def check_stream(work, round_name, watermark_ms, arrivals):
    """Compares one round's outputs with its batch reference. Returns the
    set of files whose rows were answered wrongly, and messages."""
    file_of_event, last_file = arrivals["event"], arrivals["last"]
    bad, msgs = set(), []
    out = os.path.join(work, round_name, "out")
    ref = os.path.join(work, round_name, "ref")
    # ledger: one verdict per ticket
    s = {r["ticketId"]: r for r in _read_dir(os.path.join(out, "ledger"), True)}
    r = {x["ticketId"]: x for x in _read_dir(os.path.join(ref, "ledger"))}
    if len(r) != len(file_of_event):
        msgs.append(f"{round_name}/ledger: reference has {len(r)} tickets, input {len(file_of_event)}")
        bad.update(file_of_event.values())
    for tid in set(s) | set(r):
        a, b = s.get(tid), r.get(tid)
        key = lambda x: None if x is None else (x["customerid"], x["eventid"], x["confirmationStatus"],
                                                canon(x["remaining"]))
        if key(a) != key(b):
            bad.add(file_of_event.get(int(tid), "?"))
            msgs.append(f"{round_name}/ledger: ticket {tid} stream {key(a)} != batch {key(b)}")
    # topk: the final top-3 per user is the user's last emission
    s = {}
    for x in _read_dir(os.path.join(out, "topk"), True):
        if x["key"] not in s or x["batch_id"] > s[x["key"]]["batch_id"]:
            s[x["key"]] = x
    r = {x["key"]: x for x in _read_dir(os.path.join(ref, "topk"))}
    for k in set(s) | set(r):
        a, b = (canon(x["top"]) if x else None for x in (s.get(k), r.get(k)))
        if a != b:
            bad.add(last_file.get(("user", int(k)), "?"))
            msgs.append(f"{round_name}/topk: user {k} stream {a} != batch {b}")
    # rollup: every window the final watermark closed, emitted once
    hour = 3_600_000
    s, dup = {}, []
    for x in _read_dir(os.path.join(out, "rollup"), True):
        k = (_ms(x["window_start"]), x["event_type"])
        if k in s:
            dup.append(k)
        s[k] = (x["n"], canon(x["sum_value"]))
    r = {(_ms(x["window_start"]), x["event_type"]): (x["n"], canon(x["sum_value"]))
         for x in _read_dir(os.path.join(ref, "rollup"))
         if _ms(x["window_start"]) + hour <= watermark_ms}
    for k in dup:
        bad.add(last_file.get(("window",) + k, "?"))
        msgs.append(f"{round_name}/rollup: window {k} emitted twice")
    for k in set(s) | set(r):
        if s.get(k) != r.get(k):
            bad.add(last_file.get(("window",) + k, "?"))
            msgs.append(f"{round_name}/rollup: window {k} stream {s.get(k)} != batch {r.get(k)}")
    return bad, msgs


def stream_arrivals(staging, names):
    """Where each input row of the files `names` arrived: event -> file, and
    for each user and each (hour, type) window the file that delivered its
    last row."""
    ev, last = {}, {}
    for name in sorted(names):
        f = os.path.join(staging, name)
        t = pq.read_table(f, columns=["event_id", "user_id", "event_type", "ts"])
        hours = pc.cast(t.column("ts"), pa.int64()).to_numpy() // 1000 // 3_600_000 * 3_600_000
        for e, u, et, h in zip(t.column("event_id").to_pylist(), t.column("user_id").to_pylist(),
                               t.column("event_type").to_pylist(), hours.tolist()):
            ev[e] = name
            last[("user", u)] = name
            last[("window", h, et)] = name
    return {"event": ev, "last": last}


# ---------------------------------------------------------------- evaluation

def evaluate(workload, res, t_launch, expected, run_dir, traced):
    """The run's result line: correct, attempted, failed and metrics."""
    problems = []
    if workload == "stream-stateful":
        attempted, failed, lat, e2e, wall = _stream(res, run_dir, problems)
    else:
        attempted, failed, lat, e2e, wall = _batch(res, expected, run_dir, problems)
    wall["setup_s"] = (res["first_timed_ms"] - t_launch) / 1000.0
    wall["op_p50_ms"] = percentile(lat, 50)
    wall["op_tail_ms"] = percentile(lat, tail_percentile(len(lat)))
    if traced:
        layers = res.get("layers", {})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        share = float(layers.get("trace.unaccounted_share", 0.0))
        if share > UNACCOUNTED_TOLERANCE:
            problems.append(f"layer accounting leaves {share:.3f} of an op's wall unaccounted "
                            f"(tolerance {UNACCOUNTED_TOLERANCE})")
            failed = max(failed, 1)
    else:
        e2e["setup_s"] = res["setup_work_cpu_ms"] / 1000.0
        e2e["peak_rss_mb"] = res["peak_rss_kb"] / 1024.0
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "problems": problems,
            "wall": {k: {"value": float(wall[k]), "unit": u} for k, u in WALL.items()}}


def _batch(res, expected, run_dir, problems):
    failed = 0
    ops = res["ops"]
    for o in ops:
        exp = expected.get(o["q"], {}).get("digest")
        if not o["ok"]:
            got = None
            problems.append(f"{o['q']} ({o['phase']} {o['pass']}) failed: {o['err']}")
        else:
            got = parquet_digest(os.path.join(run_dir, "out", f"{o['phase']}{o['pass']}", o["q"]))
        if got is None or got != exp:
            failed += 1
            if o["ok"]:
                problems.append(f"{o['q']} ({o['phase']} {o['pass']}): digest {got} != expected {exp}")
    timed = [o for o in ops if o["phase"] == "timed"]
    rows = sum(expected.get(o["q"], {}).get("rows", 0) for o in timed)
    wall_s = sum(res["timed_pass_ms"]) / 1000.0
    cpu_s = res["timed_work_cpu_ms"] / 1000.0
    e2e = {"rows_per_cpu_s": rows / cpu_s, "cpu_ms_per_op": cpu_s * 1000.0 / len(timed)}
    return len(ops), failed, [o["ms"] for o in timed], e2e, {"rows_per_s": rows / wall_s}


def _stream(res, run_dir, problems):
    work = os.path.join(run_dir, "work")
    attempted, failed_files = 0, 0
    lat, e2e, wall = [], {}, {}
    for name, rd in res["rounds"].items():
        arrivals = stream_arrivals(os.path.join(run_dir, "staging"), [f["file"] for f in rd["files"]])
        bad, msgs = check_stream(work, name, rd["watermark_ms"], arrivals)
        problems += msgs
        for f in rd["files"]:
            attempted += 1
            if f["file"] in bad or f["commit"] is None:
                failed_files += 1
        if name == "timed":
            rows = rd["drain_rows"] * len(STREAM_QUERIES)
            wall["rows_per_s"] = rows / (rd["drain_ms"] / 1000.0)
            lat = [f["commit"] - f["due"] for f in rd["files"] if f["due"] > rd["t_start"]
                   and f["commit"] is not None]
            # both from the drain: its batches are fixed (maxFilesPerTrigger
            # on a full backlog), while how many files a paced batch takes,
            # and so its CPU per file, follows the host's speed
            e2e["rows_per_cpu_s"] = rows / (rd["drain_work_cpu_ms"] / 1000.0)
            e2e["cpu_ms_per_op"] = rd["drain_work_cpu_ms"] / rd["drain_files"]
    return attempted, failed_files, lat, e2e, wall
