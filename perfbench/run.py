#!/usr/bin/env python3
"""graft's benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload grammar --seed 1 --seconds 15 --trace 0

It compiles graft from the checkout's sources (once per source tree),
starts one local Spark JVM, generates the workload's inputs from the seed,
runs one untimed warm-up pass, then runs passes over the workload's
operations one at a time (a closed loop with one client) for about
``--seconds``: the first pass always, another while it fits. Outputs are checked against DuckDB.
Every metric is printed as one ``graft-bench`` line and written to a JSON
artifact under ``.bench_build/results``; the last stdout line is the
result object.

With ``--trace 0`` the result carries the end-to-end metrics. With
``--trace 1`` the run makes a plain pass, a traced pass with Spark's
event log attached, and a plain pass again, and the result carries the
per-layer metrics.
``--workload all`` runs every workload in turn, each in its own process.
See perfbench/DESIGN.md for the metric definitions.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gbench import build, metrics, session  # noqa: E402
from gbench.grammar import Grammar  # noqa: E402
from gbench.lakehouse import Lakehouse  # noqa: E402
from gbench.trace import Recorder  # noqa: E402

WORKLOADS = {"grammar": Grammar, "lakehouse": Lakehouse}
TRACED_PASS = 1

END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"), ("read_p50_s", "s"), ("pass_cpu_s", "s"),
    ("peak_rss_mb", "MiB"),
]
PER_LAYER = [
    ("failed_frac", "ratio"), ("read_tail_s", "s"), ("write_p50_s", "s"), ("write_tail_s", "s"),
    ("registry.lookup_ms", "ms"),
    ("construct.ms", "ms"), ("construct.prejobs", "count"), ("construct.prejob_ms", "ms"),
    ("plan.ms", "ms"), ("plan.nodes", "count"), ("plan.exchanges", "count"),
    ("plan.windows", "count"), ("plan.sorts", "count"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.stages_reused", "count"), ("exec.tasks", "count"), ("exec.tasks_failed", "count"),
    ("exec.task_busy_ms", "ms"), ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.slot_idle_frac", "ratio"), ("exec.input_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.peak_exec_mem_bytes", "bytes"),
    ("exec.output_rows", "count"),
    ("driver.ms", "ms"),
    ("streaming.append_ms", "ms"), ("sources.merge_ms", "ms"), ("sources.update_ms", "ms"),
    ("sources.delete_ms", "ms"), ("sources.compact_ms", "ms"), ("sources.read_ms", "ms"),
    ("sources.rows_rewritten_per_changed_row", "ratio"), ("sources.files_written", "count"),
    ("sources.files_live", "count"),
    ("check.wrong", "count"), ("check.ms", "ms"),
    ("setup.session_ms", "ms"), ("setup.datagen_ms", "ms"), ("setup.warmup_ms", "ms"),
    ("host.anchor_s", "s"), ("trace.overhead_frac", "ratio"),
]


def fail(msg):
    sys.stderr.write(f"graft-bench: {msg}\n")
    sys.exit(2)


def ms_since(t0):
    return (time.perf_counter() - t0) * 1000.0


def run_passes(spark, wl, rec, seconds, trace, event_dir):
    """The closed loop: one operation at a time, passes back to back.

    A plain run always makes one pass, and starts another only while the
    time so far plus the last pass's length fits in ``seconds``, so that
    every pass completes. A traced run makes a plain pass, a traced pass
    with Spark's event log attached, and a plain pass again. Returns
    ``(pass, traced, wall seconds, steal seconds)`` per pass.
    """
    passes = []
    t_loop = time.perf_counter()
    for p in range(3 if trace else sys.maxsize):
        rec.traced = trace and p == TRACED_PASS
        t0, s0 = time.perf_counter(), session.steal_s()
        logger = session.start_event_log(spark, event_dir) if rec.traced else None
        try:
            wl.run_pass(p)
        finally:
            if logger is not None:
                session.stop_event_log(spark, logger)
        wall = time.perf_counter() - t0
        passes.append((p, rec.traced, wall, session.steal_s() - s0))
        if not trace and time.perf_counter() - t_loop + wall > seconds:
            break
    rec.traced = False
    return passes


def pass_sums(ops, p):
    """Seconds, JVM CPU seconds outside the JIT compiler, and the JIT
    compiler's CPU seconds, of pass ``p``'s timed operations."""
    mine = [o for o in ops if o.pass_no == p]
    return (sum(o.seconds for o in mine), sum(o.cpu_s for o in mine),
            sum(o.jit_s for o in mine))


def latency(ops, kind):
    values = [o.seconds for o in ops if o.kind == kind and not o.error]
    if not values:
        return 0.0, 0.0, 100.0, 0
    p50 = metrics.median(values)
    tail, pct = metrics.tail(values)
    return p50, tail, pct, len(values)


def run_all(args):
    """Run each workload in its own process; the last line sums them up."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in sorted(WORKLOADS):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.exit(proc.returncode or 1)
        res = json.loads(lines[-1])
        summary["correct"] = summary["correct"] and res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        summary["metrics"].update({f"{w}/{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(summary), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        fail("--seed must be a non-negative integer")
    trace = args.trace == 1
    if args.workload == "all":
        run_all(args)
        return

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tools", "check.py")):
        fail("run from the root of a graft checkout (tools/check.py not found)")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    try:
        classes = build.ensure_built(root, build_dir)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    work = os.path.join(build_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_dir = os.path.join(work, "eventlog") if trace else None

    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "slots": session.slots(), "heap_gb": session.heap_gb(),
            "loop": "closed, 1 client"}
    m = {}
    t0 = time.perf_counter()
    spark = session.start(classes, work)
    try:
        m["setup.session_ms"] = ms_since(t0)
        pid = session.jvm_pid(spark)
        rec = Recorder(spark)
        rec.cpu = lambda: session.cpu_s(pid)
        wl = WORKLOADS[args.workload](spark, rec, root, work)
        t0 = time.perf_counter()
        info["input_rows"] = wl.generate(args.seed)
        m["setup.datagen_ms"] = ms_since(t0)
        t0 = time.perf_counter()
        wl.warmup()
        m["setup.warmup_ms"] = ms_since(t0)
        info["warmup_errors"] = {o.name: o.error for o in rec.ops if o.error}
        rec.ops.clear()
        info["anchor_start_s"] = session.anchor_s(spark)
        passes = run_passes(spark, wl, rec, args.seconds, trace, event_dir)
        info["anchor_end_s"] = session.anchor_s(spark)
        m["peak_rss_mb"] = session.peak_rss_mb(pid)
        t0 = time.perf_counter()
        wrong = wl.check()
        m["check.ms"] = ms_since(t0)
        traced = {p for p, t, *_ in passes if t}
        plain = [p for p, t, *_ in passes if not t]
        if trace:
            m.update(wl.source_metrics(traced))
    finally:
        session.stop(spark)

    ops = rec.ops
    failed_ops = [o for o in ops if o.error or wl.spoiled(o, wrong)]
    m["failed_frac"] = len(failed_ops) / len(ops)
    m["check.wrong"] = len(wrong)
    m["setup_s"] = (m["setup.session_ms"] + m["setup.datagen_ms"] + m["setup.warmup_ms"]) / 1000.0
    # the first plain pass: how many more fit in the window depends on
    # the host's speed, and later passes run warmer
    m["pass_s"], m["pass_cpu_s"], _ = pass_sums(ops, plain[0])
    # latencies over whole plain passes, so that every sample set holds
    # each operation of the pass equally often
    timed = [o for o in ops if o.pass_no in plain]
    m["read_p50_s"], m["read_tail_s"], info["read_tail_pct"], info["reads"] = latency(timed, "read")
    m["write_p50_s"], m["write_tail_s"], info["write_tail_pct"], info["writes"] = latency(timed, "write")
    m["host.anchor_s"] = max(info["anchor_start_s"], info["anchor_end_s"])
    info["passes"] = [dict(zip(("pass", "traced", "wall_s", "steal_s", "seconds", "cpu_s", "jit_s"),
                               (p, t, w, st) + pass_sums(ops, p))) for p, t, w, st in passes]
    info["errors"] = {f"{o.name}#{o.pass_no}": o.error for o in ops if o.error}
    info["ops"] = [[o.pass_no, o.kind, o.name, o.seconds, o.cpu_s, o.jit_s] for o in ops]
    info["wrong"] = wrong

    if trace:
        log = metrics.read_event_log(event_dir)
        n_traced = len(traced)
        m.update(metrics.layer_rollup(rec.spans, log, session.slots(), n_traced,
                                      read_rows=wl.read_rows_per_pass() * n_traced))
        # against the mean of the plain passes before and after it, as
        # passes run warmer one after another
        plain_s = sum(pass_sums(ops, p)[0] for p in plain) / len(plain)
        m["trace.overhead_frac"] = pass_sums(ops, TRACED_PASS)[0] / plain_s - 1.0

    report = END_TO_END if not trace else PER_LAYER
    units = dict(END_TO_END + PER_LAYER)
    for name in sorted(m):
        print(f"graft-bench workload={args.workload} name={name} value={m[name]!r} "
              f"unit={units[name]}")
    result_dir = os.path.join(build_dir, "results")
    os.makedirs(result_dir, exist_ok=True)
    artifact = os.path.join(result_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(artifact, "w") as fh:
        json.dump({"info": info, "metrics": {k: {"value": v, "unit": units[k]}
                                             for k, v in sorted(m.items())}}, fh, indent=1)
    print(f"graft-bench artifact={os.path.relpath(artifact, root)}")
    for k, v in info["errors"].items():
        print(f"graft-bench failed {k}: {v}")
    for k, v in wrong.items():
        print(f"graft-bench wrong {k}: {v}")
    result = {
        "correct": not wrong and not failed_ops,
        "attempted": len(ops),
        "failed": len(failed_ops),
        "metrics": {name: {"value": m[name], "unit": unit} for name, unit in report},
    }
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
