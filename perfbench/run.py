#!/usr/bin/env python3
"""Benchmark of the reductstore_spark record engine.

    python3 perfbench/run.py --workload narrow_read --seed 1 --seconds 15 --trace 0

Starts one Spark driver on local[N] (N = min(4, cores)), sets the
workload's store up several times from the seed, then runs the workload as
a closed loop with one client for ``--seconds``, checking every answer
against the oracle.  Prints a metric summary, then as the last line one
JSON object: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  Exits non-zero when any answer was wrong.

Everything it writes stays under ``.perfbench/`` at the repository root.
Workloads and metrics are described in WORKLOADS.md next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from typing import Dict, List, Optional

from probes import COUNTERS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 3
CPUS = max(1, min(4, os.cpu_count() or 1))

READ_KINDS = ("query", "count", "read_one", "check")
MUTATION_KINDS = ("remove", "update")
READ_LAYERS = ("op", "store.read", "condition.parse", "query.build",
               "exec.action")
WRITE_LAYERS = ("store.write", "store.remove", "store.update_labels",
                "store.compact", "streaming.replicate")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("narrow_read", "wide_scan", "ingest_mutate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)


def children_of(pid: int) -> List[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(name))
    return out


def rss_peak_mb(pid: int) -> Dict[str, float]:
    """Peak resident memory of this Python process and of the JVM."""
    out = {"python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                out["jvm"] = int(line.split()[1]) / 1024.0
    return out


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python workers,
    and wait until each has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = children_of(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


class Stats:
    """Everything the measured loop records."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.ops: List = []           # (op, traced, counters)
        self.loop_s = 0.0

    def lat(self, kinds) -> List[float]:
        return [op.latency_ms for op, _, _ in self.ops if op.kind in kinds]


def run_op(ctx, op, stats: Stats, traced: bool, counters) -> None:
    stats.attempted += 1
    op_id = stats.attempted
    group = f"perfbench-op-{op_id}"
    err = None
    try:
        if op.prepare:
            op.prepare(op)
        if traced:
            counters.begin(group)
        try:
            with ctx.tracer.span("op", op_id) as root:
                t = time.perf_counter()
                result = op.call(op)
                op.end = time.perf_counter()
                if root is not None:
                    root.attrs["kind"] = op.kind
        finally:
            if traced:
                counters.end()
        op.latency_ms = (op.end - t) * 1e3
        err = op.check(op, result)
    except Exception:
        err = traceback.format_exc()
    if err:
        stats.failed += 1
        print(f"perfbench: {op.kind} op {op_id} failed: {err}", file=sys.stderr)
        return
    got = counters.collect([group] + op.groups) if traced else None
    stats.ops.append((op, traced, got))


def measure(ctx, wl, seconds: float, trace: bool, counters) -> Stats:
    """The closed loop: the workload's ops one after another until
    ``seconds`` have passed.  The deadline cuts the last unit of work, so
    a run that falls behind does not also lose a whole late unit, whose
    ops run faster as the JVM compiles the query path.  With tracing,
    every other op is traced, so traced and untraced throughput can be
    compared."""
    stats = Stats()
    start = time.perf_counter()
    for op in (op for unit in wl.units() for op in unit):
        if time.perf_counter() - start >= seconds:
            break
        traced = trace and stats.attempted % 2 == 0
        ctx.tracer.active = traced
        run_op(ctx, op, stats, traced, counters)
        ctx.tracer.active = False
    stats.loop_s = time.perf_counter() - start
    return stats


def quantile(values: List[float], q: float) -> Optional[float]:
    """Linear-interpolated quantile (q in [0, 1]); None without samples."""
    if not values:
        return None
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def per_second(count: float, ms: List[float]) -> Optional[float]:
    return count / (sum(ms) / 1e3) if ms else None


def mix_per_second(ops, amount) -> Optional[float]:
    """``amount(op)`` summed over the workload's mix per second of engine
    time.  Ops are averaged per slot of the mix (``Op.slot``) first, so
    the round the deadline cuts weighs no slot more than the others: on
    ``narrow_read`` the one-day window scans over a hundred times the
    records of a five-minute one."""
    slots: Dict[object, list] = {}
    for op in ops:
        slots.setdefault(op.slot, []).append(op)
    if not slots:
        return None
    total = sum(_mean(amount(op) for op in g) for g in slots.values())
    ms = sum(_mean(op.latency_ms for op in g) for g in slots.values())
    return total / (ms / 1e3)


def measured(metrics: Dict[str, tuple]) -> Dict[str, tuple]:
    """Drop metrics that had no samples: only a run whose ops failed can
    lack one, and that run is reported as incorrect anyway."""
    return {k: (v, u) for k, (v, u) in metrics.items() if v is not None}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(stats: Stats, setup_s: float, space_amp: float,
               rss_mb: float) -> Dict[str, tuple]:
    """Every workload reports the read metrics; a workload that writes
    also reports the write, mutation and replication metrics."""
    ops = [op for op, _, _ in stats.ops]
    reads = stats.lat(READ_KINDS)
    scans = [op for op in ops if op.kind in ("query", "count", "check")]
    out = {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (quantile(reads, 0.5), "ms"),
        "ops_per_s": (mix_per_second(ops, lambda op: 1), "1/s"),
        "scan_records_per_s": (mix_per_second(
            scans, lambda op: op.expected.scanned), "1/s"),
        "space_amp": (space_amp, "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    writes = [op for op in ops if op.kind == "write"]
    if writes:
        out["write_records_per_s"] = (per_second(
            sum(op.result_rows for op in writes),
            [op.latency_ms for op in writes]), "1/s")
        out["mutation_p50_ms"] = (quantile(stats.lat(MUTATION_KINDS), 0.5), "ms")
        out["replicate_lag_ms"] = (quantile(
            [op.lag_ms for op in ops if op.kind == "replicate"], 0.5), "ms")
    return measured(out)


def per_layer(stats: Stats, tracer, session_s: float,
              base_windows: int) -> Dict[str, tuple]:
    traced = [(op, c) for op, t, c in stats.ops if t]
    spans: Dict[str, list] = {}
    for s in tracer.spans:
        spans.setdefault(s.name, []).append(s)

    def span_ms(name):
        return _mean(s.ms for s in spans.get(name, []))

    roots = spans.get("op", [])
    tiers = [op.tiers for op, _ in traced if op.tiers is not None]
    reads = [op for op, _ in traced if op.kind in READ_KINDS]
    total = {k: sum(c[k] for _, c in traced) for k in COUNTERS}
    n = max(1, len(traced))
    out = {
        "session.start_s": (session_s, "s"),
        "condition.parse_ms": (span_ms("condition.parse"), "ms"),
        "query.build_ms": (span_ms("query.build"), "ms"),
        "plans.python_tier_frac": (_mean(t["python"] for t in tiers), "frac"),
        "plans.window_tier_frac": (_mean(t["windows"] > base_windows
                                         for t in tiers), "frac"),
        "store.read_ms": (span_ms("store.read"), "ms"),
        "store.files": (_mean(r.attrs["files"] for r in roots
                              if "files" in r.attrs), "count"),
        "store.partitions": (_mean(r.attrs["partitions"] for r in roots
                                   if "partitions" in r.attrs), "count"),
        "exec.action_ms": (span_ms("exec.action"), "ms"),
        "exec.jobs_per_op": (total["jobs"] / n, "count"),
        "exec.tasks_per_op": (total["tasks"] / n, "count"),
        "exec.input_records_per_result": (
            sum(c["input_records"] for op, c in traced if op.kind in READ_KINDS)
            / max(1, sum(op.result_rows for op in reads)), "ratio"),
        "exec.input_bytes": (total["input_bytes"] / n, "B"),
        "exec.shuffle_write_bytes": (total["shuffle_write_bytes"] / n, "B"),
        "exec.shuffle_read_bytes": (total["shuffle_read_bytes"] / n, "B"),
        "exec.executor_run_s": (total["executor_run_ms"] / 1e3 / n, "s"),
        "exec.executor_cpu_frac": (
            total["executor_cpu_ns"] / 1e6 / max(1, total["executor_run_ms"]),
            "frac"),
    }
    layers = list(READ_LAYERS)
    if any(op.kind == "write" for op, _ in traced):
        layers += WRITE_LAYERS
        mutated = [op for op, _ in traced if op.kind in MUTATION_KINDS]
        repl = [op for op, _ in traced if op.kind == "replicate"]
        out.update({
            "store.write_ms": (span_ms("store.write"), "ms"),
            "store.remove_ms": (span_ms("store.remove"), "ms"),
            "store.update_labels_ms": (span_ms("store.update_labels"), "ms"),
            "store.rewritten_bytes_per_mutated_record": (
                sum(op.rewritten_bytes for op in mutated)
                / max(1, sum(op.mutated for op in mutated)), "B"),
            "store.compact_ms": (span_ms("store.compact"), "ms"),
            "streaming.replicate_ms": (span_ms("streaming.replicate"), "ms"),
            "streaming.replicated_records": (
                _mean(op.result_rows for op in repl), "count"),
        })
    selfs = tracer.self_ms()
    for layer in layers:
        out[f"self.{layer}_ms"] = (sum(selfs.get(layer, [])) / n, "ms")
    # overhead on the read ops, which every workload has in both halves
    on = [op.latency_ms for op, t, _ in stats.ops if t and op.kind in READ_KINDS]
    off = [op.latency_ms for op, t, _ in stats.ops
           if not t and op.kind in READ_KINDS]
    traced_rate, untraced_rate = per_second(len(on), on), per_second(len(off), off)
    out["trace.ops_per_s_traced"] = (traced_rate, "1/s")
    out["trace.ops_per_s_untraced"] = (untraced_rate, "1/s")
    if traced_rate and untraced_rate:
        out["trace.overhead_frac"] = (1 - traced_rate / untraced_rate, "frac")
    return measured(out)


def run(spark, args, session_s: float, work: str) -> dict:
    from probes import SparkCounters, Tracer, plan_tiers
    from reductstore_spark.sources.store import RecordStore
    from workloads import WORKLOADS, Ctx, parquet_bytes

    tracer = Tracer()
    ctx = Ctx(spark, tracer, work, args.seed)
    wl = WORKLOADS[args.workload](ctx)
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t = time.perf_counter()
        wl.build()
        rounds.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(rounds) + warm_s

    counters = SparkCounters(spark.sparkContext) if args.trace else None
    stats = measure(ctx, wl, args.seconds, bool(args.trace), counters)

    root, model = wl.stored()
    space_amp = sum(parquet_bytes(root).values()) / model.user_bytes()
    rss = rss_peak_mb(spark.sparkContext._gateway.proc.pid)
    sample_counts = {
        "reads": len(stats.lat(READ_KINDS)),
        "mutations": len(stats.lat(MUTATION_KINDS)),
        "replications": len(stats.lat(("replicate",))),
        "writes": len(stats.lat(("write",))),
    }
    if args.trace:
        # Window nodes a plain query already has (the store's upsert
        # de-duplication); only more than that is the planner's tier
        plain = ctx.qe.query(RecordStore(spark, root).read(), start=0, stop=1)
        plain.collect()
        base = plan_tiers(plain)["windows"]
        for op, t, _ in stats.ops:
            if t and op.plan is not None:
                op.tiers = plan_tiers(op.plan)
        metrics = per_layer(stats, tracer, session_s, base)
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        tracer.dump(os.path.join(
            OUT, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = end_to_end(stats, setup_s, space_amp, sum(rss.values()))
    return {"stats": stats, "metrics": metrics, "samples": sample_counts,
            "phases": {"session": session_s, "rounds": rounds,
                       "warm": warm_s}, "rss": rss}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "reductstore_spark", "__init__.py")):
        print(f"perfbench: no reductstore_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    sys.path.insert(0, ROOT)
    import reductstore_spark
    if not os.path.abspath(reductstore_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: reductstore_spark imported from outside the "
              "checkout", file=sys.stderr)
        return 2
    from reductstore_spark.session import get_session

    t = time.perf_counter()
    spark = get_session("perfbench", master=f"local[{CPUS}]",
                        shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    try:
        out = run(spark, args, session_s, work)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    stats = out["stats"]
    correct = stats.failed == 0
    ph = out["phases"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{CPUS}]: session {ph['session']:.2f}s, load rounds "
          + ", ".join(f"{r:.2f}s" for r in ph["rounds"])
          + f", warm {ph['warm']:.2f}s, loop {stats.loop_s:.2f}s; "
          f"samples {out['samples']}; peak rss MB "
          + ", ".join(f"{k} {v:.0f}" for k, v in out["rss"].items()))
    for name, (value, unit) in out["metrics"].items():
        print(f"  {name:<42} {value:>14.4f} {unit}")
    print(f"  {'failed_frac':<42} {stats.failed / max(1, stats.attempted):>14.4f}"
          f" frac ({stats.failed} of {stats.attempted} ops)")
    sys.stdout.flush()
    print(json.dumps({
        "correct": correct,
        "attempted": stats.attempted,
        "failed": stats.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in out["metrics"].items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
