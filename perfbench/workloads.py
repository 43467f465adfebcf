"""The benchmark's three workloads, driven through the engine's public API.

Every operation is split in three: ``prepare`` builds its inputs (untimed),
``call`` is the timed call into the engine, and ``check`` compares the
engine's answer with the oracle (untimed).  Why each workload exists and
what it measures is in WORKLOADS.md next to this file.
"""

from __future__ import annotations

import copy
import os
import shutil
from typing import Callable, Dict, Iterator, List, Optional

import pandas as pd

from reductstore_spark.condition.parser import parse_when
from reductstore_spark.query import QueryEngine
from reductstore_spark.schema import RECORDS_SCHEMA
from reductstore_spark.sources.store import RecordStore
from reductstore_spark.streaming.replication import (
    ReplicationSettings, start_replication)

from gen import (DAY0, STATE_FINISHED, US_PER_DAY, Generator, Knobs, Rec,
                 row_digest)
from oracle import Expected, Model, check_rows

BUCKET = "b"
US_PER_MIN = 60_000_000
UPDATE_SCHEMA = ("bucket string, entry string, ts long, "
                 "upsert map<string,string>, remove array<string>")


class Op:
    """One operation of a closed loop with one client."""

    def __init__(self, kind: str, call: Callable[["Op"], object],
                 check: Callable[["Op", object], Optional[str]],
                 prepare: Optional[Callable[["Op"], None]] = None):
        self.kind = kind
        self.prepare = prepare
        self.call = call
        self.check = check
        self.latency_ms = 0.0
        self.end = 0.0            # perf_counter when the call returned
        self.expected: Optional[Expected] = None
        self.result_rows = 0      # rows returned to the client
        self.plan = None          # frame whose executed plan is classified
        self.groups: List[str] = []   # extra Spark job groups (streams)
        self.mutated = 0          # records removed or relabelled
        self.rewritten_bytes = 0
        self.lag_ms = 0.0         # write returned -> replica holds it
        self.tiers = None         # planner tiers seen in the executed plan
        self.slot = None          # place in the workload's mix (run.py)


class Ctx:
    """What every workload needs from the run."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.qe = QueryEngine()

    def frame(self, recs: List[Rec]):
        """Spark frame of generated records: all the engine gets to see."""
        pdf = pd.DataFrame({
            "bucket": [BUCKET] * len(recs),
            "entry": [r.entry for r in recs],
            "ts": [r.ts for r in recs],
            "payload": [r.payload for r in recs],
            "content_type": [r.content_type for r in recs],
            "state": [r.state for r in recs],
            "labels": [r.labels for r in recs],
            "computed_labels": [{} for _ in recs],
        })
        return self.spark.createDataFrame(pdf, RECORDS_SCHEMA)

    def reset_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def parquet_bytes(root: str) -> Dict[str, int]:
    """Data files under a store root, path -> size."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


# -- read operations ------------------------------------------------------

def query_op(ctx: Ctx, store: RecordStore, model: Model, entries, start,
             stop, when, kind: str = "query") -> Op:
    """An ordered query whose full output, payloads included, is
    collected by the client."""
    tr = ctx.tracer

    def call(op):
        with tr.span("store.read"):
            records = store.read()
        if tr.active:
            note_listing(tr, records)
            if when is not None:
                with tr.span("condition.parse"):
                    parse_when(copy.deepcopy(when))
        with tr.span("query.build"):
            df = ctx.qe.query(records, entries=entries, start=start,
                              stop=stop, when=copy.deepcopy(when))
        with tr.span("exec.action"):
            rows = df.collect()
        if tr.active:
            op.plan = df
        return rows

    def check(op, rows):
        op.expected = model.query(entries, start, stop, when)
        op.result_rows = len(rows)
        return check_rows(rows, op.expected, ordered=True)

    return Op(kind, call, check)


def count_op(ctx: Ctx, store: RecordStore, model: Model, entries, start,
             stop, when) -> Op:
    tr = ctx.tracer

    def call(op):
        with tr.span("store.read"):
            records = store.read()
        if tr.active:
            note_listing(tr, records)
            with tr.span("condition.parse"):
                parse_when(copy.deepcopy(when))
        with tr.span("exec.action"):
            return ctx.qe.count(records, entries=entries, start=start,
                                stop=stop, when=copy.deepcopy(when))

    def check(op, n):
        op.expected = model.query(entries, start, stop, when)
        op.result_rows = 1
        if n != op.expected.count:
            return f"count {n} != expected {op.expected.count}"
        return None

    return Op("count", call, check)


def read_one_op(ctx: Ctx, store: RecordStore, model: Model, entry: str) -> Op:
    tr = ctx.tracer

    def call(op):
        with tr.span("store.read"):
            records = store.read()
        if tr.active:
            note_listing(tr, records)
        with tr.span("query.build"):
            df = ctx.qe.read_one(records, BUCKET, entry)
        with tr.span("exec.action"):
            rows = df.collect()
        if tr.active:
            op.plan = df
        return rows

    def check(op, rows):
        want = model.read_one(entry)
        op.result_rows = len(rows)
        op.expected = Expected([want] if want else [],
                               len(model.entries.get(entry, {})))
        return check_rows(rows, op.expected, ordered=True)

    return Op("read_one", call, check)


def note_listing(tr, records) -> None:
    """Files and partitions the store listing handed to the scan."""
    files = list(records.inputFiles())
    span = tr.current()
    span.attrs["files"] = len(files)
    span.attrs["partitions"] = len({os.path.dirname(f) for f in files})


# -- workloads --------------------------------------------------------------

class Workload:
    """Set-up is ``build`` once per set-up round (generate and load into
    fresh directories), then ``warm`` once.  ``units`` yields the closed
    loop's work, one list of ops at a time."""

    name = ""
    knobs: Knobs

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def build(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def units(self) -> Iterator[List[Op]]:
        raise NotImplementedError

    def stored(self):
        """(store root, model) whose space amplification is reported."""
        raise NotImplementedError


class ReadWorkload(Workload):
    """Shared shape of the two read workloads: a static served store
    queried by one client."""

    warm_rounds = 3

    def build(self) -> None:
        ctx = self.ctx
        gen = Generator(ctx.seed, self.knobs, stream=0)
        self.root = ctx.reset_dir("served")
        self.store = RecordStore(ctx.spark, self.root)
        recs = gen.initial()
        self.store.write(ctx.frame(recs))
        self.model = Model()
        self.model.upsert(recs)

    def warm(self) -> None:
        """``warm_rounds`` whole rounds on their own stream, so the
        measured ops do not depend on them.  Latency still drifts down
        through the measured loop as the JVM compiles the query path
        (WORKLOADS.md); a fixed warm-up puts every run at the same point
        of that drift.  The ops only read, so three clients run them at
        once to save wall time."""
        from concurrent.futures import ThreadPoolExecutor

        warm = Generator(self.ctx.seed, self.knobs, stream=1)
        ops = [op for _ in range(self.warm_rounds)
               for op in self.round_ops(warm)]
        with ThreadPoolExecutor(3) as pool:
            for future in [pool.submit(run_checked, op) for op in ops]:
                future.result()
        self.gen = Generator(self.ctx.seed, self.knobs, stream=2)

    def units(self) -> Iterator[List[Op]]:
        """Rounds of the workload's mix, each shuffled; the loop's deadline
        cuts the last one."""
        while True:
            yield self.round_ops(self.gen)

    def stored(self):
        return self.root, self.model

    def round_ops(self, gen: Generator) -> List[Op]:
        """One round of the workload's mix, in seeded order."""
        raise NotImplementedError


# stateless `when` families, one drawn per narrow query in turn
def _compare(g):
    return g.choice([
        {"&score": {"$gt": round(g.uniform(10, 90), 1)}},
        {"&score": {"$lte": round(g.uniform(10, 90), 1)}},
        {"&status": {"$eq": g.choice(["ok", "warn", "error"])}},
        {"&flag": {"$eq": True}},
        {"&status": {"$ne": "ok"}},
    ])


def _logic(g):
    x = round(g.uniform(10, 90), 1)
    return g.choice([
        {"$or": [{"&status": {"$eq": "warn"}}, {"&score": {"$lt": x}}]},
        {"$and": [{"&flag": {"$eq": True}}, {"&score": {"$gt": x}}]},
        {"$not": [{"&flag": {"$eq": True}}]},
        {"$xor": [{"&flag": {"$eq": True}}, {"&score": {"$gt": x}}]},
    ])


def _arith(g):
    x = round(g.uniform(10, 90), 1)
    return g.choice([
        {"$gt": [{"$add": ["&score", g.integer(1, 20)]}, x]},
        {"$lt": [{"$mult": ["&score", 2]}, x * 2]},
        {"$gt": [{"$abs": [{"$sub": ["&score", 50]}]}, g.integer(10, 40)]},
        {"$eq": [{"$rem": [{"$cast": ["&score", "int"]}, 3]}, g.integer(0, 2)]},
        {"$gt": [{"$div": ["&score", 4]}, g.integer(2, 20)]},
    ])


def _string(g):
    return g.choice([
        {"$starts_with": ["&status", g.choice(["w", "o", "e"])]},
        {"$ends_with": ["&status", g.choice(["k", "n", "r"])]},
        {"$contains": ["&score", g.choice([".5", "1", "7."])]},
        {"$contains": ["&tag", g.choice(["a", "ph", "mm"])]},
    ])


def _date(g):
    return g.choice([
        {"$lt": [{"$hour": ["$timestamp"]}, g.integer(4, 20)]},
        {"$lt": [{"$minute": ["$timestamp"]}, g.integer(10, 50)]},
        {"$gte": [{"$hour": ["$timestamp", "Europe/Berlin"]}, g.integer(4, 20)]},
        {"$ne": [{"$weekday": ["$timestamp"]}, g.integer(0, 6)]},
    ])


def _in(g):
    return g.choice([
        {"$in": ["&status", "warn", "error"]},
        {"$nin": ["&status", "ok"]},
        {"$in": ["&tag", "alpha", "beta"]},
    ])


def _exists(g):
    return g.choice([
        {"$exists": ["tag"]},
        {"$not": [{"$exists": ["tag"]}]},
        {"$and": [{"$exists": ["tag"]}, {"&flag": {"$eq": False}}]},
    ])


def _cast(g):
    return g.choice([
        {"$gte": [{"$cast": ["&score", "int"]}, g.integer(10, 90)]},
        {"$eq": [{"$cast": ["&flag", "string"]}, "true"]},
        {"$lt": [{"$cast": ["&score", "float"]}, round(g.uniform(10, 90), 1)]},
    ])


NARROW_FAMILIES = (_compare, _logic, _arith, _string, _date, _in, _exists,
                   _cast)
# windows of the nine ranged ops of a round, 5 minutes up to one day; a
# fixed set, so every round scans about the same number of records
NARROW_WINDOWS_MIN = (5, 5, 30, 30, 120, 120, 360, 360, 1440)


class NarrowRead(ReadWorkload):
    name = "narrow_read"
    knobs = Knobs(entries=12, days=8, per_day=120,
                  payload_sizes=((64, 0.5), (256, 0.35), (1024, 0.15)),
                  nonfinished_frac=0.02, hidden=True)

    def round_ops(self, gen: Generator) -> List[Op]:
        """One query per `when` family, one count and one read_one,
        shuffled."""
        kinds = list(range(len(NARROW_FAMILIES))) + ["count", "one"]
        windows = list(gen.rng.permutation(len(NARROW_WINDOWS_MIN)))
        out = []
        for i in gen.rng.permutation(len(kinds)):
            kind = kinds[i]
            entry = gen.popular_entry()
            if kind == "one":
                out.append(read_one_op(self.ctx, self.store, self.model, entry))
                out[-1].slot = "one"
                continue
            day = DAY0 + gen.recent_day(self.knobs.days)
            window = int(windows.pop())
            span = NARROW_WINDOWS_MIN[window] * US_PER_MIN
            start = day * US_PER_DAY + gen.integer(
                0, (US_PER_DAY - span) // US_PER_MIN) * US_PER_MIN
            if kind == "count":
                when = gen.choice(NARROW_FAMILIES)(gen)
                out.append(count_op(self.ctx, self.store, self.model, [entry],
                                    start, start + span, when))
            else:
                when = NARROW_FAMILIES[kind](gen)
                out.append(query_op(self.ctx, self.store, self.model, [entry],
                                    start, start + span, when))
            # the window sets the records scanned; the family barely does
            out[-1].slot = window
        return out


WIDE_GLOBS = (["*"], ["dev-*"], ["cam*"], ["*", "!dev-0*"],
              ["cam*", "!cam-03/front"], ["dev-0*", "cam-0*/front"],
              ["**/front", "dev-1*"])


def _wide_when(g, kind: int):
    """Template ``kind``; its arguments vary over narrow ranges, so the
    share of scanned rows a template returns stays about the same."""
    if kind == 0:
        return {"$and": [{"&flag": {"$eq": True}}, {"$each_n": g.integer(3, 4)}]}
    if kind == 1:
        return {"$and": [{"&status": {"$ne": "error"}},
                         {"$limit": g.integer(100, 150)}]}
    if kind == 2:
        return {"$each_t": f"{g.integer(10, 20)}m"}
    if kind == 3:
        return {"$gate": [f"{g.integer(20, 40)}m",
                          {"&status": {"$eq": "error"}}]}
    if kind == 4:
        return {"#ctx_before": g.integer(1, 2), "#ctx_after": g.integer(1, 2),
                "&status": {"$eq": "error"}}
    if kind == 5:
        return {"#ctx_before": f"{g.integer(3, 6)}m",
                "#ctx_after": f"{g.integer(1, 3)}m",
                "&score": {"$gt": round(g.uniform(96, 98), 1)}}
    # a stateful operator under $or: only the interpreter tier runs it
    return {"$or": [{"$each_n": g.integer(6, 8)}, {"&status": {"$eq": "error"}}]}


WIDE_KINDS = 7


class WideScan(ReadWorkload):
    name = "wide_scan"
    warm_rounds = 2
    knobs = Knobs(entries=8, days=5, per_day=120,
                  payload_sizes=((1024, 0.5), (2048, 0.35), (4096, 0.15)),
                  nonfinished_frac=0.02, hidden=True)

    def round_ops(self, gen: Generator) -> List[Op]:
        """One query per template, shuffled.  Template k always scans
        glob k over 2 + k % 3 days, so every round holds the same mix;
        the seed picks data, order, end day and operator arguments."""
        out = []
        for kind in gen.rng.permutation(WIDE_KINDS):
            kind = int(kind)
            glob = WIDE_GLOBS[kind]
            days = 2 + kind % 3
            # the whole span lies inside the stored days
            end = DAY0 + max(days, gen.recent_day(self.knobs.days) + 1)
            start = (end - days) * US_PER_DAY + \
                gen.integer(0, 12) * 60 * US_PER_MIN
            out.append(query_op(self.ctx, self.store, self.model, glob, start,
                                end * US_PER_DAY, _wide_when(gen, kind)))
            out[-1].slot = kind
        return out


class IngestMutate(Workload):
    """Append, replicate, remove, relabel, check, and compact every third
    cycle, against a source store and its replica.  Each cycle writes a
    fresh hour after everything written so far."""

    name = "ingest_mutate"
    knobs = Knobs(entries=6, days=2, per_day=300,
                  payload_sizes=((256, 0.4), (1024, 0.4), (4096, 0.2)),
                  nonfinished_frac=0.02, dup_frac=0.01)
    batch = 1500
    window_us = 60 * US_PER_MIN
    compact_every = 3
    relabel = 40

    def build(self) -> None:
        ctx = self.ctx
        self.gen = Generator(ctx.seed, self.knobs, stream=0)
        self.root = ctx.reset_dir("served")
        self.replica_root = ctx.reset_dir("replica")
        self.ckpt = ctx.reset_dir("ckpt")
        self.src = RecordStore(ctx.spark, self.root)
        self.dst = RecordStore(ctx.spark, self.replica_root)
        self.settings = ReplicationSettings(src_bucket=BUCKET, dst_bucket=BUCKET)
        self.next_start = (DAY0 + self.knobs.days) * US_PER_DAY
        self.cycles = 0
        recs = self.gen.initial()
        self.src.write(ctx.frame(recs))
        self.model = Model()
        self.model.upsert(recs)

    def warm(self) -> None:
        """The first replication ships the initial load and starts the
        persistent checkpoint; one checked cycle warms the write paths."""
        self.replicate()
        for op in self.cycle_ops():
            run_checked(op)

    def units(self) -> Iterator[List[Op]]:
        while True:
            yield self.cycle_ops()

    def stored(self):
        return self.root, self.model

    def replicate(self):
        q = start_replication(self.ctx.spark, self.root, self.replica_root,
                              self.settings, self.ckpt, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"replication failed: {q.exception()}")
        return q

    def cycle_ops(self) -> List[Op]:
        ctx, tr, gen = self.ctx, self.ctx.tracer, self.gen
        start = self.next_start
        stop = start + self.window_us
        self.next_start = stop
        self.cycles += 1
        st: Dict[str, object] = {}

        def snapshot(op):
            # files before a rewrite, for the rewritten-bytes counter
            st["before"] = parquet_bytes(self.root) if tr.active else None

        def rewritten(op):
            if st["before"] is not None:
                after = parquet_bytes(self.root)
                op.rewritten_bytes = sum(size for p, size in after.items()
                                         if p not in st["before"])

        # 1. append a batch: fresh records plus belated duplicates
        def w_prepare(op):
            st["batch"] = gen.batch(gen.names, start, stop, self.batch,
                                    self.model.live())
            st["frame"] = ctx.frame(st["batch"])

        def w_call(op):
            with tr.span("store.write"):
                self.src.write(st["frame"])

        def w_check(op, _):
            self.model.upsert(st["batch"])
            st["write_end"] = op.end
            op.result_rows = len(st["batch"])
            return None

        # 2. replicate on the persistent checkpoint
        def r_call(op):
            with tr.span("streaming.replicate"):
                q = self.replicate()
            op.groups.append(str(q.runId))
            return sum(p["numInputRows"] for p in q.recentProgress)

        def r_check(op, shipped):
            op.result_rows = shipped
            op.lag_ms = (op.end - st["write_end"]) * 1e3
            return self.check_replica(st["batch"], start, stop)

        # 3. query-driven remove inside the new window
        rm_entry = gen.choice(gen.names)
        rm_when = gen.choice([
            {"&status": {"$eq": "warn"}},
            {"&score": {"$lt": round(gen.uniform(5, 20), 1)}},
            {"$and": [{"&flag": {"$eq": False}},
                      {"&score": {"$gt": round(gen.uniform(60, 90), 1)}}]},
        ])

        def rm_call(op):
            with tr.span("store.read"):
                records = self.src.read()
            if tr.active:
                with tr.span("condition.parse"):
                    parse_when(copy.deepcopy(rm_when))
            with tr.span("store.remove"):
                return ctx.qe.remove_query(self.src, records,
                                           entries=[rm_entry], start=start,
                                           stop=stop,
                                           when=copy.deepcopy(rm_when))

        def rm_check(op, n):
            rewritten(op)
            want = self.model.query([rm_entry], start, stop, rm_when)
            op.result_rows = op.mutated = n
            if n != want.count:
                return f"removed {n} != expected {want.count}"
            self.model.remove((r.entry, r.ts) for r in want.rows)
            return None

        # 4. label update batch
        def u_prepare(op):
            pool = [r for r in self.model.live() if start <= r.ts < stop]
            picks = [pool[i] for i in sorted(gen.rng.choice(
                len(pool), size=min(self.relabel, len(pool)), replace=False))]
            st["updates"] = [
                (r.entry, r.ts,
                 {"flag": "false" if r.labels.get("flag") == "true" else "true",
                  "reviewed": "yes"},
                 ["tag"]) for r in picks]
            st["uframe"] = ctx.spark.createDataFrame(
                [(BUCKET, e, t, u, rm) for e, t, u, rm in st["updates"]],
                UPDATE_SCHEMA)
            snapshot(op)

        def u_call(op):
            with tr.span("store.update_labels"):
                return self.src.update_labels(st["uframe"])

        def u_check(op, n):
            rewritten(op)
            op.result_rows = op.mutated = n
            if n != len(st["updates"]):
                return f"updated {n} != expected {len(st['updates'])}"
            for e, t, u, rm in st["updates"]:
                self.model.update_labels(e, t, u, rm)
            return None

        ops = [Op("write", w_call, w_check, w_prepare),
               Op("replicate", r_call, r_check),
               Op("remove", rm_call, rm_check, snapshot),
               Op("update", u_call, u_check, u_prepare),
               # 5. read-after-write: the window shows the batch, the
               # removal and the new labels
               query_op(ctx, self.src, self.model, None, start, stop, None,
                        kind="check")]
        if self.cycles % self.compact_every == 0:
            def c_call(op):
                with tr.span("store.compact"):
                    self.src.compact()
            ops.append(Op("compact", c_call, lambda op, _: None))
        return ops

    def check_replica(self, batch: List[Rec], start: int, stop: int) -> Optional[str]:
        """The replica holds the newest FINISHED version of every key the
        batch wrote and nothing of its non-FINISHED fresh records."""
        from pyspark.sql import functions as F

        dup_ts = sorted({r.ts for r in batch if not start <= r.ts < stop})
        in_batch = (F.col("ts") >= start) & (F.col("ts") < stop)
        if dup_ts:
            in_batch = in_batch | F.col("ts").isin(dup_ts)
        got = {(r["entry"], r["ts"]): row_digest(r["entry"], r["ts"],
                                                 r["payload"], r["labels"])
               for r in self.dst.read().where(in_batch)
               .select("entry", "ts", "payload", "labels").collect()}
        for r in batch:
            live = self.model.get(r.entry, r.ts)
            key = (r.entry, r.ts)
            fresh = start <= r.ts < stop
            if live.state == STATE_FINISHED:
                if got.get(key) != live.digest:
                    what = "missing" if key not in got else "a stale version"
                    return (f"replica holds {what} of {r.entry}@{r.ts}"
                            f" ({'fresh' if fresh else 'belated duplicate'})")
            elif fresh and key in got:
                return f"replica holds non-FINISHED {r.entry}@{r.ts}"
        return None


WORKLOADS = {w.name: w for w in (NarrowRead, WideScan, IngestMutate)}


def run_checked(op: Op) -> None:
    """Run an op outside the measured loop; a wrong answer aborts set-up."""
    import time

    if op.prepare:
        op.prepare(op)
    result = op.call(op)
    op.end = time.perf_counter()
    err = op.check(op, result)
    if err:
        raise RuntimeError(f"set-up {op.kind} op: {err}")
