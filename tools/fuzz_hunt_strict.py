"""Strict-mode three-tier fuzz hunt (round-5 extension of fuzz_hunt.py).

Non-strict fuzzing compares only the boolean outcome (errors -> excluded);
strict mode additionally surfaces WHICH error and its exact message — the
reference aborts the query with that text (filters/when.rs:81-95), so the
three tiers must agree on (errored?, message, value) per row, not just on
the filter bit.  This is where $cast of hostile spellings, arithmetic at
the i64 edges, and missing-reference text diverge first.

Instead of letting strict raise (which aborts the whole frame at the
first bad row), both column tiers are compiled in message-threading form
and the (value, emsg) pair is SELECTED per row, then compared against
the interpreter's try/except outcome row-for-row.

Usage: python tools/fuzz_hunt_strict.py [first_seed] [n_seeds]
"""
import json
import os
import random
import sys
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from pyspark.sql import functions as F  # noqa: E402

from reductstore_spark.condition import values as V  # noqa: E402
from reductstore_spark.condition.columns import (  # noqa: E402
    STRUCT_LAMBDA_BUDGET,
    ColumnCompiler,
    _as_bool,
    lambda_depth_estimate,
)
from reductstore_spark.condition.fastcols import (  # noqa: E402
    FlatCompiler,
    Unsupported,
    _emsg,
    _truthy,
)
from reductstore_spark.condition.interpreter import (  # noqa: E402
    Context,
    Evaluator,
)
from reductstore_spark.condition.parser import parse_when  # noqa: E402
from reductstore_spark.session import get_session  # noqa: E402
from test_condition_fuzz import gen_cond, gen_rows  # noqa: E402

FIRST = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
N = int(sys.argv[2]) if len(sys.argv) > 2 else 100


def interp_strict(node, ts, labels):
    """(value_or_None, errmsg_or_None) — the reference's strict outcome."""
    try:
        return V.as_bool(Evaluator(node).apply(Context(ts, labels))), None
    except V.CondError as e:
        return None, str(e)


def _compile_chunk(df, chunk):
    """Build both column tiers for a chunk of (index, (cond, node)) and
    collect them in one select.  Returns (rows, meta); meta carries
    per-tier availability flags (struct_ok, flat_ok).

    Struct-tier gate (r10): Catalyst's nested-lambda resolution is
    super-linear in let-nesting depth — r9's depth-4 block stalled a
    driver core >70 min on ONE condition, and measurement this round
    showed the stalling tier was the STRUCT one (the same conditions'
    flat trees are 83-244k nodes, i.e. seconds).  Conditions past
    STRUCT_LAMBDA_BUDGET skip the struct columns; the flat tier (its
    own compile-size budget inside) still runs when it can, compared
    against the interpreter as always."""
    cols, meta = [], []
    for i, (c, node) in chunk:
        struct_ok = lambda_depth_estimate(node) <= STRUCT_LAMBDA_BUDGET
        if struct_ok:
            sv = ColumnCompiler(F.col("ts"), F.col("labels")).value(node)
            cols.append(_as_bool(sv).alias(f"s{i}v"))
            cols.append(sv["e"].alias(f"s{i}e"))
        try:
            fc = FlatCompiler(F.col("ts"), F.col("labels"), strict=True)
            fv = fc.compile(node)
            cols.append(F.coalesce(_truthy(fv), F.lit(False))
                        .alias(f"f{i}v"))
            cols.append(_emsg(fv).alias(f"f{i}e"))
            meta.append((i, c, node, struct_ok, True))
        except Unsupported:
            meta.append((i, c, node, struct_ok, False))
    return df.select(*cols).collect(), meta


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_session("fuzzstrict", master=f"local[{cpus}]",
                        shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # Profiled on seed 8250: the per-seed cost is NOT Janino codegen —
    # disabling whole-stage codegen changed nothing — it is eager
    # Catalyst ANALYSIS of one 120-column select over the deep
    # error-threading expression trees (~390 s of the ~500 s seed,
    # single driver thread).  Analysis parallelizes across independent
    # Datasets, so the 30 conditions split into chunks analyzed +
    # collected concurrently from driver threads: measured 3.5x
    # (495 s -> 142 s per seed), which is what lets an 80-seed block
    # fit inside a round.  Semantics are unchanged — same tiers, same
    # per-row compare, and a chunk-level job error still counts as a
    # find for that chunk.
    chunk_sz = int(os.environ.get("SPARK_FUZZ_CHUNK", "5"))
    workers = int(os.environ.get("SPARK_FUZZ_THREADS", "6"))
    # generator recursion depth: 3 matches the in-suite fuzz; deeper
    # trees compose more operator interactions per condition (and cost
    # proportionally more analysis time per seed)
    depth = int(os.environ.get("SPARK_FUZZ_DEPTH", "3"))
    total_conds = 0
    total_finds = 0
    total_chunk_errors = 0
    for seed in range(FIRST, FIRST + N):
        rng = random.Random(seed)
        rows = gen_rows(rng, 30)
        conds = []
        while len(conds) < 30:
            c = gen_cond(rng, depth)
            try:
                node, _ = parse_when(json.loads(json.dumps(c)))
            except V.CondError:
                continue
            conds.append((c, node))
        df = spark.createDataFrame(
            rows, "ts long, labels map<string,string>").coalesce(1)
        items = list(enumerate(conds))
        chunks = [items[j:j + chunk_sz]
                  for j in range(0, len(items), chunk_sz)]
        with ThreadPoolExecutor(max_workers=workers) as ex:
            futures = [ex.submit(_compile_chunk, df, ch) for ch in chunks]
            for fut in futures:
                try:
                    res, meta = fut.result()
                except Exception as e:  # noqa: BLE001 — a crash IS a find
                    # CHUNK-level: one Spark job (5 conditions) failed to
                    # analyze/collect.  Counted SEPARATELY from semantic
                    # finds since r10 so finds/conds totals stay
                    # comparable across rounds (r9 ADVICE: a chunk error
                    # previously inflated `finds` by one per chunk and
                    # silently dropped its conditions from total_conds).
                    print(f"[seed {seed}] CHUNK-LEVEL ERROR: "
                          f"{type(e).__name__}: {str(e)[:400]}")
                    total_chunk_errors += 1
                    continue
                total_conds += len(meta)
                for i, c, node, struct_ok, flat_ok in meta:
                    want = [interp_strict(node, ts, lb) for ts, lb in rows]
                    for tier, vcol, ecol, on in (
                            ("struct", f"s{i}v", f"s{i}e", struct_ok),
                            ("flat", f"f{i}v", f"f{i}e", flat_ok)):
                        if not on:
                            continue
                        for r, (wv, we), (ts, lb) in zip(res, want, rows):
                            gv, ge = r[vcol], r[ecol]
                            if we is not None:
                                if ge != we:
                                    print(f"[seed {seed}] {tier} STRICT-MSG "
                                          f"DIVERGES: cond={json.dumps(c)} "
                                          f"row=({ts},{lb}) got={ge!r} "
                                          f"want={we!r}")
                                    total_finds += 1
                                    break
                            else:
                                if ge is not None or bool(gv) != bool(wv):
                                    print(f"[seed {seed}] {tier} STRICT-VAL "
                                          f"DIVERGES: cond={json.dumps(c)} "
                                          f"row=({ts},{lb}) got=({gv},{ge!r}) "
                                          f"want=({wv},None)")
                                    total_finds += 1
                                    break
        # flush every seed: minutes per seed even chunked — the partial
        # totals ARE the evidence when a block outruns a round
        print(f"... {seed - FIRST + 1}/{N} seeds, {total_conds} conds, "
              f"{total_finds} finds, {total_chunk_errors} chunk errors",
              flush=True)
    print(f"DONE: {N} seeds, {total_conds} conditions, {total_finds} finds, "
          f"{total_chunk_errors} chunk errors", flush=True)


if __name__ == "__main__":
    main()
