"""Offline three-tier fuzz hunt (committed form of the round-3/4 ad-hoc
seed hunts).

Reuses the generator + hostile value pool from tests/test_condition_fuzz.py
and runs MANY seeds (default 1000..1200) of (conditions x rows), comparing
the flat compiler, the struct compiler, the expression-string tier (r11),
and the interpreter row-for-row —
non-strict semantics (errors -> excluded).  Any divergence prints the
minimal (cond, labels, tier, got, want) tuple; pin each find into
tests/test_columns_equiv.py / test_condition_fuzz.py before fixing.

Usage: python tools/fuzz_hunt.py [first_seed] [n_seeds]
"""
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from pyspark.sql import functions as F  # noqa: E402

from reductstore_spark.condition import values as V  # noqa: E402
from reductstore_spark.condition.columns import ColumnCompiler  # noqa: E402
from reductstore_spark.condition.fastcols import (  # noqa: E402
    FlatCompiler,
    Unsupported,
)
from reductstore_spark.condition.interpreter import (  # noqa: E402
    Context,
    Evaluator,
)
from reductstore_spark.condition.parser import parse_when  # noqa: E402
from reductstore_spark.condition.strtier import predicate_sql  # noqa: E402
from reductstore_spark.session import get_session  # noqa: E402
from test_condition_fuzz import gen_cond, gen_rows, interp_row  # noqa: E402

FIRST = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
N = int(sys.argv[2]) if len(sys.argv) > 2 else 200


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_session("fuzzhunt", master=f"local[{cpus}]",
                        shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    total_conds = 0
    total_finds = 0
    for seed in range(FIRST, FIRST + N):
        rng = random.Random(seed)
        rows = gen_rows(rng, 30)
        conds = []
        while len(conds) < 30:
            c = gen_cond(rng, 3)
            try:
                node, _ = parse_when(json.loads(json.dumps(c)))
            except V.CondError:
                continue
            conds.append((c, node))
        df = spark.createDataFrame(
            rows, "ts long, labels map<string,string>").coalesce(1)
        cols, meta = [], []
        for i, (c, node) in enumerate(conds):
            cols.append(ColumnCompiler(F.col("ts"), F.col("labels"))
                        .predicate(node).alias(f"s{i}"))
            try:
                cols.append(FlatCompiler(F.col("ts"), F.col("labels"))
                            .predicate(node).alias(f"f{i}"))
                flat_ok = True
            except Unsupported:
                flat_ok = False
            # fourth backend (r11): the expression-string tier
            try:
                cols.append(F.expr(predicate_sql(node)).alias(f"x{i}"))
                str_ok = True
            except Unsupported:
                str_ok = False
            meta.append((c, node, flat_ok, str_ok))
        try:
            res = df.select(*cols).collect()
        except Exception as e:  # noqa: BLE001 — a compile/codegen crash IS a find
            print(f"[seed {seed}] JOB-LEVEL ERROR: {type(e).__name__}: "
                  f"{str(e)[:400]}")
            total_finds += 1
            continue
        total_conds += len(conds)
        for i, (c, node, flat_ok, str_ok) in enumerate(meta):
            want = [interp_row(node, ts, lb) for ts, lb in rows]
            for tier, col in ((("struct", f"s{i}"),)
                              + ((("flat", f"f{i}"),) if flat_ok else ())
                              + ((("string", f"x{i}"),) if str_ok else ())):
                got = [r[col] for r in res]
                if got != want:
                    total_finds += 1
                    for (ts, lb), g, w in zip(rows, got, want):
                        if g != w:
                            print(f"[seed {seed}] {tier} DIVERGES: "
                                  f"cond={json.dumps(c)} ts={ts} "
                                  f"labels={lb} got={g} want={w}")
                            break
        if (seed - FIRST + 1) % 25 == 0:
            print(f"... {seed - FIRST + 1}/{N} seeds, {total_conds} conds, "
                  f"{total_finds} finds", flush=True)
    print(f"DONE: {N} seeds, {total_conds} conditions, {total_finds} finds")
    spark.stop()


if __name__ == "__main__":
    main()
