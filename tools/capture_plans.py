#!/usr/bin/env python
"""Capture `.explain("formatted")` output + phase timings for registry
queries (guide §1: measure first, read the plan).

Per query writes ``<out_dir>/<name><suffix>.txt`` containing the
formatted physical plan, and prints one JSON line per query with the
phase decomposition:

    build  -- python fn(spark, sf_dir) wall (plan construction, incl.
              any eager gate work the entry does)
    plan   -- analysis + optimization + physical planning wall
              (queryExecution via explain, discarded)
    exec   -- the bench's timed action: agg(sum(xxhash64(*cols))).collect()

Usage: python tools/capture_plans.py [--out-dir plans/r10]
       [--suffix _before] [--only name1,name2] [--no-exec]
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv = sys.argv[1:]

    def opt(name, default=None):
        if name not in argv:
            return default
        i = argv.index(name)
        if i + 1 >= len(argv):  # trailing flag without a value (ADVICE r10)
            sys.exit(f"usage: {name} requires a value")
        return argv[i + 1]

    out_dir = opt("--out-dir", "plans/r10")
    suffix = opt("--suffix", "_before")
    only = opt("--only")
    no_exec = "--no-exec" in argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())

    from pyspark.sql import functions as F

    from reductstore_spark.caching import release_caches
    from reductstore_spark.entry_queries import BENCH_EXCLUDE, prep
    from reductstore_spark.entry_queries import QUERIES as ALL_QUERIES
    from reductstore_spark.session import get_session

    names = ([n.strip() for n in only.split(",")] if only
             else [n for n in ALL_QUERIES if n not in BENCH_EXCLUDE])

    spark = get_session("plans", master=f"local[{cpus}]",
                        shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    prep(spark)
    os.makedirs(out_dir, exist_ok=True)

    timings = {}
    for name in names:
        fn, _sql = ALL_QUERIES[name]
        spark.sparkContext.setJobDescription(f"plans:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        t2 = time.perf_counter()
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        t3 = t2
        if not no_exec:
            df.agg(F.sum(F.xxhash64(*df.columns))).collect()
            t3 = time.perf_counter()
        release_caches()
        rec = {"query": name, "build": round(t1 - t0, 3),
               "plan": round(t2 - t1, 3), "exec": round(t3 - t2, 3)}
        timings[name] = rec
        print(json.dumps(rec), flush=True)

    with open(os.path.join(out_dir, f"phase_timings{suffix}.json"), "w") as fh:
        json.dump(timings, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
