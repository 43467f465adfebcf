"""Stateful `when` execution: the ordered per-entry interpreter path.

The stateful condition operators ($each_n / $each_t / $gate / $limit) and
the context-padding directives carry mutable state across records of one
ordered scan, per entry (reference builds one filter chain per entry
query: storage/query/historical.rs:72-118, storage/bucket/query.rs:156-185).

Spark mapping: ``groupBy(bucket, entry).applyInPandas`` with rows sorted
by ``ts`` inside each group, running the exact WhenFilter interpreter.
This is the general/correct path; the planner uses Column/window rewrites
whenever the AST allows (see plans/planner.py) because a Python pass over
an entry is the slow path at scale.

Labels travel through Arrow as JSON strings (MapType round-trips through
pandas inconsistently across Arrow versions).
"""

from __future__ import annotations

import json
from typing import Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..condition.ast import Node
from ..condition.interpreter import FilterRecord, WhenFilter
from ..condition.values import Value


def apply_when_stateful(
    df: DataFrame,
    node: Node,
    directives: Dict[str, List[Value]],
    strict: bool = False,
) -> DataFrame:
    """Run the full WhenFilter pipeline (condition + ctx padding +
    select_labels + interrupt) over each (bucket, entry) group in ts order.

    ``df`` must have columns: bucket, entry, ts, labels, computed_labels
    (+ any payload columns, which are carried through untouched).
    """
    out_schema = df.schema
    cols = df.columns
    ser = df.withColumn("__labels_json", F.to_json(F.col("labels"))) \
            .withColumn("__computed_json", F.to_json(F.col("computed_labels")))

    def run(pdf):
        import pandas as pd

        pdf = pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)
        wf = WhenFilter(node, directives, strict)
        keep_rows: List[int] = []
        new_labels: List[Optional[dict]] = []
        for i in range(len(pdf)):
            labels = json.loads(pdf["__labels_json"].iat[i]) if pdf["__labels_json"].iat[i] else {}
            computed = json.loads(pdf["__computed_json"].iat[i]) if pdf["__computed_json"].iat[i] else {}
            rec = FilterRecord(int(pdf["ts"].iat[i]), labels, computed, extra=i)
            emitted = wf.feed(rec)
            if emitted is None:  # $limit Interrupt — stop this entry's scan
                break
            for r in emitted:
                keep_rows.append(r.extra)
                new_labels.append(r.labels)
        out = pdf.iloc[keep_rows].copy() if keep_rows else pdf.iloc[0:0].copy()
        out["__labels_json"] = [json.dumps(lb) for lb in new_labels]
        return out[[*cols, "__labels_json", "__computed_json"]]

    ser_schema = ser.schema
    grouped = ser.groupBy("bucket", "entry").applyInPandas(run, schema=ser_schema)
    return (
        grouped
        .withColumn("labels", F.from_json(F.col("__labels_json"), "map<string,string>"))
        .select(*cols)
    )


# ---------------------------------------------------------------------------
# Slim interpreter: precompute stateless boolean subtrees as JVM Columns,
# run the EXACT WhenFilter over (ts, p0..pk) primitives only
# ---------------------------------------------------------------------------


class _SlimUnsupported(Exception):
    pass


def _slimify(node: Node, preds_out: list) -> Node:
    """Rewrite the AST: every maximal stateless subtree in a BOOLEAN
    position becomes a reference to a precomputed virtual label
    ``__p<i>`` ("true"/"false", ABSENT when the subtree errored — a
    missing label raises exactly where the original evaluation would).
    Stateful structure (and therefore all evaluation-order side effects)
    is preserved verbatim.  Raises _SlimUnsupported for shapes whose
    stateless parts sit in value positions (stateful operands that are
    not constants, stateful ops under comparisons)."""
    from ..condition.ast import Const, LabelRef, Op, is_stateful

    if not is_stateful(node):
        idx = len(preds_out)
        preds_out.append(node)
        return LabelRef(f"__p{idx}")
    if isinstance(node, Op):
        if node.name in ("$and", "$or", "$not", "$xor"):
            return Op(node.name, [_slimify(o, preds_out) for o in node.operands])
        if node.name in ("$each_n", "$each_t", "$limit"):
            if not all(isinstance(o, Const) for o in node.operands):
                raise _SlimUnsupported(node.name)
            return node
        if node.name == "$gate":
            if not isinstance(node.operands[0], Const):
                raise _SlimUnsupported("$gate duration")
            return Op("$gate", [node.operands[0],
                                _slimify(node.operands[1], preds_out)])
    raise _SlimUnsupported(getattr(node, "name", type(node).__name__))


def apply_when_stateful_slim(
    df: DataFrame,
    node: Node,
    directives: Dict[str, List[Value]],
    strict: bool = False,
    label_columns=None,
) -> Optional[DataFrame]:
    """Slim-record WhenFilter replay; None when the shape doesn't fit.

    The full interpreter path (above) ships every column through Arrow
    and JSON-parses the labels map per record.  Here the stateless
    subtrees evaluate JVM-side (flat compiler), the Python stage sees
    only (bucket, entry, ts, __p0..__pk) and runs the UNchanged
    WhenFilter — ctx paddings, $limit interrupt and arbitrary stateful
    nesting all behave identically — and the kept keys semi-join back
    on (bucket, entry, ts), the record ID.  Non-strict only: the
    virtual-label indirection would change strict error messages.
    """
    if strict:
        return None
    if directives.get("#select_labels") is not None:
        # WhenFilter applies label projection on emit; the slim records
        # carry no labels to project — use the full path
        return None
    from ..condition.fastcols import Unsupported
    from ..plans.planner import _compile

    preds: List[Node] = []
    try:
        slim_node = _slimify(node, preds)
        # 3-state primitive: "true" / "false" / null where the subtree
        # errored
        _, lanes, _ = _compile(df, [], False, label_columns, lanes=preds,
                               bind=False, last="flat")
    except (_SlimUnsupported, Unsupported):
        return None
    cols = [F.col("bucket"), F.col("entry"), F.col("ts")]
    for i in range(len(preds)):
        t, e = lanes[2 * i:2 * i + 2]
        cols.append(F.when(e, F.lit(None).cast("string"))
                    .when(t, "true").otherwise("false").alias(f"__p{i}"))

    np_ = len(preds)
    dirs = dict(directives)

    def run(pdf):
        pdf = pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)
        wf = WhenFilter(slim_node, dirs, False)
        keep: List[int] = []
        pcols = [pdf[f"__p{j}"] for j in range(np_)]
        ts_col = pdf["ts"]
        for i in range(len(pdf)):
            labels = {}
            for j in range(np_):
                v = pcols[j].iat[i]
                if v is not None:
                    labels[f"__p{j}"] = v
            emitted = wf.feed(FilterRecord(int(ts_col.iat[i]), labels, {},
                                           extra=i))
            if emitted is None:  # $limit Interrupt
                break
            keep.extend(r.extra for r in emitted)
        base = pdf.iloc[keep] if keep else pdf.iloc[0:0]
        return base[["bucket", "entry", "ts"]]

    kept = df.select(*cols).groupBy("bucket", "entry").applyInPandas(
        run, schema="bucket string, entry string, ts long")
    return df.join(kept, ["bucket", "entry", "ts"], "left_semi")


# ---------------------------------------------------------------------------
# Vectorized time-stateful walks ($each_t / $gate fast tier)
#
# The general interpreter above ships EVERY column through Arrow and runs
# the full AST evaluator per record (labels JSON-parsed row by row).  For
# the dominant shape — a top-level conjunction whose only stateful member
# is $each_t(const) or $gate(const, stateless-input) — the stateless
# parts compile to JVM Columns and the per-entry walk only needs
# (ts, pref[, inp, ierr]) int/bool arrays: the Python stage touches four
# primitive columns instead of the whole record, and the kept (bucket,
# entry, ts) keys semi-join back against the full rows.  ts is the
# record ID within an entry (storage.proto:38), so the join-back is
# exact.  See plans/planner.py:_rewrite_time_stateful for the routing.
# ---------------------------------------------------------------------------


def each_t_keys(keys: DataFrame, thresh_us: int) -> DataFrame:
    """Kept (bucket, entry, ts) under $each_t decimation.

    ``keys`` columns: bucket, entry, ts, __pref (bool: the preceding
    conjuncts passed, i.e. the operator is evaluated for this record).
    Exact replay of each_t.rs:36-66: the first evaluated record primes
    last_timestamp (kept only for period <= 0); time going backwards
    resets; a record is kept when >= thresh elapsed since the last KEPT
    record, which then becomes the new anchor.
    """

    def run(pdf):
        import numpy as np

        pdf = pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)
        ts = pdf["ts"].to_numpy()
        pref = pdf["__pref"].to_numpy()
        keep = np.zeros(len(ts), dtype=bool)
        last = None
        for i in range(len(ts)):
            if not pref[i]:
                continue
            t = int(ts[i])
            if last is None:
                last = t
            if t < last:
                last = t
                continue
            if t - last >= thresh_us:
                keep[i] = True
                last = t
        return pdf.loc[keep, ["bucket", "entry", "ts"]]

    return keys.groupBy("bucket", "entry").applyInPandas(
        run, schema="bucket string, entry string, ts long")


def gate_keys(keys: DataFrame, duration_us: int) -> DataFrame:
    """Kept (bucket, entry, ts) under the $gate edge-triggered window.

    ``keys`` columns: bucket, entry, ts, __pref (operator evaluated),
    __inp (input expression truthiness), __ierr (input expression
    errored — the record is excluded, and per the reference's statement
    order only the backwards-reset + last_ts update have run by the time
    the error propagates, gate.rs:78-121 / interpreter._apply_gate).
    """

    def run(pdf):
        import numpy as np

        pdf = pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)
        ts = pdf["ts"].to_numpy()
        pref = pdf["__pref"].to_numpy()
        inp = pdf["__inp"].to_numpy()
        ierr = pdf["__ierr"].to_numpy()
        keep = np.zeros(len(ts), dtype=bool)
        last = None
        deadline = None
        prev = False
        reset = False
        for i in range(len(ts)):
            if not pref[i]:
                continue
            t = int(ts[i])
            if last is not None and t < last:
                deadline = None
                prev = False
                reset = False
            last = t
            if ierr[i]:
                continue
            x = bool(inp[i])
            # 1) expire active window, arm reset latch
            if deadline is not None and t >= deadline:
                deadline = None
                reset = True
            # 2) after timeout, force false until input seen false once
            if reset:
                if not x:
                    reset = False
                prev = x
                continue
            # 3) open a new window only on a rising edge
            if deadline is None and not prev and x:
                deadline = t + duration_us
            # 4) while open, mirror input; else force false
            if deadline is not None and t < deadline:
                keep[i] = x
            prev = x
        return pdf.loc[keep, ["bucket", "entry", "ts"]]

    return keys.groupBy("bucket", "entry").applyInPandas(
        run, schema="bucket string, entry string, ts long")
