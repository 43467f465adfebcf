"""Query planner: choose the fastest correct execution for a `when` plan.

Plan tiers (fastest first):

1. **Column path** — stateless AST, no context padding: a single Catalyst
   predicate (whole plan stays in the JVM; filters get pushed toward the
   scan where possible).
2. **Window path** — stateless AST with #ctx_before/#ctx_after: match
   propagation with a window aggregate (ROWS frame for counts, RANGE on
   µs for durations) per entry.  Emission set proof: a record r is
   emitted iff some match m has r in [m - before, m + after] — the drain
   semantics of the reference's ctx buffer/latch produce exactly the
   union of those intervals (filters/when/ctx_before.rs:60-82,
   ctx_after.rs:52-70).
3. **Windowed counter rewrite** — top-level $and with exactly one
   stateful conjunct that is $each_n(const) or $limit(const) and no ctx
   padding: the counter increments only when the preceding conjuncts are
   truthy (AllOf short-circuits, all_of.rs), so a running
   sum-of-prefix-matches over a ts-ordered per-entry window replays it.
4. **Vectorized time-stateful walk** — top-level $and with exactly one
   stateful conjunct that is $each_t(const) or $gate(const, stateless
   input) and no ctx padding: stateless parts compile to JVM Columns,
   the per-entry walk sees only (ts, pref[, inp, ierr]) primitives, and
   kept keys semi-join back on (bucket, entry, ts) — the record ID.
5. **Interpreter path** — anything else (stateful ops nested under
   non-conjunctive logic, non-const operands, ctx+stateful interplay):
   exact per-entry ordered replay via applyInPandas
   (operators/stateful.py).

Every stateless part a tier needs as a Column goes through ONE predicate
ladder, ``_compile``; a rung that refuses a condition (``Unsupported``)
hands it to the next:

a. **text flat tier** — the flat compiler run over SQL text
   (condition/strtier.py): ~2 py4j calls per query instead of ~10^3 of
   Column construction.  It refuses shapes over the layer-2 compile-size
   screen (their exact layer-3 measurement needs JVM Columns) and text
   over 64 KiB.
b. **Column flat tier** — the same compiler over pyspark Columns
   (condition/fastcols.py), with its full three-layer size budget.
c. **struct tier** — the tagged-struct compiler (condition/columns.py),
   for conditions within ``STRUCT_LAMBDA_BUDGET``.
d. **row tier** — the per-row interpreter UDF (condition/rowtier.py).

Callers that need the (truthy, err) lanes, or that have an exact
stateful fallback of their own, stop the ladder early.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..condition import fastcols as _fc
from ..condition import strtier as _st
from ..condition import values as V
from ..condition.ast import ComputedRef, Const, LabelRef, Node, Op, is_stateful
from ..condition.columns import (
    STRUCT_LAMBDA_BUDGET,
    compile_predicate,
    lambda_depth_estimate,
)
from ..condition.fastcols import Unsupported
from ..condition.parser import parse_when
from ..condition.values import CondError, Value
from ..operators.stateful import apply_when_stateful, apply_when_stateful_slim

_PARTITION_COLS = ("bucket", "entry")


def plan_when(df: DataFrame, when, strict: bool = False) -> DataFrame:
    """Apply a `when` condition (JSON dict/string or pre-parsed AST tuple)
    to a records DataFrame with exact reference semantics."""
    if isinstance(when, tuple):
        node, directives = when
    else:
        node, directives = parse_when(when)
    return plan_parsed(df, node, directives, strict)


def plan_parsed(df: DataFrame, node: Node, directives: Dict[str, List[Value]],
                strict: bool = False, label_columns=None) -> DataFrame:
    check_label_columns(label_columns)
    node = _flatten_and(node)
    ctx_before = directives.get("#ctx_before")
    ctx_after = directives.get("#ctx_after")
    has_ctx = ctx_before is not None or ctx_after is not None

    if not is_stateful(node):
        if not has_ctx:
            out = _where(df, node, strict, label_columns)
        else:
            out = _window_ctx(df, node, directives, strict, label_columns)
        return _select_labels(out, directives)

    if not has_ctx:
        rewritten = _rewrite_counter_conjunct(df, node, strict, label_columns)
        if rewritten is not None:
            return _select_labels(rewritten, directives)
        rewritten = _rewrite_time_stateful(df, node, strict, label_columns)
        if rewritten is not None:
            return _select_labels(rewritten, directives)
    else:
        # ctx + $each_n: the counter is ctx-independent, so the match
        # flags come from the counter window and the paddings propagate
        # them — both stages stay JVM-side
        flagged = _rewrite_counter_conjunct(df, node, strict, label_columns,
                                            as_flags=True)
        if flagged is not None:
            marked, added = flagged
            return _select_labels(_propagate_ctx(marked, directives, added),
                                  directives)

    # slim interpreter: exact WhenFilter over precomputed (ts, p0..pk)
    # primitives — covers ctx+stateful interplay without shipping whole
    # records through Arrow
    slim = apply_when_stateful_slim(df, node, directives, strict,
                                    label_columns)
    if slim is not None:
        return _select_labels(slim, directives)

    return apply_when_stateful(df, node, directives, strict)


def check_label_columns(label_columns) -> None:
    """Virtual-label expressions are SQL text (``schema.
    events_label_columns``); the compile tiers wrap them as needed."""
    for name, v in (label_columns or {}).items():
        if not isinstance(v, str):
            raise TypeError(f"label_columns['{name}'] must be SQL text, "
                            f"not {type(v).__name__}")


def _flatten_and(node: Node) -> Node:
    """Splice nested $and conjuncts: ``$and[$and[a,b],c] -> $and[a,b,c]``.

    Semantics-preserving — AllOf's left-to-right short-circuit/error fold
    is associative (a falsy/erroring operand stops evaluation at the same
    point either way), and the parser's implicit root AllOf wraps every
    user-written $and in exactly this shape (parser.rs:54-59), which
    otherwise hides the single-stateful-conjunct pattern from the window
    and walk rewrite tiers."""
    if not (isinstance(node, Op) and node.name == "$and"):
        return node
    ops: List[Node] = []
    for o in node.operands:
        o2 = _flatten_and(o)
        if isinstance(o2, Op) and o2.name == "$and":
            ops.extend(o2.operands)
        else:
            ops.append(o2)
    return Op("$and", ops)


def _where(df: DataFrame, node: Node, strict: bool,
           label_columns=None) -> DataFrame:
    df2, (pred,), added = _compile(df, [node], strict, label_columns)
    out = df2.where(pred)
    return out.drop(*added) if added else out


def _predicate(df: DataFrame, node: Node, strict: bool, label_columns=None):
    """Self-contained filter predicate (no bind projection), for callers
    that filter a frame they do not own, e.g. a stream."""
    return _compile(df, [node], strict, label_columns, bind=False)[1][0]


# -- the predicate ladder -------------------------------------------------


def _compile(df: DataFrame, nodes: Sequence[Node], strict: bool = False,
             label_columns=None, lanes: Sequence[Node] = (),
             bind: bool = True, last: str = "row"):
    """Compile stateless conditions down the ladder (module docstring).

    ``nodes`` compile to filter predicates and ``lanes`` to null-safe
    ``(truthy, err)`` pairs; all of them share one rung.  Returns
    ``(df2, cols, added)``: ``cols`` holds one predicate per node, then
    two Columns per lane node; ``df2`` is ``df`` plus the bind columns
    ``added`` (the caller drops them after use).

    ``bind=False`` compiles leaves inline and adds no columns.  ``last``
    is the last rung a caller accepts: ``"flat"`` or ``"struct"`` raise
    ``Unsupported`` where the ladder would go on.  Lanes exist on the
    flat rungs only.
    """
    computed = "computed_labels" if "computed_labels" in df.columns else None
    for m in (_st._M, _fc):
        try:
            return _flat(m, df, nodes, lanes, strict, label_columns or {},
                         computed, bind)
        except Unsupported:
            pass
    if lanes or last == "flat":
        raise Unsupported("outside the flat tier")
    # struct tier unless its nested-lambda analysis would stall (deep
    # conditions past the flat compile-size budget land here) — then the
    # bounded per-row interpreter tier (reference parity: condition.rs
    # applies the AST per record)
    deep = [lambda_depth_estimate(n) > STRUCT_LAMBDA_BUDGET for n in nodes]
    if any(deep) and last == "struct":
        raise Unsupported("over the struct-tier lambda budget")
    from ..condition.rowtier import interpreter_predicate
    return df, [interpreter_predicate(n, strict, computed_col=computed) if d
                else compile_predicate(n, strict=strict, computed_col=computed)
                for n, d in zip(nodes, deep)], []


def _flat(m, df: DataFrame, nodes, lanes, strict: bool, label_columns,
          computed: Optional[str], bind: bool):
    """One flat rung: ``m`` is ``fastcols`` (Columns) or strtier's text
    instance of it; both run the same code below.

    Bound (``bind=True``): every distinct referenced label gets its
    (raw, num, flt, lng) derivation materialized once in a projection;
    predicates then reference those attributes, keeping generated methods
    small (with full leaf derivations inlined at every reference,
    whole-stage codegen blew past Janino's 64 KB method limit; see
    BENCH_r01 tail).

    The projection carries a non-deterministic dummy column as a
    predicate-pushdown barrier: PushPredicateThroughNonJoin would inline
    the aliases once per reference and re-explode the expression.  The
    time-range / state / entry filters are applied BELOW this projection
    (query.py _scan), so Parquet pushdown and partition pruning are
    unaffected; `when` label predicates never reach the scan anyway
    (map lookups / JSON extraction aren't pushable).
    """
    fn, text = m.F, m is _st._M
    if text:
        for n in (*nodes, *lanes):
            _st._screen(n, strict)
    adds: List[Tuple[str, object]] = []  # (alias, expression)
    label_fvs = computed_fvs = None
    if bind:
        lnames, cnames = set(), set()
        for n in (*nodes, *lanes):
            _collect_refs(n, lnames, cnames)
        label_fvs = bind_leaves(m, lnames, label_columns, adds)
        if computed:
            computed_fvs = bind_leaves(m, cnames, {}, adds, "cb", computed)
    compiler = m.FlatCompiler(fn.col("ts"), fn.col("labels"),
                              fn.col(computed) if computed else None,
                              label_columns=label_columns,
                              label_fvs=label_fvs, computed_fvs=computed_fvs,
                              strict=strict)
    groups = [[_wide_predicate(m, compiler, n, adds) if bind
               else compiler.predicate(n)] for n in nodes]
    for n in lanes:
        fv = compiler.compile(n)
        groups.append([fn.coalesce(m._truthy(fv), fn.lit(False)),
                       fn.coalesce(m._err(fv), fn.lit(False))])

    if text:
        # the text cap counts what the SQL parser sees in one piece: the
        # whole bound projection, or each inline expression
        sizes = [[c.s for g in groups for c in g] + [c.s for _, c in adds]] \
            if bind else [[c.s for c in g] for g in groups]
        for texts in sizes:
            total = sum(len(t) for t in texts)
            if total > _st._MAX_TEXT:
                raise Unsupported(f"string tier: {total} chars of SQL text")

    cols = [c for g in groups for c in g]
    added = []
    if adds:
        if text:
            df = df.selectExpr(
                "*", *[f"({c.s}) AS {_st.sql_ident(a)}" for a, c in adds],
                "monotonically_increasing_id() AS __lb_barrier")
        else:
            df = df.select(
                "*", *[c.alias(a) for a, c in adds],
                F.monotonically_increasing_id().alias("__lb_barrier"))
        # the barrier only works if (a) a project field is
        # nondeterministic — PushPredicateThroughNonJoin skips such
        # projects entirely — and (b) the predicate references it, or
        # ColumnPruning strips the field and re-enables the push.
        # OR-ing an always-false comparison on the nondeterministic id
        # satisfies (b) without changing any result.
        never = fn.col("__lb_barrier") < fn.lit(-1)
        cols = [c | never for c in cols]
        added = [a for a, _ in adds] + ["__lb_barrier"]
    if text:
        cols = [F.expr(c.s) for c in cols]
    return df, cols, added


def bind_leaves(m, names, label_columns, adds: list, prefix: str = "lb",
                source: str = "labels") -> dict:
    """Bind the (raw, num, flt, lng) parse of each named leaf once, as
    ``adds`` entries ``__<prefix>{r,n,f,l}<i>``; returns name -> the four
    attribute Columns, FlatCompiler's ``label_fvs``/``computed_fvs``.
    ``m`` is the compiler module (fastcols or its text instance)."""
    fn = m.F
    fvs = {}
    for i, name in enumerate(sorted(names)):
        raw = (fn.expr(label_columns[name]) if name in label_columns
               else fn.element_at(fn.col(source), fn.lit(name)))
        aliases = [f"__{prefix}{k}{i}" for k in "rnfl"]
        adds.extend(zip(aliases, (raw, *m.label_parts(raw))))
        fvs[name] = tuple(fn.col(a) for a in aliases)
    return fvs


def _wide_predicate(m, compiler, node: Node, adds: list):
    """Predicate for ``node`` over bound leaves.  A wide top-level
    conjunction additionally binds each operand's (truthy, err[, emsg])
    as attributes: _logical's flat fold references every operand O(n)
    times, and with heavy operand trees (five date extractions in
    when_date2) the inlined expression blew past Janino's 64 KB method
    limit even with leaves bound — the count-aggregate stage then ran
    interpreted.  Bound conjuncts make the fold a combination of
    attribute reads."""
    fn = m.F
    inner = node
    # parse_when wraps everything in a root $and; descend single-child
    # $and chains (identical truthy/error semantics)
    while (isinstance(inner, Op) and inner.name == "$and"
           and len(inner.operands) == 1):
        inner = inner.operands[0]
    if not (isinstance(inner, Op) and inner.name in ("$and", "$or")
            and len(inner.operands) >= 3):
        return compiler.predicate(node)
    ops = []
    for j, o in enumerate(inner.operands):
        fv = compiler.compile(o)  # may raise Unsupported
        t, e = f"__cj{j}t{len(adds)}", f"__cj{j}e{len(adds)}"
        adds.append((t, fn.coalesce(m._truthy(fv), fn.lit(False))))
        adds.append((e, fn.coalesce(m._err(fv), fn.lit(False))))
        nfv = m.FV(num=fn.col(t).cast("double"), err=fn.col(e),
                   numeric_only=True, bound=1, skind="boolean")
        if compiler.strict:
            msg = f"__cj{j}m{len(adds)}"
            adds.append((msg, m._emsg(fv)))
            nfv.emsg = fn.col(msg)
        ops.append(nfv)
    return compiler.as_predicate(compiler._logical(inner.name, ops))


def _collect_refs(node: Node, labels=None, computed=None):
    """Distinct &label / @computed names referenced by the AST."""
    if labels is None:
        labels, computed = set(), set()
    if isinstance(node, LabelRef):
        labels.add(node.name)
    elif isinstance(node, ComputedRef):
        computed.add(node.name)
    elif isinstance(node, Op):
        if (node.name == "$ref" and len(node.operands) == 1
                and isinstance(node.operands[0], Const)):
            # constant-name $ref binds like &name (fastcols $ref branch)
            labels.add(V.to_display(node.operands[0].value))
            return labels, computed
        for o in node.operands:
            _collect_refs(o, labels, computed)
    return labels, computed


def _select_labels(df: DataFrame, directives: Dict[str, List[Value]]) -> DataFrame:
    sel = directives.get("#select_labels")
    if sel is None:
        return df
    if not sel:
        raise CondError("#select_labels must contain at least one label")
    for s in sel:
        if s.kind != V.STRING:
            raise CondError("#select_labels must contain only string values")
    names = [s.val for s in sel]
    keep = F.array(*[F.lit(n) for n in names])
    return df.withColumn(
        "labels", F.map_filter("labels", lambda k, v: F.array_contains(keep, k))
    )


def _padding(directive: Optional[List[Value]], key: str) -> Tuple[bool, int]:
    """(is_duration, value); mirrors ctx_before.rs/ctx_after.rs validation."""
    if directive is None:
        return (False, 0)
    if len(directive) != 1:
        raise CondError(f"{key} must be a single value")
    v = directive[0]
    val = V.as_int(v)
    if val < 0:
        raise CondError(f"{key} must be non-negative")
    return (v.kind == V.DURATION, val)


def _window_ctx(df: DataFrame, node: Node, directives, strict: bool,
                label_columns=None) -> DataFrame:
    df2, (pred,), added = _compile(df, [node], strict, label_columns)
    marked = df2.withColumn("__match", pred.cast("int"))
    return _propagate_ctx(marked, directives, added)


def _propagate_ctx(marked: DataFrame, directives, added) -> DataFrame:
    """Emit r iff a match (``__match`` = 1) exists within `before`
    records/µs after it OR `after` records/µs before it — the union-of-
    intervals equivalent of the reference's ctx buffer/latch drain."""
    before_dur, before = _padding(directives.get("#ctx_before"), "#ctx_before")
    after_dur, after = _padding(directives.get("#ctx_after"), "#ctx_after")
    base = Window.partitionBy(*_PARTITION_COLS).orderBy("ts")

    if before_dur:
        w_b = base.rangeBetween(0, before)
    else:
        w_b = base.rowsBetween(0, before)
    if after_dur:
        w_a = base.rangeBetween(-after, 0)
    else:
        w_a = base.rowsBetween(-after, 0)

    keep = (F.max("__match").over(w_b) == 1) | (F.max("__match").over(w_a) == 1)
    return (
        marked.withColumn("__keep", keep)
        .where(F.col("__keep")).drop("__match", "__keep", *added)
    )


def _rewrite_counter_conjunct(df: DataFrame, node: Node, strict: bool,
                              label_columns=None,
                              as_flags: bool = False):
    """Window rewrite for a single top-level $each_n/$limit conjunct.

    ``as_flags=True`` returns ``(marked_df, added_cols)`` with an
    ``__match`` int column instead of filtering — the ctx-padding
    composition path (the counter is ctx-independent: it increments on
    prefix-truthy records whether or not ctx later emits them)."""
    if not (isinstance(node, Op) and node.name == "$and"):
        return None
    stateful_idx = [i for i, c in enumerate(node.operands) if is_stateful(c)]
    if len(stateful_idx) != 1:
        return None
    i = stateful_idx[0]
    sf = node.operands[i]
    if not (isinstance(sf, Op) and sf.name in ("$each_n", "$limit")
            and len(sf.operands) == 1 and isinstance(sf.operands[0], Const)):
        return None
    if as_flags and sf.name != "$each_n":
        # ctx + $limit has buffer-flush interplay (when.rs:62-106) that
        # the union-of-intervals form does not model — interpreter only
        return None
    try:
        n = V.as_int(sf.operands[0].value)
    except CondError:
        return None
    if sf.name == "$each_n" and n == 0:
        raise CondError("Value '0' is not a valid operand for $each_n")

    pref_node = Op("$and", list(node.operands[:i]))
    rest_node = Op("$and", list(node.operands[i + 1:]))
    try:
        df, (pref_pred, rest_pred), added = _compile(
            df, [pref_node, rest_node], strict, label_columns, last="struct")
    except Unsupported:
        # struct-tier lambda-analysis budget (condition/columns.py): a
        # too-deep prefix/rest falls back to the interpreter stateful
        # pipeline rather than stalling the analyzer here
        return None

    w = (Window.partitionBy(*_PARTITION_COLS).orderBy("ts")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    marked = df.withColumn("__pref", pref_pred)
    cnt = F.sum(F.col("__pref").cast("long")).over(w)
    if sf.name == "$each_n":
        sf_pass = (cnt % F.lit(n)) == 0
    else:  # $limit: pass while counter <= n, Interrupt afterwards
        sf_pass = cnt <= F.lit(n)
    marked = marked.withColumn("__sf", sf_pass)
    if as_flags:
        match = (F.col("__pref") & F.col("__sf") & rest_pred).cast("int")
        return (marked.withColumn("__match", match),
                ["__pref", "__sf", *added])
    return (
        marked.where(F.col("__pref") & F.col("__sf") & rest_pred)
        .drop("__pref", "__sf", *added)
    )


def _rewrite_time_stateful(df: DataFrame, node: Node, strict: bool,
                           label_columns=None) -> Optional[DataFrame]:
    """Vectorized tier for a single top-level $each_t/$gate conjunct.

    The interpreter tier ships whole records through Arrow and JSON-parses
    labels per row; for the dominant shape — ``$and`` whose only stateful
    member is ``$each_t(const)`` or ``$gate(const, stateless-input)`` —
    the stateless parts compile to JVM Columns and the per-entry walk
    (operators/stateful.py each_t_keys/gate_keys) only sees
    (ts, pref[, inp, ierr]) primitives; the kept keys then semi-join
    back against the full rows on (bucket, entry, ts) — exact because
    the timestamp IS the record ID within an entry (storage.proto:38).

    Evaluation-order parity with the reference's AllOf short-circuit:

    * ``__pref`` (all earlier conjuncts truthy and error-free) gates the
      state machine — the stateful node's state mutates only when
      evaluation reaches it;
    * the trailing conjuncts apply as a filter AFTER the semi-join, so
      they are (strictly or not) evaluated only for records where the
      stateful op passed — exactly when the reference evaluates them.
    """
    if not (isinstance(node, Op) and node.name == "$and"):
        return None
    stateful_idx = [i for i, c in enumerate(node.operands) if is_stateful(c)]
    if len(stateful_idx) != 1:
        return None
    i = stateful_idx[0]
    sf = node.operands[i]
    if not (isinstance(sf, Op) and sf.name in ("$each_t", "$gate")):
        return None
    if not (sf.operands and isinstance(sf.operands[0], Const)):
        return None
    inp_node = None
    if sf.name == "$gate":
        if len(sf.operands) != 2:
            return None
        inp_node = sf.operands[1]
        if is_stateful(inp_node):
            return None

    # plan-time period derivation, mirroring interpreter._apply_each_t /
    # _apply_gate exactly (Rust `as u64` saturation for each_t)
    v = sf.operands[0].value
    try:
        if sf.name == "$each_t":
            s = V.as_float(v) / 1e6 if v.kind == V.DURATION else V.as_float(v)
            # Rust `as u64`: NaN/negative -> 0, inf -> u64::MAX
            period_us = V._f64_as_u64(s * 1e6)
        else:
            # gate.rs:50 `as i64` saturating cast, then the 0 clamp
            dur = V.as_int(v) if v.kind == V.DURATION \
                else V._f64_as_i64(V.as_float(v) * 1e6)
            period_us = max(0, dur)
    except CondError:
        return None  # operand errors per-record -> interpreter replays it

    pref_node = Op("$and", list(node.operands[:i]))
    rest_node = Op("$and", list(node.operands[i + 1:]))
    # strict: the gate input is a strict predicate; else its null-safe
    # (truthy, err) lanes
    gate_in = [inp_node] if inp_node is not None else []
    try:
        _, cols, _ = _compile(
            df, [pref_node] + (gate_in if strict else []), strict,
            label_columns, lanes=[] if strict else gate_in, bind=False,
            last="flat")
    except Unsupported:
        return None
    pref_pred = cols[0]
    keys = [F.col("bucket"), F.col("entry"), F.col("ts"),
            pref_pred.alias("__pref")]
    if inp_node is not None:
        if strict:
            # input errors raise — but only for records the gate
            # actually evaluates (When short-circuits per row)
            inp_col = F.when(pref_pred, cols[1]).otherwise(F.lit(False))
            ierr_col = F.lit(False)
        else:
            inp_col, ierr_col = cols[1:]
        keys += [inp_col.alias("__inp"), ierr_col.alias("__ierr")]

    from ..operators.stateful import each_t_keys, gate_keys
    keys = df.select(*keys)
    kept = (each_t_keys(keys, period_us) if sf.name == "$each_t"
            else gate_keys(keys, period_us))
    joined = df.join(kept, ["bucket", "entry", "ts"], "left_semi")
    return _where(joined, rest_node, strict, label_columns)
