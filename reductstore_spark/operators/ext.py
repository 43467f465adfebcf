"""Extension (UDF) pipeline: the reference's IoExtension surface.

Reference model (reduct_base/src/ext.rs:20-95, pipeline execution
ext/ext_repository.rs:262-533): a dynamically-registered processor
transforms the record stream 1->N and emits *computed labels*
(``@label`` references); each pipeline step carries an optional ``when``
condition evaluated over the computed labels; a commiter rebatches.

Spark mapping: an extension is a registered Python class whose
``process`` receives an iterator of Arrow-backed pandas batches
(mapInPandas — 1->N comes free since output row counts are unconstrained)
and returns batches with a ``computed_labels`` JSON column; per-step
``when`` filters compile to Column predicates over the resulting map.
The pipeline spec is the ``#ext`` directive: an object (single step) or
array of step objects ``{ext_name: params, when?: condition}``.
"""

from __future__ import annotations

import json
from typing import Callable, Dict, Iterator, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..condition.values import CondError

# registry of extensions: name -> factory(params) -> batch transform
_REGISTRY: Dict[str, Callable] = {}


def register_extension(name: str, factory: Callable) -> None:
    """Register ``factory(params) -> fn(Iterator[pd.DataFrame]) ->
    Iterator[pd.DataFrame]``.  Batches carry the records schema with
    ``labels_json`` / ``computed_json`` string columns in place of maps."""
    _REGISTRY[name] = factory


def extension_names() -> List[str]:
    return sorted(_REGISTRY)


def apply_ext_pipeline(df: DataFrame, ext_spec, strict: bool = False,
                       compile_builtin: bool = True,
                       label_columns=None) -> DataFrame:
    """Run the extension pipeline over a records DataFrame.

    ``ext_spec``: dict (one step) or list of step dicts; each step is
    ``{ext_name: params, "when": cond?}`` (ext_repository.rs:339-470).

    Built-in ``label_expr`` steps compile to Catalyst Column transforms
    when possible (``compile_builtin``) — the Spark analogue of the
    reference dispatching to *compiled* extensions rather than
    interpreting: no Arrow round-trip, no per-row Python.  User
    extensions and non-compilable expressions take the mapInPandas
    path.
    """
    steps = _decode_ext_steps(ext_spec)
    if steps is None:  # empty array: no pipeline (decode_ext_steps)
        return df
    single = len(steps) == 1
    for step in steps:
        when = step.pop("when", None)
        if len(step) == 0:
            raise CondError("Extension name is not found")
        if len(step) > 1:
            if single:
                raise CondError("Multiple extensions are not supported")
            raise CondError(
                "Each '#ext' pipeline step must contain exactly one extension")
        (name, params), = step.items()
        if name not in _REGISTRY:
            raise CondError(f"Extension '{name}' is not registered")
        compiled = None
        if compile_builtin and name == "label_expr":
            compiled = _label_expr_compiled(df, params, label_columns)
        if compiled is not None:
            df = compiled
            if when is not None:
                # pushdown barrier: without it the per-step filter is
                # substituted through the computed_labels projection and
                # re-evaluates the whole map construction once per label
                # reference, interpreted (measured 2x the Arrow path).
                # A nondeterministic branch in the projected value makes
                # the projection unpushable-through, so the filter binds
                # the computed attribute instead.  The mapInPandas path
                # needs none of this — a Python stage is already opaque.
                nd = F.monotonically_increasing_id() < F.lit(-1)
                df = df.withColumn(
                    "computed_labels",
                    F.when(nd, F.lit(None).cast("map<string,string>"))
                    .otherwise(F.col("computed_labels")))
        else:
            df = _apply_one(df, _REGISTRY[name](params))
        if when is not None:
            from ..plans.planner import plan_parsed
            from ..condition.parser import parse_when
            node, directives = parse_when(when)
            # per-step when filters are ALWAYS strict in the reference
            # (ext_repository.rs:140-147 builds WhenFilter with strict=true;
            # an evaluation error fails the query, not just the record)
            df = plan_parsed(df, node, directives, strict=True,
                             label_columns=label_columns)
    return df


def _decode_ext_steps(ext_spec):
    """Normalize the ``#ext`` spec into a list of single-step dicts
    (ext_repository.rs decode_ext_steps, PR-1367): an object with more
    than one key and no ``when`` is the *unconditional multi-extension
    shorthand* — each (name, params) expands into its own ordered step;
    an object with a ``when`` (or a single key) is one step; an array is
    taken as-is (empty array: no pipeline -> None)."""
    if isinstance(ext_spec, str):
        ext_spec = json.loads(ext_spec)
    if isinstance(ext_spec, dict):
        if len(ext_spec) <= 1 or "when" in ext_spec:
            return [dict(ext_spec)]
        return [{k: v} for k, v in ext_spec.items()]
    if isinstance(ext_spec, list):
        if not ext_spec:
            return None
        steps = []
        for s in ext_spec:
            if isinstance(s, str):
                s = json.loads(s)
            if not isinstance(s, dict):
                raise CondError(
                    "Each '#ext' pipeline step must be a JSON object")
            steps.append(dict(s))
        return steps
    raise CondError("Extension parameters must be a JSON object or an "
                    "array of JSON objects")


def _apply_one(df: DataFrame, transform) -> DataFrame:
    from .text import spread_python_stage
    cols = df.columns
    ser = (
        df.withColumn("__labels_json", F.to_json("labels"))
        .withColumn("__computed_json", F.to_json("computed_labels"))
        .drop("labels", "computed_labels")
    )
    # CPU-bound Python stage: decouple from byte-based scan splits (a
    # compact store would run the whole pipeline one-core; records are
    # transformed independently and the query's final sort re-orders,
    # so the repartition is semantics-free).  Batch-only path —
    # continuous_query raises for #ext.
    ser = spread_python_stage(ser)
    out_schema = ser.schema

    def run(batches: Iterator) -> Iterator:
        yield from transform(batches)

    transformed = ser.mapInPandas(run, schema=out_schema)
    return transformed.select(
        *[c for c in cols if c not in ("labels", "computed_labels")],
        F.from_json("__labels_json", "map<string,string>").alias("labels"),
        F.from_json("__computed_json", "map<string,string>").alias("computed_labels"),
    ).select(*cols)


def _node_may_yield_duration(node) -> bool:
    """True if the expression could evaluate to a Duration value, whose
    display differs between the interpreter (full multi-unit
    fmt_duration) and the struct compiler ('<µs>us' approximation) —
    those expressions stay on the exact pandas path."""
    from ..condition import values as V
    from ..condition.ast import Const, Op

    if isinstance(node, Const):
        return node.value.kind == V.DURATION
    if isinstance(node, Op):
        if node.name == "$cast" and any(
                isinstance(a, Const) and a.value.val == "duration"
                for a in node.operands):
            return True
        return any(_node_may_yield_duration(a) for a in node.operands)
    return False


# top-level result kind by operator: Bool-kind ops display "true"/"false";
# numeric ops display via int/float canonicalization; everything else
# (leaves, $ref, $add's string/number duality) uses the general label
# display rules
_BOOL_OPS = {"$and", "$or", "$not", "$xor", "$eq", "$ne", "$gt", "$gte",
             "$lt", "$lte", "$in", "$nin", "$exists", "$contains",
             "$starts_with", "$ends_with"}
_NUM_OPS = {"$sub", "$mult", "$div", "$div_num", "$rem", "$abs", "$second",
            "$minute", "$hour", "$day", "$month", "$year", "$weekday",
            "$timestamp"}


def _flat_value_display(node, labels: Column, computed: Column,
                        label_columns=None, label_fvs=None) -> Column:
    """Compile a label_expr expression through the FLAT (whole-stage-
    codegen) tier and render its canonical display string, null on
    evaluation error.  Raises fastcols.Unsupported outside the tier.

    ``label_fvs`` passes pre-bound (raw, num, flt, lng) leaf columns so every
    source-label reference compiles to an attribute read instead of
    re-inlining the dynamic-parse tree (same let-binding the planner
    does for predicates, planner.bind_leaves)."""
    from ..condition import values as V
    from ..condition.ast import Const, Op
    from ..condition import fastcols as FC

    fv = FC.FlatCompiler(F.col("ts"), labels, computed,
                         label_columns=label_columns,
                         label_fvs=label_fvs).compile(node)
    err = FC._err(fv)

    kind = None
    if isinstance(node, Op):
        if node.name in _BOOL_OPS:
            kind = "bool"
        elif node.name in _NUM_OPS:
            kind = "num"
        elif node.name == "$cast":
            t = node.operands[1]
            target = t.value.val if isinstance(t, Const) else None
            if target == "bool":
                kind = "bool"
            elif target in ("int", "float"):
                kind = "num"
            # duration is pre-filtered by _node_may_yield_duration;
            # cast-to-string raises Unsupported inside the compiler
    if kind == "bool":
        disp = F.when(fv.num != 0.0, "true").otherwise("false") \
            if fv.const is None else F.lit(V.to_display(fv.const))
    elif kind == "num" and fv.const is None:
        num = fv.num
        f_int = (~F.isnan(num)) & (num == F.floor(num)) & (F.abs(num) < 1e16)
        float_disp = F.when(f_int, num.cast("long").cast("string")) \
            .otherwise(FC._float_str(num))
        int_disp = num.cast("long").cast("string")
        disp = F.when(FC._is_float_kind(fv), float_disp).otherwise(int_disp)
    else:
        disp = FC._display(fv)
    return F.when(~F.coalesce(err, F.lit(False)), disp)


def _label_expr_compiled(df: DataFrame, params,
                         label_columns=None) -> Optional[DataFrame]:
    """Column-compiled ``label_expr``: each expression becomes a tagged
    struct value; on evaluation error the label is skipped for that
    record (the interpreter's try/except-pass), otherwise its canonical
    display string upserts into ``computed_labels``.  Returns None when
    any expression is outside the struct compiler's scope (stateful
    ops, duration-valued results) — caller falls back to mapInPandas.

    Steps apply sequentially, so later expressions see earlier computed
    labels exactly as in the interpreter (the ``@ref`` is a runtime map
    lookup against the updated column)."""
    from ..condition.columns import ColumnCompiler, _display
    from ..condition.parser import _parse_recursively

    specs = {}
    for k, expr in params.get("labels", {}).items():
        nodes = _parse_recursively(expr)
        if len(nodes) != 1:
            raise CondError(
                f"label_expr '{k}' must be a single condition expression")
        specs[k] = nodes[0]

    def make_disp(node, base: Column, label_fvs=None):
        """Display Column for the expression (null = error): FLAT
        codegen tier first (bound against the source's virtual label
        columns when available — reading ``&value`` then costs a column
        reference, not a per-row labels-map construction), tagged-struct
        tier as the general fallback."""
        try:
            return _flat_value_display(node, F.col("labels"), base,
                                       label_columns, label_fvs)
        except Exception:
            pass
        # struct-tier lambda-analysis budget (see condition/columns.py):
        # a too-deep expression raises out of the dry-run below, routing
        # the whole pipeline to the bounded mapInPandas interpreter path
        from ..condition.columns import (
            STRUCT_LAMBDA_BUDGET,
            lambda_depth_estimate,
        )
        if lambda_depth_estimate(node) > STRUCT_LAMBDA_BUDGET:
            raise CondError("label_expr too deep for the compiled tiers")
        cc = ColumnCompiler(F.col("ts"), F.col("labels"), base)
        v = cc.value(node)
        bound = F.struct(v.alias("v"))
        return F.transform(F.array(bound), lambda b: F.when(
            b["v"]["e"].isNull(), _display(b["v"]))).getItem(0)

    empty = F.expr("cast(map() as map<string,string>)")

    # dry-run compile everything before touching df, so a late failure
    # can't leave a half-applied pipeline
    try:
        for node in specs.values():
            if _node_may_yield_duration(node):
                return None
            make_disp(node, F.coalesce(F.col("computed_labels"), empty))
    except Exception:
        return None

    # let-bind the (raw, num, flt, lng) parse of every referenced source
    # label ONCE (the planner's bind_leaves, here for value
    # expressions): each leaf reference inside a label expression then
    # reads an attribute instead of re-inlining the dynamic-parse
    # tree — which the ext_pipeline plan showed repeated ~10x per row.
    # Only source labels pre-bind; @computed refs stay dynamic because
    # step k must see step k-1's upserts.
    from ..condition import fastcols
    from ..plans.planner import _collect_refs, bind_leaves
    lnames = set()
    for node in specs.values():
        _collect_refs(node, lnames, set())
    adds = []
    label_fvs = bind_leaves(fastcols, lnames, label_columns or {}, adds, "ex")
    if adds:
        df = df.select("*", *[c.alias(a) for a, c in adds])

    # map_concat-as-upsert needs last-wins key dedup (the engine's label
    # merge semantic); the alternative — map_filter the old key out —
    # costs a lambda, and ONE higher-order function in the projection
    # drops the whole stage out of codegen (measured 2x slower than even
    # the Arrow round-trip)
    df.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    for j, (k, node) in enumerate(specs.items()):
        # a null computed_labels (fresh records) must read as {} — every
        # map op on NULL is NULL and would silently swallow the upsert
        base = F.coalesce(F.col("computed_labels"), empty)
        # let-bind the display value too: the upsert references it twice
        # (null-guard + map value); as a bound attribute the expression
        # evaluates once and CollapseProject keeps it separate (non-cheap,
        # multi-referenced expressions are not re-inlined)
        dname = f"__exd{j}"
        df = df.withColumn(dname, make_disp(node, base, label_fvs))
        disp = F.col(dname)
        # on error (disp null) the label keeps any pre-existing value —
        # the interpreter's try/except leaves computed[k] untouched
        df = df.withColumn(
            "computed_labels",
            F.when(disp.isNotNull(),
                   F.map_concat(base, F.create_map(F.lit(k), disp)))
            .otherwise(base)).drop(dname)
    return df.drop(*[a for a, _ in adds])


# ---------------------------------------------------------------------------
# built-in extensions
# ---------------------------------------------------------------------------

def _label_expr_factory(params):
    """`label_expr`: compute labels from existing ones with condition-language
    expressions. params: {"labels": {name: when_expr_json}} where each value
    is a condition-AST expression (same JSON grammar as ``when``, e.g.
    ``{"$mult": ["&i", 2]}``) evaluated per record over its labels.

    Security note: expressions are interpreted by the condition-AST
    evaluator — never Python ``eval`` — because ``#ext`` params arrive from
    untrusted query JSON.  This mirrors the reference, which only dispatches
    JSON params to pre-registered compiled extensions
    (ext/ext_repository.rs:262-533)."""
    from ..condition.parser import _parse_recursively
    from ..condition.interpreter import Context, Evaluator
    from ..condition import values as V

    specs = {}
    for k, expr in params.get("labels", {}).items():
        nodes = _parse_recursively(expr)
        if len(nodes) != 1:
            raise CondError(
                f"label_expr '{k}' must be a single condition expression")
        specs[k] = nodes[0]

    def transform(batches):
        evals = {k: Evaluator(node) for k, node in specs.items()}
        for pdf in batches:
            computed_col = []
            for i in range(len(pdf)):
                lj = pdf["__labels_json"].iat[i]
                cj = pdf["__computed_json"].iat[i]
                labels = json.loads(lj) if lj else {}
                computed = dict(json.loads(cj) or {}) if cj else {}
                ctx = Context(int(pdf["ts"].iat[i]), labels, computed)
                for k, ev in evals.items():
                    try:
                        computed[k] = V.to_display(ev.apply(ctx))
                    except Exception:
                        pass
                computed_col.append(json.dumps(computed))
            pdf = pdf.copy()
            pdf["__computed_json"] = computed_col
            yield pdf

    return transform


def _payload_text_stats_factory(params):
    """`text_stats`: computed labels with payload text statistics
    (length, word count) — the LLM-pipeline flavored demo extension."""
    encoding = params.get("encoding", "utf-8")

    def transform(batches):
        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                cj = pdf["__computed_json"].iat[i]
                computed = dict(json.loads(cj) or {}) if cj else {}
                payload = pdf["payload"].iat[i]
                if payload is not None:
                    try:
                        text = bytes(payload).decode(encoding, errors="replace")
                        computed["len"] = str(len(text))
                        computed["words"] = str(len(text.split()))
                    except Exception:
                        pass
                out.append(json.dumps(computed))
            pdf = pdf.copy()
            pdf["__computed_json"] = out
            yield pdf

    return transform


register_extension("label_expr", _label_expr_factory)
register_extension("text_stats", _payload_text_stats_factory)
