"""Compile-size budget for the flat condition tier (round 10).

The FlatCompiler's multi-lane FV representation expands exponentially
with AST nesting depth (r9 depth-4 fuzz: one condition pinned a driver
core >70 min in Catalyst analysis; a synthetic $in($in($contains))
chain at AST depth 3 already expands to a ~3M-node tree).  The budget
layers in fastcols.py must (a) degrade such conditions to the O(ast)
struct tier via the existing Unsupported seam in BOUNDED time, (b)
leave realistic conditions on the flat tier untouched, and (c) keep
results identical across the fallback (the reference evaluates its AST
per row — condition.rs — and has no compile stage, so any flat/struct
divergence here would be our bug, not a semantics choice).
"""
import json
import time

import pytest
from pyspark.sql import functions as F

from reductstore_spark.condition import values as V
from reductstore_spark.condition.fastcols import (
    _BUDGET_TREE,
    _SCREEN_EST,
    FlatCompiler,
    Unsupported,
    _ast_stats,
    _est_size,
)
from reductstore_spark.condition.interpreter import Context, Evaluator
from reductstore_spark.condition.parser import parse_when
from reductstore_spark.plans.planner import _predicate


def _parse(c):
    node, _ = parse_when(json.loads(json.dumps(c)))
    return node


def _deep_in(d):
    """Nested $in chain — the worst measured expansion shape: the head
    FV is re-embedded once per item by _eq, so the per-level factor is
    ~10x and AST depth 3 already crosses 3M expanded nodes."""
    c = {"$contains": ["&a", "&b"]}
    for _ in range(d):
        c = {"$in": [c, {"$contains": ["&b", "&a"]}, "&c", 5]}
    return c


def test_ast_guard_rejects_instantly(spark):
    """Layer 1: very deep/wide ASTs never start a flat compile (Column
    construction alone costs tens of seconds of py4j calls there)."""
    node = _parse(_deep_in(6))
    n_nodes, depth = _ast_stats(node)
    assert depth >= 7 or n_nodes >= 128
    t0 = time.time()
    with pytest.raises(Unsupported):
        FlatCompiler(F.col("ts"), F.col("labels"), strict=True).compile(node)
    assert time.time() - t0 < 1.0  # no build happened


@pytest.mark.parametrize("strict", [False, True])
def test_budget_fallback_is_bounded(spark, strict):
    """Layer 2+3: a pathological-but-buildable condition is screened by
    the estimate, measured exactly, and rejected in bounded time (the
    un-budgeted analysis of this tree takes minutes; seed-8318-class
    trees take >70 min)."""
    node = _parse(_deep_in(2))
    assert _est_size(node, strict) > _SCREEN_EST
    t0 = time.time()
    with pytest.raises(Unsupported, match="budget"):
        FlatCompiler(F.col("ts"), F.col("labels"),
                     strict=strict).compile(node)
    assert time.time() - t0 < 120


def test_fallback_path_results_identical(spark):
    """End-to-end through the planner seam: the deep condition routes to
    the struct tier and the filter result matches the interpreter
    row-for-row (the same ground truth the three-tier fuzz uses)."""
    rows = [
        (1, {"a": "x", "b": "xy", "c": "5"}),
        (2, {"a": "xy", "b": "x", "c": "abc"}),
        (3, {"a": "", "b": "", "c": "0"}),
        (4, {"b": "only-b"}),
        (5, {"a": "5", "b": "5", "c": "5"}),
    ]
    df = spark.createDataFrame(rows, "ts long, labels map<string,string>")
    node = _parse(_deep_in(2))

    def want(ts, labels):
        try:
            return V.as_bool(Evaluator(node).apply(Context(ts, labels)))
        except V.CondError:
            return False

    pred = _predicate(df, node, strict=False)
    got = sorted(r["ts"] for r in df.filter(pred).collect())
    expect = sorted(ts for ts, lb in rows if want(ts, lb))
    assert got == expect


def test_realistic_conditions_stay_flat(spark):
    """Registry/reference-shaped conditions (depth <= 3) compile on the
    flat tier with zero budget overhead: under the screen, no
    measurement, no fallback."""
    cases = [
        {"$and": [{"$gt": ["&score", 10]}, {"$eq": ["&lang", "en"]}]},
        {"$or": [{"$contains": ["&name", "cam"]},
                 {"$starts_with": ["&name", "s"]}]},
        {"$and": [{"$gte": [{"$hour": ["$timestamp"]}, 9]},
                  {"$in": ["&tier", "gold", "silver"]}]},
    ]
    for c in cases:
        node = _parse(c)
        assert _est_size(node, True) <= _SCREEN_EST, c
        fv = FlatCompiler(F.col("ts"), F.col("labels"),
                          strict=True).compile(node)
        assert fv is not None


def _deep_and(d):
    """Plain nested $and chain — NOT adversarial, yet the struct tier's
    nested-lambda analysis takes 42 s at 4 levels, stalls >100 s at 8,
    and hits the analyzer's max-iterations failure near 12.  The planner
    must route past STRUCT_LAMBDA_BUDGET to the per-row interpreter."""
    c = {"$gt": ["&a", 1]}
    for _ in range(d):
        c = {"$and": [c, {"$eq": ["&b", 1]}]}
    return c


def test_struct_lambda_budget_routes_to_interpreter(spark):
    from reductstore_spark.condition.columns import (
        STRUCT_LAMBDA_BUDGET,
        lambda_depth_estimate,
    )

    rows = [
        (1, {"a": "5", "b": "1"}),
        (2, {"a": "0", "b": "1"}),
        (3, {"a": "5", "b": "2"}),
        (4, {"b": "1"}),  # &a missing: non-strict -> excluded
    ]
    df = spark.createDataFrame(rows, "ts long, labels map<string,string>")
    node = _parse(_deep_and(8))
    assert lambda_depth_estimate(node) > STRUCT_LAMBDA_BUDGET
    t0 = time.time()
    pred = _predicate(df, node, strict=False)
    got = sorted(r["ts"] for r in df.filter(pred).collect())
    elapsed = time.time() - t0

    def want(ts, labels):
        try:
            return V.as_bool(Evaluator(node).apply(Context(ts, labels)))
        except V.CondError:
            return False

    expect = sorted(ts for ts, lb in rows if want(ts, lb))
    assert got == expect == [1]
    # the struct tier stalls >100 s on this shape; the row tier is
    # seconds (generous bound for contended CI hosts)
    assert elapsed < 60, f"deep $and chain took {elapsed:.0f}s"


def test_row_tier_strict_raises_reference_message(spark):
    """Strict mode through the interpreter tier must abort with the
    interpreter's exact error text (the ground truth for the reference's
    filters/when.rs messages), JVM-side via raise_error."""
    df = spark.createDataFrame([(1, {"b": "1"})],
                               "ts long, labels map<string,string>")
    node = _parse(_deep_and(8))  # references &a, which is missing
    pred = _predicate(df, node, strict=True)
    with pytest.raises(Exception, match="Reference '&a' not found"):
        df.filter(pred).collect()


def test_registry_shapes_never_reach_the_row_tier(spark):
    """Realistic conditions compile on the FLAT tier, so the struct
    lambda gate (consulted only on flat fallback) is irrelevant for
    them — pin that, plus that a shallow shape which DOES fall back
    stays under the struct budget."""
    from reductstore_spark.condition.columns import (
        STRUCT_LAMBDA_BUDGET,
        lambda_depth_estimate,
    )

    cases = [
        {"$and": [{"$gt": ["&score", 10]}, {"$eq": ["&lang", "en"]}]},
        {"$and": [{"$gte": [{"$hour": ["$timestamp"]}, 9]},
                  {"$in": ["&tier", "gold", "silver"]}]},
        {"$or": [{"$and": [{"$gt": ["&a", 1]}, {"$lt": ["&b", 2]}]},
                 {"$and": [{"$eq": ["&c", 3]}, {"$ne": ["&d", 4]}]}]},
    ]
    for c in cases:
        fv = FlatCompiler(F.col("ts"), F.col("labels")).compile(_parse(c))
        assert fv is not None, c  # flat handles it; gate never consulted
    # depth-1/2 shapes stay under the struct budget if they ever fall back
    assert lambda_depth_estimate(
        _parse({"$eq": ["&a", "x"]})) <= STRUCT_LAMBDA_BUDGET
    assert lambda_depth_estimate(
        _parse({"$and": [{"$gt": ["&a", 1]},
                         {"$eq": ["&b", 2]}]})) <= STRUCT_LAMBDA_BUDGET


def _hostile_when(depth=20):
    """Deeper than MAX_CONDITION_DEPTH once the implicit root $and is
    counted — rejected at parse time, before any compile tier."""
    c = {"$gt": ["&v", 1]}
    for _ in range(depth):
        c = {"$and": [c, {"$eq": ["&v", 1]}]}
    return c


def test_parse_time_depth_cap():
    from reductstore_spark.condition.parser import (
        MAX_CONDITION_DEPTH,
        parse_when,
    )

    with pytest.raises(V.CondError, match="maximum nesting depth"):
        parse_when(_hostile_when())
    # absurdly deep JSON: the stack blows before the size walk — must
    # still surface the bounded-condition error, not a RecursionError
    with pytest.raises(V.CondError, match="maximum nesting depth"):
        parse_when(_hostile_when(100_000))
    # the documented bound itself still parses
    c = {"$gt": ["&v", 1]}
    for _ in range(MAX_CONDITION_DEPTH - 2):
        c = {"$and": [c]}
    parse_when(c)


def test_parse_time_node_cap():
    from reductstore_spark.condition.parser import parse_when

    wide = {"$and": [{"$eq": ["&v", i]} for i in range(1200)]}
    with pytest.raises(V.CondError, match="maximum size"):
        parse_when(wide)
    parse_when({"$and": [{"$eq": ["&v", i]} for i in range(300)]})


def test_serving_paths_reject_hostile_when(spark):
    """Entry-point coverage for the parse-time cap: the query engine
    (the cursor registers engine-built frames), and a signed query
    link's spec — both reject before any compile stage runs."""
    from reductstore_spark.functions.query_links import (
        create_query_link,
        parse_query_link,
    )
    from reductstore_spark.query import QueryEngine

    records = spark.createDataFrame(
        [("b", "e", 1, bytearray(b"x"), "text/plain", "finished",
          {"v": "5"}, {})],
        "bucket string, entry string, ts long, payload binary, "
        "content_type string, state string, labels map<string,string>, "
        "computed map<string,string>")
    hostile = _hostile_when()
    with pytest.raises(V.CondError, match="maximum nesting depth"):
        QueryEngine().query(records, entries=["e"], when=hostile)

    tok = create_query_link({"entries": ["e"], "when": hostile},
                            expire_at_us=10_000, secret=b"s")
    spec = parse_query_link(tok, b"s", now_us=0)  # signature layer passes
    with pytest.raises(V.CondError, match="maximum nesting depth"):
        QueryEngine().query(records, entries=spec["entries"],
                            when=spec["when"])


def test_zenoh_queryable_rejects_hostile_when(spark, tmp_path):
    """The zenoh queryable accepts `when` JSON from the wire attachment;
    a hostile condition must come back as a bounded ReplyError (the
    reference evaluates per row and cannot stall — our compile tiers
    must not be stallable either)."""
    from reductstore_spark.sources.store import RecordStore
    from reductstore_spark.sources.zenoh import (
        ReplyError,
        ZenohApiConfig,
        spawn_runtime,
    )

    store = RecordStore(spark, str(tmp_path / "s"))
    config = ZenohApiConfig(enabled=True, config_inline="mode=client",
                            sub_keyexprs="sensors/**", query_keyexprs="**")
    runtime = spawn_runtime(config, store)
    try:
        assert runtime.session.put("sensors/temp", b"x") == 1
        (err,) = runtime.session.get(
            "sensors/temp?start=0",
            attachment=json.dumps({"when": _hostile_when()}).encode())
        assert isinstance(err, ReplyError)
        assert "maximum nesting depth" in err.message
    finally:
        runtime.shutdown()


def test_screened_but_small_tree_stays_flat(spark):
    """The estimate overshoots $cast/date chains by orders of magnitude;
    the exact measurement (layer 3) must keep them on the flat tier —
    screen-only rejection would demote harmless shapes."""
    c = {"$eq": [{"$cast": [{"$gte": [{"$minute": ["&a", "Europe/Berlin"]},
                                      0]}, "float"]}, 1]}
    node = _parse(c)
    assert _est_size(node, True) > _SCREEN_EST  # screened...
    fv = FlatCompiler(F.col("ts"), F.col("labels"),
                      strict=True).compile(node)  # ...but kept (tree ~3.4k)
    assert fv is not None
    assert _BUDGET_TREE > 10_000  # sanity: budget far above this shape


_SCREENED = {"$eq": [{"$cast": [{"$gte": [{"$minute": ["&a", "Europe/Berlin"]},
                                          0]}, "float"]}, 1]}

_LADDER_CALLERS = {
    "filter": (_SCREENED, False),
    "ctx_filter": ({"#ctx_before": 1, **_SCREENED}, False),
    "each_n_prefix": ({"$and": [_SCREENED, {"$each_n": 2}]}, False),
    "gate_input": ({"$gate": ["1s", _SCREENED]}, False),
    "gate_input_strict": ({"$and": [{"&ok": {"$eq": 1}},
                                    {"$gate": ["1s", _SCREENED]}]}, True),
    "slim_lane": ({"$or": [{"$each_n": 3}, _SCREENED]}, False),
}


@pytest.mark.parametrize("caller", sorted(_LADDER_CALLERS))
def test_screened_shape_takes_the_column_rung(spark, monkeypatch, caller):
    """The text tier refuses the screened-but-small shape at the
    layer-2 screen; every planner caller must then compile it on the
    Column flat rung (not skip to the struct tier or the interpreter)
    and agree with the WhenFilter oracle row for row."""
    from reductstore_spark.condition import fastcols
    from reductstore_spark.condition.interpreter import (
        FilterRecord,
        WhenFilter,
    )
    from reductstore_spark.plans import planner

    when, strict = _LADDER_CALLERS[caller]
    rows = []
    for e in ("e1", "e2"):
        for i in range(24):
            if i % 5 == 4:
                labels = {"a": "x", "ok": "0"}  # $minute parse error
            elif i % 7 == 6:
                labels = {"ok": "0"}  # &a missing
            else:
                labels = {"a": str(i * 37_000_000), "ok": "1"}
            rows.append(("b", e, i * 300_000, None, "", 1, labels, None))
    df = spark.createDataFrame(
        rows, "bucket string, entry string, ts long, payload binary, "
        "content_type string, state int, labels map<string,string>, "
        "computed_labels map<string,string>")

    rungs = []
    real_flat = planner._flat

    def spy(m, *args):
        out = real_flat(m, *args)
        rungs.append(m.__name__)
        return out

    monkeypatch.setattr(planner, "_flat", spy)
    got = sorted((r["entry"], r["ts"]) for r in
                 planner.plan_when(df, when, strict=strict)
                 .select("entry", "ts").collect())
    assert fastcols.__name__ in rungs, rungs

    node, directives = parse_when(json.loads(json.dumps(when)))
    expect = []
    for e in ("e1", "e2"):
        wf = WhenFilter(node, directives, strict)
        for _b, ent, ts, _p, _ct, _st, labels, _cl in rows:
            if ent != e:
                continue
            out = wf.feed(FilterRecord(ts, dict(labels), {},
                                       extra=(ent, ts)))
            if out is None:
                break
            expect.extend(r.extra for r in out)
    assert got == sorted(expect)
    assert got  # the shape passes on valid rows
