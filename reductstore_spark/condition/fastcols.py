"""Flat (whole-stage-codegen-friendly) condition compiler — the hot path.

The tagged-struct compiler in ``columns.py`` is fully general but its
lambda let-bindings disable whole-stage codegen, making every expression
node interpreted (~700x slower on wide conditions).  This compiler emits
*flat* boolean/double expressions with no structs and no higher-order
functions for the dominant condition shapes:

* label-vs-constant and label-vs-label comparisons,
* logical compositions, $in/$nin with constant lists, $exists,
* numeric arithmetic (computed in double — exact up to 2^53; the
  planner falls back when a constant exceeds that),
* date extraction, string operators, $cast, $ref with constant name,
  $timestamp.

Semantics notes (mirroring values.py):
* a label's numeric interpretation ``num`` is a double Column that is
  null iff the value is string-kind ("true"/"false" map to 1/0, so
  cross-type bool==int==float comparisons collapse to double equality);
* non-strict error policy only needs an error *flag* (errors -> record
  excluded at top level, even under $not);
* strict mode (which must raise with the reference's error messages,
  filters/when.rs:81-95) additionally threads a nullable string
  ``emsg`` column through every FV — null means no error, otherwise the
  FIRST error message in evaluation order (mirroring the struct
  compiler's coalesce folds).  The tracking is only materialized when
  the compiler is constructed with ``strict=True``, so the dominant
  non-strict path pays nothing.

Anything not expressible raises ``Unsupported`` and the planner falls
back to the struct compiler for the whole predicate.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import values as V
from .ast import ComputedRef, Const, LabelRef, Node, Op
from .values import Value

_INT_RE = r"^[+-]?[0-9]+$"
_FLOAT_RE = r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"
_NUM_RE = f"^(({_INT_RE[1:-1]})|({_FLOAT_RE[1:-1]}))$"
_FLOAT_SPECIAL = ["inf", "+inf", "-inf", "infinity", "+infinity", "-infinity",
                  "nan", "+nan", "-nan"]
_EXACT_DOUBLE = 2 ** 53


def parse_double(raw: Column) -> Column:
    """Rust-f64-parse of a string Column: null unless the text matches
    the numeric grammar or a special symbol.  Spark's own string->double
    cast is both looser (trims whitespace) and stricter (rejects signed
    NaN spellings like '+nan' that Rust accepts), so the specials map to
    literals explicitly (fuzz-found)."""
    low = F.lower(raw)
    return (
        F.when(raw.rlike(_NUM_RE), raw.try_cast("double"))
        .when(low.isin("inf", "+inf", "infinity", "+infinity"),
              F.lit(float("inf")))
        .when(low.isin("-inf", "-infinity"), F.lit(float("-inf")))
        .when(low.isin("nan", "+nan", "-nan"), F.lit(float("nan")))
    )


class Unsupported(Exception):
    """AST shape outside the fast path — use the struct compiler."""


# -- compile-size budget (round 10) -------------------------------------
#
# The FV representation carries several independent lane Columns, and
# every operator embeds each operand's lanes into multiple branches of
# each result lane, so the COMPILED expression tree (the form Catalyst's
# analyzer traverses — shared Column objects are a DAG at construction
# but are walked structurally, i.e. as a tree) grows exponentially with
# AST nesting depth even though the AST stays tiny.  A depth-4 fuzz
# condition (r9 seed 8318 block) pinned a driver core >70 min in eager
# analysis; a synthetic $in($in($contains)) chain at AST depth 3 already
# expands to a 3-million-node tree.  The reference interprets its AST
# per row (condition.rs) and has no compile stage, so this cost is ours
# alone — and it is a DoS-shaped hazard on any serving path that accepts
# `when` JSON.
#
# Defense in three cheap layers, all degrading through the EXISTING
# ``Unsupported`` seam.  The planner then routes to the let-bound
# struct tier (columns.py — compiled tree O(ast)) when its
# nested-lambda ANALYSIS cost allows (columns.STRUCT_LAMBDA_BUDGET:
# Catalyst's lambda resolution has its own super-linear depth cost,
# found while landing this budget), else to the bounded per-row
# interpreter tier (rowtier.py) — the reference's own strategy:
#
# 1. AST guard: conditions with >= _BUDGET_AST_NODES nodes or operator
#    nesting >= _BUDGET_AST_DEPTH never even start a flat compile (the
#    Column CONSTRUCTION itself costs tens of seconds of py4j calls for
#    deep $in chains).  Realistic reference conditions are depth <= 3.
# 2. Screen: a pure-Python per-op upper-bound estimate of the expanded
#    tree size (_est_size — factors validated against measured sizes
#    over the depth-4 fuzz corpus: est/true ratio in [2.9, 7e5], never
#    below 1).  Conditions under _SCREEN_EST (the overwhelmingly common
#    case) pay nothing beyond this O(ast) walk.
# 3. Exact measure: screened conditions are compiled, then the true
#    expanded tree size is computed by a memoized walk of the JVM
#    ColumnNode DAG (O(distinct nodes), seconds at worst) and compared
#    against _BUDGET_TREE.  The estimate alone cannot decide — it
#    overshoots harmless shapes like $cast chains by up to 7e5x.
#
# _BUDGET_TREE = 250k nodes analyzes in ~5 s (measured ~20-50 us/node);
# the stall class starts around 3M.  With the validated >=2.9 est/true
# floor, any condition whose true size exceeds the budget estimates
# above 2.9 * 250k > _SCREEN_EST, so it cannot slip past the screen.
_BUDGET_AST_NODES = 128
_BUDGET_AST_DEPTH = 7
_SCREEN_EST = 500_000
_BUDGET_TREE = 250_000

_LOGICAL_OPS = ("$and", "$or", "$not", "$xor")
_CMP_EQ_OPS = ("$eq", "$ne")
_CMP_ORD_OPS = ("$gt", "$gte", "$lt", "$lte")
_ARITH_OPS = ("$add", "$sub", "$mult", "$div", "$div_num", "$rem")
_STRING_OPS = ("$contains", "$starts_with", "$ends_with")
_DATE_OPS = ("$second", "$minute", "$hour", "$day", "$month", "$year",
             "$weekday")


def _ast_stats(node: Node):
    """(node count, operator nesting depth) of a condition AST."""
    if not isinstance(node, Op):
        return 1, 0
    n, d = 1, 0
    for o in node.operands:
        cn, cd = _ast_stats(o)
        n += cn
        d = max(d, cd)
    return n, d + 1


def _est_size(node: Node, strict: bool) -> int:
    """Upper-bound estimate of the expanded compiled-tree size.

    Per-op factors model how many times each operand's lane trees are
    embedded across the result FV's lanes (value/exact/error/message
    branches).  Calibrated against memoized-walk measurements over the
    depth-4 fuzz corpus (seeds 8300-8319, 492 compilable conditions)
    plus synthetic $in chains: the estimate never fell below 2.9x the
    true size, so it is safe as a SCREEN (layer 2 above) — never as the
    final verdict (it overshoots $cast/date chains by orders of
    magnitude, which is why over-screen conditions get the exact
    measurement instead of an immediate fallback)."""
    s = 3 if strict else 0
    if isinstance(node, Const):
        return 1
    if isinstance(node, (LabelRef, ComputedRef)):
        return 60  # unbound worst case: the label_parts expansion
    assert isinstance(node, Op)
    name = node.name
    ch = [_est_size(o, strict) for o in node.operands]
    if name in _LOGICAL_OPS:
        return (6 + s) * sum(ch) + 20 * len(ch) + 20
    if name in _CMP_EQ_OPS:
        return (10 + s) * sum(ch) + 20
    if name in _CMP_ORD_OPS:
        return (12 + s) * sum(ch) + 30
    if name in ("$in", "$nin"):
        # the head is re-embedded by _eq once per item — the dominant
        # super-exponential shape (nested $in chains)
        head, items = ch[0], ch[1:]
        return ((10 + s) * len(items) * head + (10 + s) * sum(items)
                + 20 * len(items) + 20)
    if name in _ARITH_OPS:
        return (14 + s) * sum(ch) + 40
    if name == "$abs":
        return (8 + s) * ch[0] + 20
    if name in _STRING_OPS:
        return (30 + s) * sum(ch) + 40  # _display embeds num/raw heavily
    if name in _DATE_OPS:
        return (12 + s) * ch[0] + 40
    if name == "$exists":
        return sum((30 + s) * c for c in ch) + 30
    if name == "$cast":
        return (30 + s) * ch[0] + 60
    if name == "$ref":
        if node.operands and isinstance(node.operands[0], Const):
            return 60
        return (30 + s) * (ch[0] if ch else 1) + 120
    if name == "$timestamp":
        return 4
    # unknown op: _op will raise Unsupported anyway; stay conservative
    return 50 * sum(ch) + 100


def _measured_tree_size(cols: List[Column], cap: int) -> int:
    """True expanded tree size of the compiled lane Columns.

    Walks the JVM ColumnNode graph iteratively with memoization keyed on
    JVM object identity (System.identityHashCode — py4j wrapper ids are
    fresh per round-trip, so Python-side ids never hit).  Shared nodes
    are traversed once but COUNTED per reference, which is exactly how
    Catalyst's structural transforms expand the DAG.  Cost is O(distinct
    nodes) py4j calls — bounded by construction cost, never by the
    expanded size.  Returns ``cap`` early if the running total passes it
    (callers only need the over/under verdict)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:  # no JVM to measure against: treat as over budget
        return cap
    ihc = sc._jvm.System.identityHashCode
    memo = {}

    def size_of(root) -> int:
        # iterative post-order (two-phase frames) so shared-node folds
        # always see their children memoized first
        root_key = ihc(root)
        stack = [(root, root_key, None)]
        while stack:
            n, key, kid_keys = stack.pop()
            if kid_keys is None:
                if key in memo:
                    continue
                kids = []
                it = n.children().iterator()
                while it.hasNext():
                    c = it.next()
                    kids.append((c, ihc(c)))
                stack.append((n, key, [k for _, k in kids]))
                for c, k in kids:
                    if k not in memo:
                        stack.append((c, k, None))
            else:
                if key in memo:
                    continue
                memo[key] = 1 + sum(memo[k] for k in kid_keys)
        return memo[root_key]

    total = 0
    for c in cols:
        total += size_of(c._jc.node())
        if total > cap:
            return cap
    return total


@dataclass
class FV:
    """A compiled sub-expression.

    Exactly one of ``const`` / runtime fields is used. Runtime values
    carry: ``raw`` (original string, null = missing) for label leaves,
    ``num`` (double; null = string-kind) for anything numeric-capable,
    ``err`` (boolean error-so-far), and ``is_str`` (boolean: runtime
    string kind) when raw is present."""
    const: Optional[Value] = None
    raw: Optional[Column] = None
    num: Optional[Column] = None
    err: Optional[Column] = None
    # exact i64 lane: non-null iff the runtime kind is Bool/Int/Duration
    # (the kinds _numeric_pair compares as i64 and arithmetic keeps in
    # i64). ``num`` stays the f64 view of the same value — doubles lose
    # ULP precision above 2**53, which the reference's exact i64
    # compare/wrapping-arithmetic semantics would expose (fuzz-found at
    # the chrono/i64 bounds).
    lng: Optional[Column] = None
    # static bound on |value| for int-kind results (None = unbounded):
    # bool/comparison outputs are <= 1, date fields <= ~1e6, small-const
    # arithmetic composes bounds.  A bounded int below 2**52 is EXACT in
    # the double lane already, so no ``lng`` Column is materialized for
    # it — eagerly duplicating the value tree into a second lane at
    # every boolean/date node is what pushed when_date2's generated
    # method past Janino's 64 KB limit (sf1 soak finding).
    bound: Optional[int] = None
    numeric_only: bool = False  # derived arithmetic: always numeric
    flt = None  # runtime float-kind (Column/bool); None = statically int-ish
    # a runtime STRING-kind value whose text may look numeric ($add concat
    # like "12"+"34" stays String kind, unlike label leaves where numeric
    # text always parses to Int/Float) — disables _eq's cross-kind shortcut
    may_numeric_str = False
    # statically-known runtime kind word for strict error messages
    # ('boolean' for comparison/logical outputs, 'integer' for $date,
    # ...); None = derive dynamically (leaves, arithmetic)
    skind: Optional[str] = None
    # strict mode only: nullable string Column carrying the first error
    # message in evaluation order (None when the compiler is non-strict
    # or the node can statically never error)
    emsg: Optional[Column] = None



def _null_long() -> Column:
    return F.lit(None).cast("long")


_EXACT_I64_IN_DOUBLE = 2 ** 52


def _lng_or_null(fv: FV) -> Column:
    """Exact i64 view: non-null iff kind is Bool/Int/Duration."""
    if fv.const is not None:
        k = fv.const.kind
        if k == V.BOOL:
            return F.lit(1 if fv.const.val else 0).cast("long")
        if k in (V.INT, V.DURATION):
            return F.lit(int(fv.const.val)).cast("long")
        return _null_long()
    if fv.lng is not None:
        return fv.lng
    if fv.bound is not None and fv.bound <= 2 ** 53 and fv.num is not None:
        # bounded int-kind: the double lane is exact — derive on demand
        return fv.num.cast("long")
    return _null_long()


def _static_bound(fv: FV):
    """|value| bound when the value is statically int-kind and bounded
    (None otherwise).  Used to skip the exact-lane machinery: two
    operands bounded below 2**52 compare and combine exactly in
    double."""
    if fv.const is not None:
        k = fv.const.kind
        if k == V.BOOL:
            return 1
        if k in (V.INT, V.DURATION):
            return abs(int(fv.const.val))
        return None
    return fv.bound


def _both_small(a: FV, b: FV) -> bool:
    ba, bb = _static_bound(a), _static_bound(b)
    return (ba is not None and bb is not None
            and ba < _EXACT_I64_IN_DOUBLE and bb < _EXACT_I64_IN_DOUBLE)


_KIND_WORDS = {V.BOOL: "boolean", V.INT: "integer", V.FLOAT: "float",
               V.DURATION: "duration", V.STRING: "string"}


def _kind_word(fv: FV) -> Column:
    """Kind name as used in the value.rs Add error messages."""
    if fv.const is not None:
        return F.lit(_KIND_WORDS[fv.const.kind])
    if fv.skind is not None:
        return F.lit(fv.skind)
    base = F.when(_is_float_kind(fv), F.lit("float")).otherwise(F.lit("integer"))
    if fv.raw is not None and not fv.numeric_only:
        return F.when(fv.raw.isin("true", "false"), F.lit("boolean")).otherwise(base)
    return base


def _err(fv: FV) -> Column:
    return fv.err if fv.err is not None else F.lit(False)


def _emsg(fv: FV) -> Column:
    return fv.emsg if fv.emsg is not None else F.lit(None).cast("string")


def _is_float_kind(fv: FV) -> Column:
    """Runtime float-kind: distinguishes "0" (Int) from "0.0" (Float) —
    needed where semantics differ (int % 0 errors, float % 0.0 is NaN)."""
    if fv.const is not None:
        return F.lit(fv.const.kind == V.FLOAT)
    if fv.flt is None:
        return F.lit(False)
    return fv.flt if isinstance(fv.flt, Column) else F.lit(bool(fv.flt))


def _is_str(fv: FV) -> Column:
    """Runtime string-kind test (None if statically known non-string)."""
    if fv.const is not None:
        return F.lit(fv.const.kind == V.STRING)
    if fv.numeric_only:
        return F.lit(False)
    return fv.num.isNull() & fv.raw.isNotNull()


def _num(fv: FV) -> Column:
    if fv.const is not None:
        if fv.const.kind == V.STRING:
            raise Unsupported("string constant in numeric position")
        return F.lit(V.as_float(fv.const))
    if fv.num is None:
        raise Unsupported("no numeric interpretation")
    return fv.num


def _truthy(fv: FV) -> Column:
    if fv.const is not None:
        return F.lit(V.as_bool(fv.const))
    if fv.numeric_only:
        return fv.num != 0.0
    # string kind: non-empty; numeric/bool kind: != 0
    return F.when(fv.num.isNotNull(), fv.num != 0.0).otherwise(F.length(fv.raw) != 0)


_ZEROS = "0" * 340  # enough for f64's full decimal range (5e-324 .. 1.8e308)
_SCI_RE = r"^-?([0-9]+)\.([0-9]+)E(-?[0-9]+)$"


def _neg_zero(num: Column) -> Column:
    """f64 negative zero (Rust Display renders it '-0', not '0').

    NOT via the IEEE 1/x == -inf probe: Spark's non-ANSI division NULLs
    any zero divisor — doubles included — so the probe never fired on a
    runtime-computed -0.0 ($div[0, -1]) and the display fell through to
    '0' (fuzz seeds 3079/3100).  Java's Double.toString keeps the sign
    bit ('-0.0'), so the string cast is the reliable signbit test."""
    return (num == F.lit(0.0)) & num.cast("string").startswith("-")


def _expand_sci_col(num: Column) -> Column:
    """Java's Double.toString emits scientific notation outside
    [1e-3, 1e7); Rust's {} always prints plain decimal digits
    ('0.00000015', '10000000000000000').  Expand the E-form with
    string ops (stays codegen-friendly).

    Known residual divergence: JDK < 19's Double.toString is not always
    shortest-roundtrip (e.g. subnormals: 5e-324 prints digits '49' where
    Ryu/Rust print '5'), so the expanded digits can differ from Rust's
    in that band.  Affects display only, on values below ~2.3e-308 or
    rare mantissas; the fuzz matrix excludes the band."""
    s = num.cast("string")
    sign = F.when(num < 0, F.lit("-")).otherwise(F.lit(""))
    ip = F.regexp_extract(s, _SCI_RE, 1)
    fp = F.regexp_extract(s, _SCI_RE, 2)
    ex = F.regexp_extract(s, _SCI_RE, 3).cast("int")
    stripped = F.regexp_replace(F.concat(ip, fp), "0+$", "")
    digits = F.when(stripped == "", F.lit("0")).otherwise(stripped)
    nd = F.length(digits)
    point = F.length(ip) + ex  # decimal point position within `digits`
    zeros = F.lit(_ZEROS)
    expanded = (
        F.when(point <= F.lit(0),
               F.concat(sign, F.lit("0."),
                        F.substr(zeros, F.lit(1), -point), digits))
        .when(point >= nd,
              F.concat(sign, digits, F.substr(zeros, F.lit(1), point - nd)))
        .otherwise(F.concat(sign, F.substr(digits, F.lit(1), point),
                            F.lit("."),
                            F.substr(digits, point + F.lit(1), F.lit(400))))
    )
    return F.when(s.contains("E"), expanded).otherwise(s)


def _float_str(num: Column) -> Column:
    """Rust Display for the non-integer float path: Spark casts inf to
    'Infinity' and uses scientific notation; Rust renders 'inf'/'-inf'
    and plain decimal (fuzz-found)."""
    return (F.when(num == F.lit(float("inf")), F.lit("inf"))
            .when(num == F.lit(float("-inf")), F.lit("-inf"))
            .otherwise(_expand_sci_col(num)))


def _display(fv: FV) -> Column:
    """Rust Display of the dynamically-parsed value as a flat Column."""
    if fv.const is not None:
        return F.lit(V.to_display(fv.const))
    if fv.numeric_only:
        raise Unsupported("display of derived numeric")
    raw, num = fv.raw, fv.num
    int_like = raw.rlike(_INT_RE)
    # float display canonicalization: "9.0" -> "9", "1e3" -> "1000"
    f_int = (~F.isnan(num)) & (num == F.floor(num)) & (F.abs(num) < 1e16)
    float_disp = (F.when(_neg_zero(num), F.lit("-0"))
                  .when(f_int, num.cast("long").cast("string"))
                  .otherwise(_float_str(num)))
    if fv.may_numeric_str:
        # $add outputs: raw is non-null iff STRING kind, displayed verbatim.
        # Int-kind results display from the exact i64 lane when one exists
        # — the double lane's digits round above 2**53 (fuzz-found via
        # $contains over $add of a chrono-bound label)
        num_disp = float_disp
        if fv.lng is not None:
            num_disp = (F.when(fv.lng.isNotNull(), fv.lng.cast("string"))
                        .otherwise(float_disp))
        return F.coalesce(raw, num_disp)
    # i64 Display normalizes the sign: "+42" -> "42", "-0" -> "0".
    # A digit run that OVERFLOWS i64 is Float kind (the parse order falls
    # through to f64), so it must render via the float path, not raw
    # text ("9223372036854775808" displays as "9223372036854776000" —
    # fuzz-found)
    int_cast = raw.try_cast("long")
    return (
        F.when(raw.isin("true", "false"), raw)
        .when(int_like & int_cast.isNotNull(), int_cast.cast("string"))
        .when(num.isNotNull(), float_disp)
        .otherwise(raw)
    )


def label_parts(raw: Column):
    """(num, flt) derivation of a raw label string — the dynamic-parse
    rules of value.rs:51-61 as flat Columns.  Factored out so the planner
    can bind them ONCE per referenced label in a projection below the
    filter: every leaf reference in the predicate then compiles to an
    attribute read instead of re-expanding this tree (whose repeated
    inlining is what pushed generated methods past Janino's 64 KB limit)."""
    is_bool = raw.isin("true", "false")
    numeric = raw.rlike(_NUM_RE) | F.lower(raw).isin(*_FLOAT_SPECIAL)
    num = (
        F.when(is_bool, (raw == "true").cast("double"))
        .otherwise(parse_double(raw))
    )
    # exact i64 lane: bool -> 0/1; integral text -> i64 IF it fits
    # (try_cast nulls on overflow, so "9223372036854775808" correctly
    # falls through to Float kind like Rust's i64-then-f64 parse order)
    lng = (F.when(is_bool, (raw == "true").cast("long"))
           .when(raw.rlike(_INT_RE), raw.try_cast("long")))
    flt = numeric & ~is_bool & lng.isNull()
    return num, flt, lng


class FlatCompiler:
    def __init__(self, ts: Column, labels: Column,
                 computed_labels: Optional[Column] = None,
                 label_columns: Optional[dict] = None,
                 label_fvs: Optional[dict] = None,
                 computed_fvs: Optional[dict] = None,
                 strict: bool = False):
        self.ts = ts
        self.labels = labels
        self.computed = computed_labels
        # strict mode: thread error MESSAGES (FV.emsg) so the top-level
        # predicate can raise_error with the reference's text instead of
        # falling back to the interpreted struct compiler
        self.strict = strict
        # virtual labels: name -> SQL text of a string expression over
        # source columns, skipping the derived-map construction (a mapped
        # source otherwise re-parses/re-builds the map once per reference).
        # Text keeps the expression-string tier free of py4j calls; it
        # wraps into a Column lazily at the consumption sites (_lc).
        self.label_columns = label_columns or {}
        # pre-bound leaves: name -> (raw, num, flt) attribute Columns the
        # planner materialized below the filter (see label_parts)
        self.label_fvs = label_fvs or {}
        self.computed_fvs = computed_fvs or {}
        # compile-size budget bookkeeping: the guard layers run once per
        # OUTERMOST compile() call; recursive self.compile() calls from
        # operator bodies take the direct path
        self._in_compile = False

    # -- public ----------------------------------------------------------
    def predicate(self, node: Node) -> Column:
        return self.as_predicate(self.compile(node))

    def as_predicate(self, fv: FV) -> Column:
        """Filter predicate of a compiled FV."""
        if self.strict:
            # filters/when.rs:81-95 — evaluation errors fail the query
            em = _emsg(fv)
            return F.when(em.isNotNull(), F.raise_error(em)).otherwise(
                F.coalesce(_truthy(fv), F.lit(False)))
        return F.coalesce(_truthy(fv) & ~_err(fv), F.lit(False))

    # -- strict-mode message algebra -------------------------------------
    def _m(self, *parts) -> Optional[Column]:
        """First-error-wins coalesce of optional message parts; None when
        the compiler is non-strict (no tracking cost on the hot path)."""
        if not self.strict:
            return None
        cols = [p for p in parts if p is not None]
        if not cols:
            return None
        return cols[0] if len(cols) == 1 else F.coalesce(*cols)

    def _mw(self, cond: Column, msg) -> Optional[Column]:
        """Conditional message part (null when ``cond`` is false/null)."""
        if not self.strict:
            return None
        return F.when(cond, msg if isinstance(msg, Column) else F.lit(msg))

    # -- leaves ----------------------------------------------------------
    def _label(self, raw: Column, missing: Optional[Column] = None) -> FV:
        num, flt, lng = label_parts(raw)
        fv = FV(raw=raw, num=num, err=raw.isNull(), lng=lng)
        fv.flt = flt
        if missing is not None:
            fv.emsg = self._mw(raw.isNull(), missing)
        return fv

    def _bound(self, parts, missing: Optional[Column] = None) -> FV:
        raw, num, flt, lng = parts
        fv = FV(raw=raw, num=num, err=raw.isNull(), lng=lng)
        fv.flt = flt
        if missing is not None:
            fv.emsg = self._mw(raw.isNull(), missing)
        return fv

    def _missing(self, sigil: str, name: str) -> Optional[Column]:
        if not self.strict:
            return None
        return F.lit(f"Reference '{sigil}{name}' not found")

    def _lc(self, name: str) -> Column:
        """Virtual-label Column; the SQL text wraps lazily (the
        expression-string substrate overrides F with a text builder, so
        this stays correct under both compilers)."""
        return F.expr(self.label_columns[name])

    def compile(self, node: Node) -> FV:
        if self._in_compile:
            return self._compile(node)
        # layer 1: never start a flat compile on a pathologically deep or
        # wide AST — Column construction alone is tens of seconds there
        n_nodes, depth = _ast_stats(node)
        if n_nodes >= _BUDGET_AST_NODES or depth >= _BUDGET_AST_DEPTH:
            raise Unsupported(
                f"condition too large for the flat tier "
                f"({n_nodes} nodes, depth {depth})")
        # layer 2: cheap upper-bound screen — the common case stops here
        screened = _est_size(node, self.strict) > _SCREEN_EST
        self._in_compile = True
        try:
            fv = self._compile(node)
        finally:
            self._in_compile = False
        if screened:
            # layer 3: exact expanded-tree measurement of every lane
            lanes = [c for c in (fv.raw, fv.num, fv.lng, fv.err, fv.emsg)
                     if c is not None]
            if isinstance(fv.flt, Column):
                lanes.append(fv.flt)
            if lanes:
                measured = _measured_tree_size(lanes, _BUDGET_TREE)
                if measured >= _BUDGET_TREE:
                    raise Unsupported(
                        f"compiled tree exceeds {_BUDGET_TREE}-node budget")
        return fv

    def _compile(self, node: Node) -> FV:
        if isinstance(node, Const):
            return FV(const=node.value)
        if isinstance(node, LabelRef):
            if node.name in self.label_fvs:
                return self._bound(self.label_fvs[node.name],
                                   self._missing("&", node.name))
            if node.name in self.label_columns:
                return self._label(self._lc(node.name),
                                   self._missing("&", node.name))
            return self._label(F.element_at(self.labels, F.lit(node.name)),
                               self._missing("&", node.name))
        if isinstance(node, ComputedRef):
            if node.name in self.computed_fvs:
                return self._bound(self.computed_fvs[node.name],
                                   self._missing("@", node.name))
            if self.computed is None:
                fv = FV(const=None, raw=F.lit(None).cast("string"),
                        num=F.lit(None).cast("double"), err=F.lit(True))
                if self.strict:
                    fv.emsg = F.lit(f"Reference '@{node.name}' not found")
                return fv
            return self._label(F.element_at(self.computed, F.lit(node.name)),
                               self._missing("@", node.name))
        assert isinstance(node, Op)
        return self._op(node)

    # -- operators -------------------------------------------------------
    def _op(self, node: Op) -> FV:
        name = node.name
        if name in ("$and", "$or", "$not"):
            return self._logical(name, [self.compile(o) for o in node.operands])
        if name == "$xor":
            ops = [self.compile(o) for o in node.operands]
            total = F.lit(0)
            for x in ops:
                total = total + _truthy(x).cast("int")
            err = F.lit(False)
            for x in ops:
                err = err | _err(x)
            # one_of.rs evaluates every operand — first error in order wins
            out = FV(num=(total == 1).cast("double"), err=err,
                     numeric_only=True, bound=1, skind="boolean")
            out.emsg = self._m(*[x.emsg for x in ops])
            return out
        if name in ("$eq", "$ne"):
            a, b = self.compile(node.operands[0]), self.compile(node.operands[1])
            eq, err = self._eq(a, b)
            val = eq if name == "$eq" else ~eq
            out = FV(num=val.cast("double"), err=err, numeric_only=True,
                     bound=1, skind="boolean")
            out.emsg = self._m(a.emsg, b.emsg)
            return out
        if name in ("$gt", "$gte", "$lt", "$lte"):
            a, b = self.compile(node.operands[0]), self.compile(node.operands[1])
            return self._ordering(name, a, b)
        if name in ("$in", "$nin"):
            return self._in(name, node)
        if name in ("$add", "$sub", "$mult", "$div", "$div_num", "$rem"):
            a, b = self.compile(node.operands[0]), self.compile(node.operands[1])
            return self._arith(name, a, b)
        if name == "$abs":
            a = self.compile(node.operands[0])
            ab = _static_bound(a)
            if ab is not None and ab < _EXACT_I64_IN_DOUBLE:
                out = FV(num=F.abs(_num_rt(a)), err=_arith_err(a),
                         numeric_only=True, bound=ab)
            else:
                la = _lng_or_null(a)
                # i64 lane: Spark non-ANSI abs(MIN) wraps to MIN like
                # Rust release wrapping_abs
                out = FV(num=F.when(la.isNotNull(), F.abs(la).cast("double"))
                         .otherwise(F.abs(_num_rt(a))),
                         err=_arith_err(a), numeric_only=True,
                         lng=F.when(la.isNotNull(), F.abs(la)))
            out.flt = _is_float_kind(a)
            out.emsg = self._m(a.emsg, self._mw(
                _is_str(a), "Cannot calculate absolute value of a string"))
            return out
        if name in ("$contains", "$starts_with", "$ends_with"):
            a, b = self.compile(node.operands[0]), self.compile(node.operands[1])
            da, db = _display(a), _display(b)
            val = {"$contains": da.contains(db),
                   "$starts_with": da.startswith(db),
                   "$ends_with": da.endswith(db)}[name]
            out = FV(num=val.cast("double"), err=_err(a) | _err(b),
                     numeric_only=True, bound=1, skind="boolean")
            out.emsg = self._m(a.emsg, b.emsg)
            return out
        if name in ("$second", "$minute", "$hour", "$day", "$month", "$year",
                    "$weekday"):
            return self._date(name, node)
        if name == "$exists":
            # exists.rs: names checked in order; an operand's error only
            # counts if every earlier name was present and error-free
            # (the scan stops at the first missing label)
            val = F.lit(True)
            err = F.lit(False)
            emsg = None
            for o in node.operands:
                fv = self.compile(o)
                e_i = F.coalesce(_err(fv), F.lit(False))
                active = val & ~err
                err = err | (active & e_i)
                if self.strict:
                    emsg = self._m(emsg, self._mw(active, _emsg(fv)))
                contained = F.coalesce(
                    F.map_contains_key(self.labels, _display(fv)), F.lit(False))
                val = F.when(active & ~e_i, val & contained).otherwise(val)
            out = FV(num=val.cast("double"), err=err, numeric_only=True,
                     bound=1, skind="boolean")
            out.emsg = emsg
            return out
        if name == "$cast":
            return self._cast(node)
        if name == "$ref":
            o = node.operands[0]
            if isinstance(o, Const):
                # constant name: identical to &name (ref.rs evaluates the
                # operand to a display string, then looks it up) — bound
                # leaves / virtual label columns apply, no map build
                lname = V.to_display(o.value)
                missing = self._missing("&", lname)
                if lname in self.label_fvs:
                    return self._bound(self.label_fvs[lname], missing)
                if lname in self.label_columns:
                    return self._label(self._lc(lname), missing)
                return self._label(F.element_at(self.labels, F.lit(lname)),
                                   missing)
            fv = self.compile(o)
            name_col = _display(fv)
            missing = None
            if self.strict:
                missing = F.concat(F.lit("Reference '&"), name_col,
                                   F.lit("' not found"))
            lbl = self._label(F.element_at(self.labels, name_col), missing)
            lbl.err = lbl.err | _err(fv)
            # the name expression's own error wins over "not found"
            lbl.emsg = self._m(fv.emsg, lbl.emsg)
            return lbl
        if name == "$timestamp":
            return FV(num=self.ts.cast("double"), err=F.lit(False),
                      numeric_only=True, lng=self.ts.cast("long"))
        raise Unsupported(name)

    def _logical(self, name: str, ops: List[FV]) -> FV:
        """Short-circuit error fold: an operand's error counts only if no
        earlier operand decided the result (all_of.rs/any_of.rs).

        Written FLAT: per operand, ok_i (decides-pass), stop_i
        (decides-the-result the short way), err_i; the scan is "active"
        at i iff every earlier operand passed.  Expression size is then
        O(n^2/2) in operand count — a recursive
        ``when(f(val), ...).otherwise(val)`` fold embeds the accumulated
        tree ~3x per level (3^n growth), which is what pushed generated
        methods past Janino's 64 KB limit on conditions whose operands
        are themselves large trees (e.g. five date extractions)."""
        if not ops:
            base = name in ("$and", "$not")
            return FV(const=V.vbool(base))
        conj = name == "$and"
        # per-operand decision flags (null-safe: null -> not decided)
        t = [F.coalesce(_truthy(x), F.lit(False)) for x in ops]
        e = [F.coalesce(_err(x), F.lit(False)) for x in ops]
        ok = [(ti if conj else ~ti) & ~ei for ti, ei in zip(t, e)]
        stop = [(~ti if conj else ti) & ~ei for ti, ei in zip(t, e)]
        prefix = F.lit(True)   # all earlier operands passed, no err/stop
        err = F.lit(False)
        stopped = F.lit(False)
        emsg = None
        for x, ok_i, stop_i, e_i in zip(ops, ok, stop, e):
            err = err | (prefix & e_i)
            if self.strict:
                emsg = self._m(emsg, self._mw(prefix, _emsg(x)))
            stopped = stopped | (prefix & stop_i)
            prefix = prefix & ok_i
        # $and: true unless some active operand was false ($or dual);
        # an operand erroring first leaves val at its pre-error value,
        # matching the reference's frozen accumulator
        val = ~stopped if conj else stopped
        out = val if name in ("$and", "$or") else ~val
        res = FV(num=out.cast("double"), err=err, numeric_only=True,
                 bound=1, skind="boolean")
        res.emsg = emsg
        return res

    def _eq(self, a: FV, b: FV):
        err = _err(a) | _err(b)
        if a.const is not None and b.const is not None:
            return F.lit(V.val_eq(a.const, b.const)), err
        if b.const is not None:
            a, b = b, a
        if a.const is not None:  # const vs runtime
            c = a.const
            if c.kind == V.STRING:
                if b.numeric_only:
                    return F.lit(False), err
                if V.parse_str_value(c.val).kind != V.STRING and not b.may_numeric_str:
                    # a numeric-looking string constant never equals a label
                    # (the label would parse numeric -> cross-kind); $add
                    # concat outputs CAN be numeric-looking String kind
                    return F.lit(False), err
                return F.coalesce(_is_str(b) & (b.raw == c.val), F.lit(False)), err
            # numeric constant (never NaN: JSON cannot express one, and
            # string constants take the branch above).  Int-kind pairs
            # compare exactly in i64 (_numeric_pair); a float on either
            # side promotes to f64 (lossy for big ints — that IS the
            # reference semantics, so the double lane is correct there).
            cval = V.as_float(c)
            nb = _num_or_null(b)
            if c.kind in (V.INT, V.DURATION, V.BOOL) and not _both_small(a, b):
                ci = int(c.val) if c.kind != V.BOOL else int(bool(c.val))
                lb = _lng_or_null(b)
                num_eq = F.when(lb.isNotNull(), lb == F.lit(ci)) \
                    .otherwise((nb == F.lit(cval)) & ~F.isnan(nb))
            else:
                # Spark's == treats NaN = NaN as TRUE (and a NaN label
                # would also satisfy == via Spark NaN normalization in
                # codegen); Rust f64 PartialEq says NaN equals nothing
                # (fuzz-found)
                num_eq = (nb == F.lit(cval)) & ~F.isnan(nb)
            return F.coalesce(num_eq, F.lit(False)), err
        # runtime vs runtime
        na, nb = _num_or_null(a), _num_or_null(b)
        if _both_small(a, b):
            num_eq = (na == nb) & ~F.isnan(na) & ~F.isnan(nb)
        else:
            la, lb = _lng_or_null(a), _lng_or_null(b)
            num_eq = (F.when(la.isNotNull() & lb.isNotNull(), la == lb)
                      .otherwise((na == nb) & ~F.isnan(na) & ~F.isnan(nb)))
        both_num = na.isNotNull() & nb.isNotNull()
        if a.numeric_only or b.numeric_only:
            return F.coalesce(F.when(both_num, num_eq), F.lit(False)), err
        both_str = _is_str(a) & _is_str(b)
        val = (F.when(both_str, a.raw == b.raw)
               .when(both_num, num_eq)
               .otherwise(F.lit(False)))
        return F.coalesce(val, F.lit(False)), err

    def _ordering(self, name: str, a: FV, b: FV) -> FV:
        import operator as _op

        base_err = _err(a) | _err(b)
        op = {"$gt": _op.gt, "$gte": _op.ge, "$lt": _op.lt, "$lte": _op.le}[name]
        if a.const is not None and b.const is not None:
            c = V.val_cmp(a.const, b.const)  # None = unordered -> false
            res = False if c is None else {
                "$gt": c > 0, "$gte": c >= 0,
                "$lt": c < 0, "$lte": c <= 0}[name]
            # fold to a true Bool CONSTANT — consts can't error, and the
            # kind must survive for downstream error text ($add of a
            # string to this must say "to boolean", not "to integer";
            # fuzz seed 6000)
            return FV(const=V.vbool(res))

        sa, sb = _is_str(a), _is_str(b)
        # string vs non-string: Rust PartialOrd partial_cmp None -> FALSE
        # (gt.rs Ok(Bool(v1 > v2))), never an error
        mixed = sa != sb
        err = base_err
        na, nb = _num_or_null(a), _num_or_null(b)
        if _both_small(a, b):
            num_cmp = op(na, nb)
        else:
            la, lb = _lng_or_null(a), _lng_or_null(b)
            # Int-kind pairs order exactly in i64; float on either side
            # promotes both to f64 (_numeric_pair)
            num_cmp = (F.when(la.isNotNull() & lb.isNotNull(), op(la, lb))
                       .otherwise(op(na, nb)))
        if (a.const is not None and a.const.kind == V.STRING) or \
           (b.const is not None and b.const.kind == V.STRING):
            stra = a.raw if a.const is None else F.lit(a.const.val)
            strb = b.raw if b.const is None else F.lit(b.const.val)
            val = F.when(sa & sb, op(stra, strb)).when(~mixed, num_cmp)
        elif a.numeric_only or b.numeric_only or \
                (a.const is not None or b.const is not None):
            val = F.when(~F.coalesce(mixed, F.lit(False)), num_cmp)
        else:
            val = F.when(sa & sb, op(a.raw, b.raw)).when(~mixed, num_cmp)
        # NaN: partial_cmp None -> FALSE.  Spark would order NaN greater
        # than everything, so mask it out of num_cmp — including NaN
        # CONSTANTS, which arithmetic const-folding can produce
        # ($rem[x, 0.0]; fuzz-found seed 2009)
        nan = F.lit(False)
        for x, n in ((a, na), (b, nb)):
            if x.const is None:
                nan = nan | F.coalesce(F.isnan(n), F.lit(False))
            elif x.const.kind == V.FLOAT and x.const.val != x.const.val:
                nan = F.lit(True)
        out = FV(num=F.coalesce(val & ~nan, F.lit(False)).cast("double"),
                 err=err, numeric_only=True, bound=1,
                 skind="boolean")
        out.emsg = self._m(a.emsg, b.emsg)
        return out

    def _in(self, name: str, node: Op) -> FV:
        head = self.compile(node.operands[0])
        hit = F.lit(False)
        err = _err(head)
        emsg = head.emsg
        for o in node.operands[1:]:
            item = self.compile(o)
            eq, e2 = self._eq(head, item)
            err = err | (~hit & e2)  # errors in items scanned before a match
            if self.strict:
                emsg = self._m(emsg, self._mw(~hit, _emsg(item)))
            hit = hit | eq
        val = hit if name == "$in" else ~hit
        # Bool-kind result like every comparison: without skind the strict
        # message for e.g. $add[string, $in(...)] falls back to the runtime
        # numeric kind word ("integer") instead of "boolean" (r7 strict
        # fuzz, seed 8008)
        out = FV(num=val.cast("double"), err=err, numeric_only=True,
                 bound=1, skind="boolean")
        out.emsg = emsg
        return out

    def _arith(self, name: str, a: FV, b: FV) -> FV:
        if a.const is not None and b.const is not None:
            fn = {"$add": V.val_add, "$sub": V.val_sub, "$mult": V.val_mult,
                  "$div": V.val_div, "$div_num": V.val_div_num,
                  "$rem": V.val_rem}[name]
            try:
                return FV(const=fn(a.const, b.const))
            except V.CondError as exc:
                out = FV(num=F.lit(0.0), err=F.lit(True), numeric_only=True)
                if self.strict:
                    out.emsg = F.lit(str(exc))
                return out
        if name == "$add":
            return self._add(a, b)
        # side-aware string-operand messages (columns.py struct tier /
        # value/arithmetic/*.rs): $div distinguishes dividend vs divisor
        if name in ("$sub", "$mult"):
            verb = {"$sub": "subtract", "$mult": "multiply"}[name]
            msg_a = msg_b = f"Cannot {verb} string"
        elif name == "$rem":
            msg_a = msg_b = "Cannot divide by string"
        else:  # $div / $div_num
            msg_a, msg_b = "Cannot divide string", "Cannot divide by string"
        str_emsg = self._m(self._mw(_is_str(a), msg_a),
                           self._mw(_is_str(b), msg_b))
        for x in (a, b):
            if x.const is not None and x.const.kind == V.STRING:
                # $sub/$mult/$div/$div_num/$rem on a string is always an
                # evaluation error (values.py val_sub et al.)
                out = FV(num=F.lit(0.0), err=F.lit(True), numeric_only=True)
                out.emsg = self._m(a.emsg, b.emsg, str_emsg)
                return out
        na, nb = _num_rt(a), _num_rt(b)
        err = _arith_err(a) | _arith_err(b)
        zero_msg = None
        either_flt = _is_float_kind(a) | _is_float_kind(b)
        out_flt = either_flt
        lng = None  # exact i64 result lane (int×int paths)
        out_bound = None
        ba, bb = _static_bound(a), _static_bound(b)
        # bounded-small operands: double arithmetic is exact and cannot
        # wrap — skip the lane (avoids duplicating the operand trees)
        small = _both_small(a, b) and name in ("$sub", "$mult", "$rem",
                                               "$div_num", "$add_num")
        if small and name == "$mult" and ba * bb >= _EXACT_I64_IN_DOUBLE:
            small = False
        if name == "$sub":
            if small:
                num = na - nb
                out_bound = ba + bb
            else:
                la, lb = _lng_or_null(a), _lng_or_null(b)
                both_i = la.isNotNull() & lb.isNotNull()
                # Spark non-ANSI long arithmetic wraps like Rust release
                # i64 for +/-/* (MIN % -1 -> 0, double->long saturates,
                # NaN -> 0 — all probed): exact value.rs match.  One
                # deliberate deviation: Rust i64 division panics on
                # MIN/-1 even in release (the reference would abort the
                # request); both our compiled tiers and the interpreter
                # consistently wrap to MIN instead.
                lng = F.when(both_i, la - lb)
                num = F.when(both_i, lng.cast("double")).otherwise(na - nb)
        elif name == "$mult":
            if small:
                num = na * nb
                out_bound = ba * bb
            else:
                la, lb = _lng_or_null(a), _lng_or_null(b)
                both_i = la.isNotNull() & lb.isNotNull()
                lng = F.when(both_i, la * lb)
                num = F.when(both_i, lng.cast("double")).otherwise(na * nb)
        elif name == "$div":
            err = err | (nb == 0.0)
            zero_msg = self._mw(nb == 0.0, "Cannot divide by zero")
            num = na / nb  # true division is Float always (div.rs)
            out_flt = F.lit(True)
        elif name == "$div_num":
            err_zero = _trunc(nb) == 0.0 if small else None
            if small:
                err = err | err_zero
                zero_msg = self._mw(err_zero, "Cannot divide by zero")
                num = _trunc(_trunc(na) / _trunc(nb))
                out_bound = ba
            else:
                la, lb = _lng_or_null(a), _lng_or_null(b)
                # as_int truncation (saturating f64 -> i64) then exact
                # i64 truncating division
                ta = F.coalesce(la, na.cast("long"))
                tb = F.coalesce(lb, nb.cast("long"))
                err = err | (tb == F.lit(0))
                zero_msg = self._mw(tb == F.lit(0), "Cannot divide by zero")
                lng = F.call_function("div", ta, tb)
                num = lng.cast("double")
            out_flt = F.lit(False)
        else:  # $rem — fmod keeps the dividend's sign, like Rust %
            # int % 0 is an error; float % 0.0 is NaN (IEEE / Rust)
            err = err | ((nb == 0.0) & ~either_flt)
            zero_msg = self._mw((nb == 0.0) & ~either_flt,
                                "Cannot divide by zero")
            if small:
                num = F.when((nb == 0.0) & either_flt, F.lit(float("nan"))) \
                    .otherwise(na % nb)
                out_bound = bb
            else:
                la, lb = _lng_or_null(a), _lng_or_null(b)
                both_i = la.isNotNull() & lb.isNotNull()
                lng = F.when(both_i & (lb != F.lit(0)), la % lb)
                num = (F.when((nb == 0.0) & either_flt, F.lit(float("nan")))
                       .when(both_i, lng.cast("double"))
                       .otherwise(na % nb))
        out = FV(num=num, err=err, numeric_only=True, lng=lng,
                 bound=out_bound,
                 skind={"$div": "float", "$div_num": "integer"}.get(name))
        out.flt = out_flt
        out.emsg = self._m(a.emsg, b.emsg, str_emsg, zero_msg)
        return out

    def _add(self, a: FV, b: FV) -> FV:
        """$add: concat when BOTH sides are String kind, numeric sum when
        neither is, error on the mix (values.py val_add / reference
        value.rs Add impl) — all kept flat/codegen-able."""
        sa, sb = _is_str(a), _is_str(b)
        err = _err(a) | _err(b) | (sa != sb)
        na, nb = _num_or_null(a), _num_or_null(b)
        raw = F.when(sa & sb, F.concat(_str_repr(a), _str_repr(b)))
        if _both_small(a, b):
            ba, bb = _static_bound(a), _static_bound(b)
            out = FV(raw=raw, num=na + nb, err=err, bound=ba + bb)
        else:
            la, lb = _lng_or_null(a), _lng_or_null(b)
            both_i = la.isNotNull() & lb.isNotNull()
            lng = F.when(both_i, la + lb)  # wrapping i64, exact above 2**53
            out = FV(raw=raw,
                     num=F.when(both_i, lng.cast("double")).otherwise(na + nb),
                     err=err, lng=lng)
        out.flt = _is_float_kind(a) | _is_float_kind(b)
        out.may_numeric_str = True
        # mixed string+non-string: value.rs Add names both kinds
        # ("Cannot add duration to string", "Cannot add string to float")
        mixed_msg = (F.when(sa & ~sb, F.concat(F.lit("Cannot add string to "),
                                               _kind_word(b)))
                     .otherwise(F.concat(F.lit("Cannot add "), _kind_word(a),
                                         F.lit(" to string"))))
        out.emsg = self._m(a.emsg, b.emsg, self._mw(sa != sb, mixed_msg))
        return out

    def _date(self, name: str, node: Op) -> FV:
        tsv = self.compile(node.operands[0])
        # exact i64 when int-kind (doubles round above 2**53 — TS_US_MAX
        # itself would falsely read out-of-range); float-kind saturates
        # via the non-ANSI double->long cast like Rust `as i64`
        ts_us = F.coalesce(_lng_or_null(tsv), _trunc(_num_rt(tsv)).cast("long"))
        # date.rs:40-46 — chrono rejects timestamps outside its range
        # (a float inf saturates to i64::MAX via the cast, like Rust)
        oob = F.coalesce((ts_us > F.lit(V.TS_US_MAX))
                         | (ts_us < F.lit(V.TS_US_MIN)), F.lit(False))
        err = _arith_err(tsv) | oob
        emsg = self._m(tsv.emsg,
                       # value.rs:87 as_int error carries the text
                       self._mw(_is_str(tsv), F.concat(
                           F.lit("Value '"), _str_repr(tsv),
                           F.lit("' could not be parsed as integer"))),
                       self._mw(oob, F.concat(
                           F.lit(f"{name} requires a valid timestamp in "
                                 f"microseconds, got "),
                           ts_us.cast("string"))))
        # clamp when out of range: from_utc_timestamp on i64::MAX throws
        # a runtime ArithmeticException even though the error flag masks
        # the result — feed it epoch instead
        instant = F.timestamp_micros(F.when(oob, F.lit(0)).otherwise(ts_us))
        if len(node.operands) == 2:
            tz = node.operands[1]
            if not (isinstance(tz, Const) and tz.value.kind == V.STRING):
                raise Unsupported("dynamic timezone")
            local = F.from_utc_timestamp(instant, tz.value.val)
        else:
            local = instant
        fld = {"$second": F.second, "$minute": F.minute, "$hour": F.hour,
               "$day": F.dayofmonth, "$month": F.month, "$year": F.year}.get(name)
        col = fld(local) if fld else (F.dayofweek(local) + 5) % 7
        out = FV(num=col.cast("double"), err=err, numeric_only=True,
                 bound=1_000_000, skind="integer")
        out.emsg = emsg
        return out

    def _cast(self, node: Op) -> FV:
        tnode = node.operands[1]
        if not (isinstance(tnode, Const) and tnode.value.kind == V.STRING):
            raise Unsupported("dynamic cast target")
        target = tnode.value.val
        a = self.compile(node.operands[0])
        if a.const is not None:
            # constant fold through the exact interpreter cast
            try:
                return FV(const=V.val_cast(a.const, target))
            except V.CondError as exc:
                out = FV(num=F.lit(0.0), err=F.lit(True), numeric_only=True)
                if self.strict:
                    out.emsg = F.lit(str(exc))
                return out
        if target == "bool":
            out = FV(num=_truthy(a).cast("double"), err=_err(a),
                     numeric_only=True, bound=1, skind="boolean")
            out.emsg = a.emsg
            return out
        if target == "string":
            # result is String kind: raw = the canonical display text
            disp = _display(a)  # may raise Unsupported (derived numerics)
            out = FV(raw=disp, num=F.lit(None).cast("double"), err=_err(a))
            out.may_numeric_str = True
            out.emsg = a.emsg
            return out
        if target not in ("int", "duration", "float"):
            out = FV(num=F.lit(0.0), err=F.lit(True), numeric_only=True)
            if self.strict:
                out.emsg = self._m(a.emsg, F.lit(f"Unknown type '{target}'"))
            return out
        # numeric targets: a runtime String-kind value parses its TEXT
        # (value.rs as_int/as_float — cast("77","int") is 77, not an
        # error); non-string kinds convert numerically.  The parse branch
        # is only reachable for may_numeric_str values ($add concat /
        # cast-to-string outputs): a LEAF whose text parses numeric is
        # already Int/Float kind, so its string-kind text can never parse
        # — the plain numeric expression (string-kind -> error) is both
        # correct and much smaller.  Strict mode always takes the parse
        # branch because the error message must quote the text.
        parse_path = a.may_numeric_str or (self.strict and not a.numeric_only)
        s = _is_str(a) if parse_path else None
        if target == "float":
            if s is None:
                out = FV(num=_num_rt(a), err=_arith_err(a), numeric_only=True)
                out.emsg = a.emsg
            else:
                # Rust f64 parse semantics (no whitespace, signed NaN ok)
                parsed = parse_double(a.raw)
                bad = F.coalesce(s & parsed.isNull(), F.lit(False))
                out = FV(num=F.when(s, parsed).otherwise(_num_or_null(a)),
                         err=_err(a) | bad, numeric_only=True)
                out.emsg = self._m(a.emsg, self._mw(bad, F.concat(
                    F.lit("Value '"), a.raw,
                    F.lit("' could not be parsed as float"))))
            out.flt = True
            out.skind = "float"
            return out
        # int / duration: strict i64 parse for string text (INT_RE like
        # _parse_i64), truncate-toward-zero (saturating, exact-i64) for
        # numeric kinds
        word = "duration" if target == "duration" else "integer"
        ab = _static_bound(a)
        if ab is not None and ab < _EXACT_I64_IN_DOUBLE:
            # bounded int-kind input: truncation is identity, stays small
            out = FV(num=_num_rt(a), err=_arith_err(a),
                     numeric_only=True, bound=ab, skind=word)
            out.emsg = a.emsg
            return out
        ex = F.coalesce(_lng_or_null(a), _num_rt(a).cast("long"))
        if s is None:
            out = FV(num=ex.cast("double"), err=_arith_err(a),
                     numeric_only=True, lng=ex, skind=word)
            out.emsg = a.emsg
            return out
        parsed = F.when(a.raw.rlike(_INT_RE), a.raw.try_cast("long"))
        bad = F.coalesce(s & parsed.isNull(), F.lit(False))
        lng = F.when(s, parsed).otherwise(ex)
        out = FV(num=lng.cast("double"), err=_err(a) | bad,
                 numeric_only=True, lng=lng, skind=word)
        out.emsg = self._m(a.emsg, self._mw(bad, F.concat(
            F.lit("Value '"), a.raw,
            F.lit("' could not be parsed as integer"))))
        return out


def _str_repr(fv: FV) -> Column:
    """The value's text when it is String kind (null otherwise)."""
    if fv.const is not None:
        return F.lit(fv.const.val if fv.const.kind == V.STRING else None).cast("string")
    if fv.raw is not None:
        return fv.raw
    return F.lit(None).cast("string")


def _num_or_null(fv: FV) -> Column:
    if fv.const is not None:
        if fv.const.kind == V.STRING:
            return F.lit(None).cast("double")
        return F.lit(V.as_float(fv.const))
    return fv.num


def _num_rt(fv: FV) -> Column:
    """Numeric value in arithmetic position; string-kind becomes an error
    handled by _arith_err (value surfaces as null)."""
    return _num_or_null(fv)


def _arith_err(fv: FV) -> Column:
    """Error if the operand errored or is string-kind (can't do math)."""
    if fv.const is not None:
        return F.lit(fv.const.kind == V.STRING)
    if fv.numeric_only:
        return _err(fv)
    return _err(fv) | fv.num.isNull()


def _trunc(c: Column) -> Column:
    """Truncate toward zero (Rust `as i64` on the value range we support)."""
    return F.when(c < 0, F.ceil(c)).otherwise(F.floor(c)).cast("double")
