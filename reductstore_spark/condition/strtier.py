"""SQL-text substrate for the flat condition compiler.

The flat compiler (``fastcols.py``) is semantically exact but builds its
result as pyspark ``Column`` objects — every ``F.xxx`` call and Column
operator is a py4j round-trip, and a registry-typical ``when`` condition
costs hundreds to thousands of them.  That driver-side construction cost
was measured at ~0.5 s per query across the ~85 records-model bench
entries (guide §1.2: the distributed algorithm includes the driver).

This module eliminates the boundary without forking the compiler logic:
``fastcols.py`` is re-executed as a second module instance ``_M`` whose
``F`` and ``Column`` globals are replaced by a pure-Python SQL-text
expression builder (``SF`` / ``SCol``).  The EXACT SAME compiler code
then emits one SQL string per predicate/lane, and the only py4j calls
left are the final ``selectExpr``/``F.expr`` — ~2 per query instead of
~10^3.  The planner's predicate ladder (``plans/planner.py:_compile``)
runs ``_M`` as its first rung; ``predicate_sql``, ``truthy_err_sql`` and
``truthy_emsg_sql`` expose single unbound conditions as text.

Equivalence argument: the compiled expression TREE is produced by the
same Python control flow, so the string form can only diverge from the
Column form through the substrate mapping itself (operator rendering,
literal formatting, escaping).  Each mapping below targets the exact
Catalyst expression the pyspark API builds:

* operators render with precedence-aware MINIMAL parentheses (see the
  level table below — full parenthesization provoked superlinear ANTLR
  ``adaptivePredict`` cost: ~39 s to parse one 28 KB predicate);
* string literals escape ``\\`` and ``'`` (plus control chars) for the
  default ``escapedStringLiterals=false`` parser mode the engine pins;
* float literals use ``repr()`` (shortest-roundtrip) + ``D`` suffix so
  they parse via Java ``Double.parseDouble`` to the identical double;
  non-finite values render as ``CAST('Infinity'/'NaN' AS DOUBLE)``;
* int literals are plain digits (the SQL parser types them INT/BIGINT
  by magnitude, matching ``F.lit``'s int32/int64 split);
* ``F.call_function("div", a, b)`` renders as the ``a DIV b`` operator
  (same ``IntegralDivide`` expression).

The three-layer compile-size budget is preserved: layer 1 (AST guard)
and layer 2 (the pure-Python screen) run unchanged inside the reloaded
module; a condition the screen flags is refused (``_screen``) before
compiling, and so is text over ``_MAX_TEXT``, which routes it to the
Column-based flat rung whose layer-3 exact JVM tree measurement still
applies.
"""

from __future__ import annotations

import importlib.util
from typing import Dict, Optional

from . import fastcols as _fc
from .ast import Node

# -- SQL text fragments -------------------------------------------------

_CTRL = {"\n": "\\n", "\r": "\\r", "\t": "\\t", "\0": "\\0",
         "\x1a": "\\Z"}


def sql_str(s: str) -> str:
    """SQL string literal for the default (escape-processing) parser."""
    out = s.replace("\\", "\\\\").replace("'", "\\'")
    for ch, rep in _CTRL.items():
        out = out.replace(ch, rep)
    return "'" + out + "'"


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier; embedded backticks double (ADVICE r10)."""
    return "`" + name.replace("`", "``") + "`"


_TYPES = {"double": "DOUBLE", "long": "BIGINT", "int": "INT",
          "string": "STRING", "boolean": "BOOLEAN", "timestamp": "TIMESTAMP"}


def _lit_text(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return repr(v) + "D"
    if isinstance(v, str):
        return sql_str(v)
    raise _fc.Unsupported(f"literal type {type(v).__name__}")


# Operator precedence levels (bigger binds tighter), mirroring Spark's
# SQL grammar: atoms (identifiers, literals, function calls, CASE..END,
# CAST) never need parentheses; unary minus; multiplicative (* / % DIV);
# additive (+ -); predicates/comparisons (= != < <= > >=, IN, RLIKE,
# IS [NOT] NULL); NOT; AND; OR.
#
# Parentheses are emitted ONLY where the parse would otherwise regroup:
# Spark's ANTLR parser exhibits superlinear `adaptivePredict` cost on
# deeply nested parentheses (each "(" may open a scalar subquery, so
# prediction closures compound per level -- observed ~39 s to parse one
# fully-parenthesized 28 KB predicate vs milliseconds minimal-paren),
# so minimal rendering is a cost requirement, not style.
_P_ATOM = 9
_P_NEG = 8
_P_MUL = 7
_P_ADD = 6
_P_CMP = 5
_P_NOT = 4
_P_AND = 3
_P_OR = 2


class SCol:
    """SQL-text expression node quacking like the pyspark Column subset
    ``fastcols`` uses.  ``s`` is the expression text; ``p`` its top-level
    operator precedence (for minimal-parenthesis embedding)."""

    __slots__ = ("s", "p")

    def __init__(self, s: str, p: int = _P_ATOM):
        self.s = s
        self.p = p

    # -- helpers --
    @staticmethod
    def _c(o) -> "SCol":
        if isinstance(o, SCol):
            return o
        t = _lit_text(o)
        # a leading "-" is a unary-minus parse, not part of the literal
        return SCol(t, _P_NEG if t.startswith("-") else _P_ATOM)

    def _at(self, lvl: int) -> str:
        """Text, parenthesized iff this node binds looser than ``lvl``."""
        return f"({self.s})" if self.p < lvl else self.s

    def _bin(self, op: str, lvl: int, o, flip: bool = False) -> "SCol":
        a, b = self, SCol._c(o)
        if flip:
            a, b = b, a
        # left-associative grammar: the left child may sit at the same
        # level unparenthesized (re-parses to the same tree), the right
        # child must bind strictly tighter
        return SCol(f"{a._at(lvl)} {op} {b._at(lvl + 1)}", lvl)

    # -- comparison / logic --
    def __eq__(self, o):  # noqa: D105
        return self._bin("=", _P_CMP, o)

    def __ne__(self, o):  # noqa: D105
        return self._bin("!=", _P_CMP, o)

    def __lt__(self, o):
        return self._bin("<", _P_CMP, o)

    def __le__(self, o):
        return self._bin("<=", _P_CMP, o)

    def __gt__(self, o):
        return self._bin(">", _P_CMP, o)

    def __ge__(self, o):
        return self._bin(">=", _P_CMP, o)

    __hash__ = object.__hash__

    def __and__(self, o):
        return self._bin("AND", _P_AND, o)

    def __rand__(self, o):
        return self._bin("AND", _P_AND, o, flip=True)

    def __or__(self, o):
        return self._bin("OR", _P_OR, o)

    def __ror__(self, o):
        return self._bin("OR", _P_OR, o, flip=True)

    def __invert__(self):
        return SCol(f"NOT {self._at(_P_NOT)}", _P_NOT)

    # -- arithmetic --
    def __add__(self, o):
        return self._bin("+", _P_ADD, o)

    def __radd__(self, o):
        return self._bin("+", _P_ADD, o, flip=True)

    def __sub__(self, o):
        return self._bin("-", _P_ADD, o)

    def __rsub__(self, o):
        return self._bin("-", _P_ADD, o, flip=True)

    def __mul__(self, o):
        return self._bin("*", _P_MUL, o)

    def __rmul__(self, o):
        return self._bin("*", _P_MUL, o, flip=True)

    def __truediv__(self, o):
        return self._bin("/", _P_MUL, o)

    def __rtruediv__(self, o):
        return self._bin("/", _P_MUL, o, flip=True)

    def __mod__(self, o):
        return self._bin("%", _P_MUL, o)

    def __rmod__(self, o):
        return self._bin("%", _P_MUL, o, flip=True)

    def __neg__(self):
        return SCol(f"- {self._at(_P_NEG + 1)}", _P_NEG)

    def __bool__(self):
        raise _fc.Unsupported("SCol in boolean context")

    # -- methods --
    def cast(self, t: str) -> "SCol":
        return SCol(f"CAST({self.s} AS {_TYPES[t]})")

    def try_cast(self, t: str) -> "SCol":
        return SCol(f"TRY_CAST({self.s} AS {_TYPES[t]})")

    # predicates (IS NULL, IN, RLIKE) attach to a valueExpression at the
    # `predicated` grammar level: they may NOT themselves appear as a
    # comparison operand without parentheses, so their RESULT level is
    # _P_NOT (below comparisons — forces parens there, none under AND/OR)
    def isNull(self) -> "SCol":
        return SCol(f"{self._at(_P_CMP + 1)} IS NULL", _P_NOT)

    def isNotNull(self) -> "SCol":
        return SCol(f"{self._at(_P_CMP + 1)} IS NOT NULL", _P_NOT)

    def isin(self, *vals) -> "SCol":
        items = ", ".join(SCol._c(v).s for v in vals)
        return SCol(f"{self._at(_P_CMP + 1)} IN ({items})", _P_NOT)

    def rlike(self, pat: str) -> "SCol":
        return SCol(f"{self._at(_P_CMP + 1)} RLIKE {sql_str(pat)}", _P_NOT)

    def contains(self, o) -> "SCol":
        return SCol(f"contains({self.s}, {SCol._c(o).s})")

    def startswith(self, o) -> "SCol":
        return SCol(f"startswith({self.s}, {SCol._c(o).s})")

    def endswith(self, o) -> "SCol":
        return SCol(f"endswith({self.s}, {SCol._c(o).s})")


class SCaseCol(SCol):
    """CASE WHEN chain; usable as an expression at any point (no ELSE =>
    NULL, exactly like an un-``otherwise``d pyspark ``when``).  The
    CASE..END keywords delimit every operand, so branches embed at any
    precedence without parentheses -- each CASE is an atom."""

    __slots__ = ("_branches", "_else")

    def __init__(self, branches, els=None):
        self._branches = branches
        self._else = els
        super().__init__(self._render(), _P_ATOM)

    def _render(self) -> str:
        parts = ["CASE"]
        for c, v in self._branches:
            parts.append(f"WHEN {c} THEN {v}")
        if self._else is not None:
            parts.append(f"ELSE {self._else}")
        parts.append("END")
        return " ".join(parts)

    def when(self, cond, value) -> "SCaseCol":
        return SCaseCol(self._branches
                        + [(SCol._c(cond).s, SCol._c(value).s)], self._else)

    def otherwise(self, value) -> "SCaseCol":
        return SCaseCol(self._branches, SCol._c(value).s)


def _fn(name):
    def call(*args):
        return SCol(f"{name}({', '.join(SCol._c(a).s for a in args)})")
    return call


class SF:
    """``pyspark.sql.functions`` shim over SQL text (fastcols' subset)."""

    @staticmethod
    def lit(v):
        return SCol._c(v)

    @staticmethod
    def col(name):
        return SCol(sql_ident(name))

    @staticmethod
    def expr(text):
        return SCol(f"({text})")

    @staticmethod
    def when(cond, value):
        return SCaseCol([(SCol._c(cond).s, SCol._c(value).s)])

    @staticmethod
    def call_function(name, *args):
        if name == "div":
            a, b = args
            return SCol(f"({SCol._c(a).s} DIV {SCol._c(b).s})")
        return _fn(name)(*args)

    coalesce = staticmethod(_fn("coalesce"))
    concat = staticmethod(_fn("concat"))
    isnan = staticmethod(_fn("isnan"))
    abs = staticmethod(_fn("abs"))
    substr = staticmethod(_fn("substr"))
    element_at = staticmethod(_fn("element_at"))
    regexp_extract = staticmethod(_fn("regexp_extract"))
    regexp_replace = staticmethod(_fn("regexp_replace"))
    length = staticmethod(_fn("length"))
    lower = staticmethod(_fn("lower"))
    floor = staticmethod(_fn("floor"))
    ceil = staticmethod(_fn("ceil"))
    year = staticmethod(_fn("year"))
    month = staticmethod(_fn("month"))
    dayofmonth = staticmethod(_fn("dayofmonth"))
    dayofweek = staticmethod(_fn("dayofweek"))
    hour = staticmethod(_fn("hour"))
    minute = staticmethod(_fn("minute"))
    second = staticmethod(_fn("second"))
    timestamp_micros = staticmethod(_fn("timestamp_micros"))
    from_utc_timestamp = staticmethod(_fn("from_utc_timestamp"))
    raise_error = staticmethod(_fn("raise_error"))
    map_contains_key = staticmethod(_fn("map_contains_key"))


def _load_text_compiler():
    """Second instance of fastcols with the SQL-text substrate injected.

    The module executes normally (its top-level only defines constants,
    the FV dataclass and the compiler), then ``F``/``Column`` are
    rebound so every function body resolves them to the shim.
    ``Unsupported`` is rebound to the REAL fastcols class so callers'
    ``except Unsupported`` handlers see one exception type."""
    import sys
    spec = importlib.util.spec_from_file_location(
        "reductstore_spark.condition._fastcols_sqltext", _fc.__file__)
    mod = importlib.util.module_from_spec(spec)
    # dataclass creation resolves sys.modules[cls.__module__] at exec time
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    mod.F = SF
    mod.Column = SCol
    mod.Unsupported = _fc.Unsupported
    return mod


_M = _load_text_compiler()

# hard cap on emitted text per query (parser cost guard): the AST-size
# and screen budgets bound the EXPANDED tree, but text renders shared
# subtrees by copy, so cap the concrete bytes the SQL parser will see.
# 64 KiB: >2x the largest registry condition (~28 KB), while routing
# adversarial sharing-heavy shapes — where the layer-2 estimate badly
# under-counts and this tier has no layer-3 JVM measurement — to the
# Column ladder.  Measured necessity: a depth-3 fuzz shape (fuzz seed
# 5008) emitted a 1.3 MB text that passed the old 2 MB cap and OOM'd
# the driver in parse/codegen; the Column tiers route the same shape
# to the interpreter.
_MAX_TEXT = 65_536


def _screen(node: Node, strict: bool) -> None:
    """Layer-2 screen, applied BEFORE compiling: over-estimate shapes
    need the Column tier's exact layer-3 JVM measurement, which the
    text substrate cannot run."""
    if _M._est_size(node, strict) > _M._SCREEN_EST:
        raise _fc.Unsupported("string tier: over compile-size screen")


def _texts(node: Node, computed_col: Optional[str],
           label_columns: Optional[Dict[str, str]], strict: bool, lanes):
    """SQL texts of ``lanes(compiler, fv)`` for one unbound ``node``
    (labels-map lookups inline), under the screen and the text cap."""
    _screen(node, strict)
    compiler = _M.FlatCompiler(
        SF.col("ts"), SF.col("labels"),
        SF.col(computed_col) if computed_col else None,
        label_columns=label_columns, strict=strict)
    texts = [c.s for c in lanes(compiler, compiler.compile(node))]
    total = sum(len(t) for t in texts)
    if total > _MAX_TEXT:
        raise _fc.Unsupported(f"string tier: {total} chars of SQL text")
    return texts


def _false_if_null(c):
    return SF.coalesce(c, SF.lit(False))


def predicate_sql(node: Node, computed_col: Optional[str] = None,
                  label_columns: Optional[Dict[str, str]] = None,
                  strict: bool = False) -> str:
    """Whole-predicate SQL text — the text form of
    ``FlatCompiler.predicate``."""
    return _texts(node, computed_col, label_columns, strict,
                  lambda c, fv: [c.as_predicate(fv)])[0]


def truthy_err_sql(node: Node, computed_col: Optional[str] = None,
                   label_columns: Optional[Dict[str, str]] = None):
    """Non-strict (coalesce(truthy, false), coalesce(err, false)) texts —
    the text form of the planner's ``(truthy, err)`` lanes."""
    return tuple(_texts(node, computed_col, label_columns, False,
                        lambda c, fv: [_false_if_null(_M._truthy(fv)),
                                       _false_if_null(_M._err(fv))]))


def truthy_emsg_sql(node: Node, computed_col: Optional[str] = None,
                    label_columns: Optional[Dict[str, str]] = None):
    """STRICT-mode (coalesce(truthy, false), emsg) texts — the string
    analog of the message-parity fuzz lanes."""
    return tuple(_texts(node, computed_col, label_columns, True,
                        lambda c, fv: [_false_if_null(_M._truthy(fv)),
                                       _M._emsg(fv)]))
