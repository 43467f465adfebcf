"""Per-row interpreter predicate — the bounded last-resort tier.

Both compiled condition tiers have super-linear Catalyst-analysis cost
in AST nesting depth: the flat tier's expanded tree is exponential in
depth (bounded by the fastcols compile-size budget since round 10), and
the struct tier's nested ``transform(array(e), v -> ...)`` let-bindings
make the analyzer's lambda resolution blow up past ~25 nested lambdas
(measured: a plain $and chain 4 deep analyzes in 42 s, 8 deep stalls
>100 s, ~12 deep fails with the analyzer's max-iterations error).  The
reference never compiles at all — ``condition.rs`` applies the AST per
record — so for the deep band we do exactly that: an Arrow-batched
pandas UDF running the ground-truth ``Evaluator`` per row.  Cost is
O(rows x ast) like the reference's own engine, with none of the
compile-time cliffs.  The planner routes here only when the struct
tier's lambda-depth estimate says it would stall;
realistic conditions (nesting <= 3) never reach this module.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from . import values as V
from .ast import Node
from .interpreter import Context, Evaluator


def interpreter_predicate(node: Node, strict: bool,
                          ts_col: str = "ts",
                          labels_col: str = "labels",
                          computed_col: Optional[str] = None) -> Column:
    """Filter predicate evaluating ``node`` row-at-a-time with the
    reference-semantics interpreter.

    Non-strict: errors exclude the record (filters/when.rs non-strict
    policy).  Strict: the first error raises JVM-side via
    ``raise_error`` with the interpreter's exact message — the same
    text the reference aborts with (filters/when.rs:81-95), because the
    ``Evaluator`` IS the repo's ground truth for those messages.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("v boolean, e string")
    def _eval(ts: pd.Series, labels: pd.Series,
              computed: pd.Series) -> pd.DataFrame:
        ev = Evaluator(node)
        vs, es = [], []
        for t, lb, cp in zip(ts, labels, computed):
            try:
                val = ev.apply(Context(int(t), dict(lb or {}),
                                       dict(cp or {})))
                vs.append(bool(V.as_bool(val)))
                es.append(None)
            except V.CondError as exc:
                vs.append(None)
                es.append(str(exc))
        return pd.DataFrame({"v": vs, "e": es})

    computed_expr = (F.col(computed_col) if computed_col
                     else F.lit(None).cast("map<string,string>"))
    r = _eval(F.col(ts_col), F.col(labels_col), computed_expr)
    if strict:
        return (F.when(r["e"].isNotNull(), F.raise_error(r["e"]))
                .otherwise(F.coalesce(r["v"], F.lit(False))))
    return F.coalesce(F.when(r["e"].isNull(), r["v"]), F.lit(False))
