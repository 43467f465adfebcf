"""QueryEngine end-to-end vs the exact interpreter oracle.

Covers all four planner tiers (Column / window-ctx / counter rewrite /
interpreter) plus glob resolution, time range, state filter, merge order,
select_labels — against a fixture modeled on the reference's
historical.rs block fixture (query/base.rs:108-230).
"""

import json

import pytest
from pyspark.sql import functions as F

from reductstore_spark.condition.interpreter import FilterRecord, WhenFilter
from reductstore_spark.condition.parser import parse_when
from reductstore_spark.operators.glob import entry_matches_pattern, filter_entries
from reductstore_spark.query import QueryEngine

ROWS = []
for e, base in [("entry-1", 0), ("entry-2", 500)]:
    for i in range(40):
        ts = base + i * 100_000
        ROWS.append(
            ("b", e, ts, None, "", 1 if i % 7 != 3 else 2,
             {"flag": "true" if i % 3 == 0 else "false",
              "score": str(i * 2.5), "i": str(i)}, None)
        )

SCHEMA = ("bucket string, entry string, ts long, payload binary, "
          "content_type string, state int, labels map<string,string>, "
          "computed_labels map<string,string>")


@pytest.fixture(scope="module")
def records(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def oracle(when, entries=None, start=None, stop=None, strict=False):
    node, dirs = parse_when(json.loads(json.dumps(when))) if when is not None else (None, None)
    out = []
    ents = sorted({r[1] for r in ROWS})
    if entries is not None:
        ents = filter_entries(ents, entries)
    for e in ents:
        wf = WhenFilter(node, dirs, strict) if when is not None else None
        ers = sorted(
            [r for r in ROWS if r[1] == e and r[5] == 1
             and (start is None or r[2] >= start)
             and (stop is None or r[2] < stop)],
            key=lambda r: r[2],
        )
        for r in ers:
            if wf is None:
                out.append((r[1], r[2]))
                continue
            res = wf.feed(FilterRecord(r[2], dict(r[6]), {}, extra=r))
            if res is None:
                break
            out.extend((rec.extra[1], rec.extra[2]) for rec in res)
    return sorted(out, key=lambda x: (x[1], x[0]))


QE = QueryEngine()

WHEN_CASES = [
    {"&flag": {"$eq": True}},
    {"#ctx_before": 2, "&i": {"$eq": 15}},
    {"#ctx_after": 3, "&i": {"$eq": 15}},
    {"#ctx_before": "300ms", "#ctx_after": "200ms", "&i": {"$eq": 20}},
    {"$and": [{"&flag": {"$eq": True}}, {"$each_n": 2}]},
    {"$and": [{"$each_n": 3}]},
    {"$and": [{"&flag": {"$eq": True}}, {"$limit": 4}]},
    {"$each_t": 0.35},
    {"$gate": ["500ms", {"&flag": {"$eq": True}}]},
    {"$and": [{"$each_t": "250ms"}, {"&flag": {"$eq": True}}]},
    {"#ctx_before": 1, "$and": [{"&flag": {"$eq": True}}, {"$limit": 3}]},
]


@pytest.mark.parametrize("when", WHEN_CASES, ids=[json.dumps(w)[:40] for w in WHEN_CASES])
def test_when_against_oracle(records, when):
    got = [(r["entry"], r["ts"])
           for r in QE.query(records, when=json.loads(json.dumps(when)))
           .select("entry", "ts").collect()]
    assert got == oracle(when)


def test_time_range_inclusive_exclusive(records):
    got = [(r["entry"], r["ts"])
           for r in QE.query(records, start=500, stop=1_000_500)
           .select("entry", "ts").collect()]
    assert got == oracle(None, start=500, stop=1_000_500)
    # stop is exclusive: a record exactly at stop is excluded
    assert all(ts < 1_000_500 for _, ts in got)
    assert any(ts == 500 for _, ts in got)


def test_state_filter(records):
    # fixture has state=2 rows; none may appear
    out = QE.query(records).select("state").distinct().collect()
    assert [r["state"] for r in out] == [1]


def test_merge_order(records):
    rows = QE.query(records).select("ts", "entry").collect()
    keys = [(r["ts"], r["entry"]) for r in rows]
    assert keys == sorted(keys)


def test_entries_glob(records):
    out = QE.query(records, entries=["entry-*", "!entry-2"]).select("entry").distinct().collect()
    assert [r["entry"] for r in out] == ["entry-1"]


def test_select_labels(records):
    out = QE.query(records, when={"#select_labels": ["flag"], "&i": {"$lt": 3}})
    recs = out.select("labels").collect()
    assert recs and all(set(r["labels"].keys()) == {"flag"} for r in recs)


def test_merge_tie_break_by_entry_name(spark):
    """Equal timestamps across entries: smallest (ts, entry) first
    (bucket/query.rs:272-282)."""
    rows = [("b", e, ts, None, "", 1, {}, None)
            for ts in (100, 200) for e in ("zeta", "alpha", "mid")]
    df = spark.createDataFrame(rows, SCHEMA)
    got = [(r["ts"], r["entry"]) for r in
           QueryEngine().query(df).select("ts", "entry").collect()]
    assert got == [(100, "alpha"), (100, "mid"), (100, "zeta"),
                   (200, "alpha"), (200, "mid"), (200, "zeta")]


def test_count_matches_query(records):
    when = {"&flag": {"$eq": True}}
    assert QE.count(records, when=when) == len(oracle(when))
    # virtual labels are SQL text; a Column value is rejected up front
    with pytest.raises(TypeError, match="SQL text"):
        QE.count(records, when=when, label_columns={"flag": F.col("entry")})


class TestGlobUnit:
    def test_patterns(self):
        assert entry_matches_pattern("cam1/front", "cam*")
        assert entry_matches_pattern("cam1", "cam*")
        assert not entry_matches_pattern("dog", "cam*")
        assert entry_matches_pattern("a/b/c", "a/**")
        assert entry_matches_pattern("a", "a/**")
        assert entry_matches_pattern("a/b/c", "**/c")
        assert entry_matches_pattern("a/b/c", "a/*/c")
        assert not entry_matches_pattern("a/b/d", "a/*/c")
        assert entry_matches_pattern("abc", "a*c")
        assert not entry_matches_pattern("ab", "a*c")
        # no-slash patterns ending in '*' are raw prefix matches with
        # interior '*' literal (pattern.rs strip_suffix rule)
        assert entry_matches_pattern("a*byy", "a*b*")
        assert not entry_matches_pattern("axxbyy", "a*b*")

    def test_regex_compilation_matches_reference_matcher(self):
        """pattern_to_regex must agree with entry_matches_pattern on a
        dense grid of patterns x entries (the JVM predicate path relies
        on it)."""
        import itertools
        import re

        from reductstore_spark.operators.glob import pattern_to_regex

        segs = ["a", "b", "cam1", "x", ""]
        entries = ["/".join(p) for n in (1, 2, 3)
                   for p in itertools.product(["a", "b", "cam1", "x"], repeat=n)]
        entries += ["a*byy", "axxbyy", "cam1/front/left", ""]
        patterns = ["a", "a/*", "a/**", "**/a", "a/**/b", "*", "**", "cam*",
                    "a*b*", "*a", "a/*/b", "**/cam1/*", "a/b", "*/*", "a*c",
                    "c*m1/front", "**/**", "a/**/**/b"]
        for pat, ent in itertools.product(patterns, entries):
            from reductstore_spark.operators.glob import entry_matches_pattern
            want = entry_matches_pattern(ent, pat)
            got = re.fullmatch(pattern_to_regex(pat), ent) is not None
            assert got == want, (pat, ent, got, want)

    def test_patterns_to_column_matches_filter_entries(self, spark):
        from reductstore_spark.operators.glob import patterns_to_column

        names = ["cam1", "cam2", "cam1/front", "x/$meta", "logs", "a*byy",
                 "axxbyy", "deep/nested/entry", "$hidden"]
        df = spark.createDataFrame([(n,) for n in names], "entry string")
        for pats in (["cam*"], ["cam*", "!cam2"], ["*"], ["x/$meta"],
                     ["**/front", "logs"], ["a*b*"], ["*", "!cam*"],
                     ["deep/**"], ["!cam2"]):
            want = sorted(filter_entries(names, pats))
            got = sorted(r["entry"] for r in
                         df.where(patterns_to_column(pats, F.col("entry"))).collect())
            assert got == want, (pats, got, want)

    def test_filter_entries(self):
        names = ["cam1", "cam2", "cam1/front", "x/$meta", "logs"]
        assert filter_entries(names, None) == ["cam1", "cam2", "cam1/front", "logs"]
        assert filter_entries(names, ["cam*"]) == ["cam1", "cam2", "cam1/front"]
        assert filter_entries(names, ["cam*", "!cam2"]) == ["cam1", "cam1/front"]
        # exact name matches even hidden entries
        assert filter_entries(names, ["x/$meta"]) == ["x/$meta"]
