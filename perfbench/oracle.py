"""Output oracle: the benchmark's own copy of a store and the expected
result of every operation on it.

Expected query results come from the engine's exact row-at-a-time
interpreter (``condition.interpreter.WhenFilter``) replayed per entry in
timestamp order over the generator's records — the same reference the
engine's unit tests trust — never from the engine's Spark tiers.
"""

from __future__ import annotations

import copy
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

from reductstore_spark.condition.interpreter import FilterRecord, WhenFilter
from reductstore_spark.condition.parser import parse_when
from reductstore_spark.operators.glob import filter_entries

from gen import STATE_FINISHED, Rec, row_digest

_MASK = (1 << 64) - 1


class Expected:
    """What one query must return: rows in (ts, entry) order."""

    def __init__(self, rows: List[Rec], scanned: int):
        self.rows = rows
        self.scanned = scanned   # stored records in the queried ranges

    @property
    def count(self) -> int:
        return len(self.rows)

    @property
    def digest(self) -> int:
        return sum(r.digest for r in self.rows) & _MASK


class Model:
    """Newest version of every record, per entry and timestamp."""

    def __init__(self):
        self.entries: Dict[str, Dict[int, Rec]] = {}

    def upsert(self, recs: Iterable[Rec]) -> None:
        for r in recs:
            self.entries.setdefault(r.entry, {})[r.ts] = r

    def get(self, entry: str, ts: int) -> Optional[Rec]:
        return self.entries.get(entry, {}).get(ts)

    def remove(self, keys: Iterable[Tuple[str, int]]) -> None:
        for entry, ts in keys:
            self.entries.get(entry, {}).pop(ts, None)

    def update_labels(self, entry: str, ts: int, upsert: Dict[str, str],
                      remove: Sequence[str]) -> None:
        old = self.entries[entry][ts]
        labels = {k: v for k, v in old.labels.items() if k not in upsert}
        labels.update(upsert)
        for k in remove:
            labels.pop(k, None)
        self.entries[entry][ts] = old.with_labels(labels)

    def live(self) -> List[Rec]:
        return [r for recs in self.entries.values() for r in recs.values()]

    def names(self) -> List[str]:
        return sorted(e for e, recs in self.entries.items() if recs)

    def user_bytes(self) -> int:
        return sum(r.user_bytes() for r in self.live())

    def range_records(self, entry: str, start: Optional[int],
                      stop: Optional[int]) -> List[Rec]:
        """Stored records of one entry in [start, stop), in ts order."""
        recs = self.entries.get(entry, {})
        return [recs[t] for t in sorted(recs)
                if (start is None or t >= start) and (stop is None or t < stop)]

    def query(self, entries: Optional[Sequence[str]], start: Optional[int],
              stop: Optional[int], when=None) -> Expected:
        """Expected output of ``QueryEngine.query``: glob resolution,
        start-inclusive/stop-exclusive range, FINISHED records only, the
        ``when`` filter per entry, merged by (ts, entry)."""
        node = dirs = None
        if when is not None:
            node, dirs = parse_when(copy.deepcopy(when))
        selected = filter_entries(self.names(),
                                  None if entries is None else list(entries))
        rows: List[Rec] = []
        scanned = 0
        for entry in selected:
            recs = self.range_records(entry, start, stop)
            scanned += len(recs)
            wf = WhenFilter(node, dirs) if node is not None else None
            for r in recs:
                if r.state != STATE_FINISHED:
                    continue
                if wf is None:
                    rows.append(r)
                    continue
                emitted = wf.feed(FilterRecord(r.ts, r.labels, {}, extra=r))
                if emitted is None:
                    break
                rows.extend(e.extra for e in emitted)
        rows.sort(key=lambda r: (r.ts, r.entry))
        return Expected(rows, scanned)

    def read_one(self, entry: str) -> Optional[Rec]:
        """Expected ``QueryEngine.read_one`` without a timestamp: the
        latest FINISHED record of the entry."""
        recs = self.entries.get(entry, {})
        for t in sorted(recs, reverse=True):
            if recs[t].state == STATE_FINISHED:
                return recs[t]
        return None


def check_rows(rows, expected: Expected, ordered: bool) -> Optional[str]:
    """Compare collected Spark rows with the expectation: row count, an
    order-independent digest and, for ordered queries, (ts, entry) order.
    Returns None when they agree, else a description of the mismatch."""
    if len(rows) != expected.count:
        return f"row count {len(rows)} != expected {expected.count}"
    got = sum(row_digest(r["entry"], r["ts"], r["payload"], r["labels"])
              for r in rows) & _MASK
    if got != expected.digest:
        return "row contents differ from the expected records"
    if ordered:
        keys = [(r["ts"], r["entry"]) for r in rows]
        if keys != [(r.ts, r.entry) for r in expected.rows]:
            return "rows are not in (ts, entry) order"
    return None
