"""Seeded record generator for the benchmark.

Produces records of the engine's ``records`` schema as plain Python
objects.  The benchmark keeps these objects as its own copy of the data
(the oracle reads them) and hands the engine only Spark frames built from
them, so nothing the engine computes can leak into the expected results.

Same seed and same knobs give the same records, byte for byte.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

US_PER_DAY = 86_400_000_000
US_PER_MS = 1_000
# 2025-01-01T00:00:00Z as a day number since the epoch
DAY0 = 20_089

STATE_STARTED, STATE_FINISHED, STATE_ERRORED, STATE_INVALID = 0, 1, 2, 3
_NOT_FINISHED = (STATE_STARTED, STATE_ERRORED, STATE_INVALID)

STATUSES = ("ok", "warn", "error")
STATUS_WEIGHTS = (0.80, 0.15, 0.05)
TAGS = ("alpha", "beta", "gamma")
HIDDEN_ENTRY = "cam-00/$diag"


class Rec:
    """One stored record version: the generator's copy of a row."""

    __slots__ = ("entry", "ts", "payload", "content_type", "state", "labels",
                 "_digest")

    def __init__(self, entry: str, ts: int, payload: bytes, content_type: str,
                 state: int, labels: Dict[str, str]):
        self.entry = entry
        self.ts = ts
        self.payload = payload
        self.content_type = content_type
        self.state = state
        self.labels = labels
        self._digest: Optional[int] = None

    @property
    def digest(self) -> int:
        if self._digest is None:
            self._digest = row_digest(self.entry, self.ts, self.payload,
                                      self.labels)
        return self._digest

    def with_labels(self, labels: Dict[str, str]) -> "Rec":
        return Rec(self.entry, self.ts, self.payload, self.content_type,
                   self.state, labels)

    def user_bytes(self) -> int:
        """Bytes a user stored: payload, labels, entry name, content type
        and the 8-byte timestamp."""
        return (len(self.payload) + 8 + len(self.entry) + len(self.content_type)
                + sum(len(k) + len(v) for k, v in self.labels.items()))


def row_digest(entry: str, ts: int, payload: Optional[bytes],
               labels: Optional[Dict[str, str]]) -> int:
    """64-bit digest of one returned row; results are compared as the
    count plus the sum of these digests, which ignores row order."""
    h = hashlib.blake2b(digest_size=8)
    h.update(entry.encode())
    h.update(b"\0")
    h.update(str(ts).encode())
    h.update(b"\0")
    h.update(bytes(payload or b""))
    for k in sorted(labels or {}):
        h.update(b"\0")
        h.update(k.encode())
        h.update(b"=")
        h.update(labels[k].encode())
    return int.from_bytes(h.digest(), "little")


@dataclass(frozen=True)
class Knobs:
    entries: int                 # visible entries
    days: int                    # days of history in the initial load
    per_day: int                 # mean records per entry and day
    payload_sizes: Tuple[Tuple[int, float], ...]   # (bytes, weight)
    nonfinished_frac: float = 0.0   # share of records not FINISHED
    dup_frac: float = 0.0           # belated duplicates per write batch
    nested_every: int = 3           # every n-th entry is named a/b
    hidden: bool = False            # add the hidden $-entry
    zipf_s: float = 1.1             # query popularity skew over entries


def entry_names(knobs: Knobs) -> List[str]:
    names = []
    for i in range(knobs.entries):
        if knobs.nested_every and i % knobs.nested_every == 0:
            names.append(f"cam-{i:02d}/front")
        else:
            names.append(f"dev-{i:02d}")
    return names


class Generator:
    """Draws records, write batches and query parameters from one seed."""

    def __init__(self, seed: int, knobs: Knobs, stream: int = 0):
        self.rng = np.random.default_rng([seed, stream])
        self.knobs = knobs
        self.names = entry_names(knobs)
        sizes, weights = zip(*knobs.payload_sizes)
        self._sizes = np.array(sizes)
        self._size_p = np.array(weights) / sum(weights)
        # entry popularity: Zipf over a seed-shuffled rank order
        ranks = np.arange(1, len(self.names) + 1, dtype=float)
        p = ranks ** -knobs.zipf_s
        self._popularity = p / p.sum()
        self._by_rank = list(self.rng.permutation(self.names))

    # -- records ---------------------------------------------------------
    def _labels(self) -> Dict[str, str]:
        r = self.rng
        labels = {
            "flag": "true" if r.random() < 0.5 else "false",
            "score": f"{r.uniform(0, 100):.1f}",
            "status": STATUSES[r.choice(3, p=STATUS_WEIGHTS)],
        }
        if r.random() < 0.1:
            labels["tag"] = TAGS[r.integers(3)]
        return labels

    def _state(self) -> int:
        if self.rng.random() < self.knobs.nonfinished_frac:
            return _NOT_FINISHED[self.rng.integers(3)]
        return STATE_FINISHED

    def _records(self, entry: str, stamps: Sequence[int]) -> List[Rec]:
        sizes = self.rng.choice(self._sizes, size=len(stamps), p=self._size_p)
        blob = self.rng.bytes(int(sizes.sum()))
        out, off = [], 0
        for ts, size in zip(stamps, sizes):
            out.append(Rec(entry, int(ts), blob[off:off + size],
                           "application/octet-stream", self._state(),
                           self._labels()))
            off += size
        return out

    def _stamps(self, start: int, stop: int, n: int) -> np.ndarray:
        """n distinct timestamps in [start, stop), millisecond-spaced."""
        span_ms = (stop - start) // US_PER_MS
        n = min(n, span_ms)
        picks = np.sort(self.rng.choice(span_ms, size=n, replace=False))
        return start + picks * US_PER_MS

    def initial(self) -> List[Rec]:
        """The initial load: every entry over ``days`` days, plus the
        hidden entry when asked for."""
        k = self.knobs
        names = self.names + ([HIDDEN_ENTRY] if k.hidden else [])
        out: List[Rec] = []
        for name in names:
            for d in range(k.days):
                start = (DAY0 + d) * US_PER_DAY
                n = max(1, int(self.rng.poisson(k.per_day)))
                out.extend(self._records(name, self._stamps(
                    start, start + US_PER_DAY, n)))
        return out

    def batch(self, entries: Sequence[str], start: int, stop: int, n: int,
              live: Sequence[Rec]) -> List[Rec]:
        """A write batch of ``n`` fresh records in [start, stop) spread
        over ``entries``, plus belated duplicates: new versions of keys
        drawn from ``live`` (timestamp-as-ID upserts)."""
        out: List[Rec] = []
        per = np.bincount(self.rng.integers(len(entries), size=n),
                          minlength=len(entries))
        for name, m in zip(entries, per):
            if m:
                out.extend(self._records(name, self._stamps(start, stop, int(m))))
        n_dup = int(round(n * self.knobs.dup_frac))
        if n_dup and live:
            idx = self.rng.choice(len(live), size=min(n_dup, len(live)),
                                  replace=False)
            for i in idx:
                old = live[int(i)]
                out.extend(self._records(old.entry, [old.ts]))
        return out

    # -- query parameters -------------------------------------------------
    def popular_entry(self) -> str:
        return self._by_rank[int(self.rng.choice(len(self._by_rank),
                                                 p=self._popularity))]

    def recent_day(self, days: int) -> int:
        """Day index in [0, days), favouring the most recent days."""
        back = int(self.rng.geometric(0.35)) - 1
        return max(0, days - 1 - back)

    def choice(self, seq):
        return seq[int(self.rng.integers(len(seq)))]

    def uniform(self, lo: float, hi: float) -> float:
        return float(self.rng.uniform(lo, hi))

    def integer(self, lo: int, hi: int) -> int:
        """Integer in [lo, hi]."""
        return int(self.rng.integers(lo, hi + 1))
