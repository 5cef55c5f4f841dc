"""Seeded CDC envelope inputs and their expected SCD2 state.

Events use the wire shape of ``sources.cdc.write_replay`` (FIXTURES.md
F3): one JSON envelope per line, ``timestamp`` and ``cdc_sequence_id``
strictly increasing across the whole stream, so the expected history
has no ties to break.

Two shapes:

- ``trickle_files``: a hot set of keys touched uniformly; the first
  touch of a key is an insert, later touches are updates.
- ``backfill_files``: a snapshot file set inserting every key once,
  then update bursts whose keys follow a Zipf law (multi-update chains
  within one key inside one file) with a share of deletes; a deleted
  key that is touched again is re-inserted.

``ExpectedState`` replays the same events in plain Python and gives
what the history store must hold afterwards.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

BASE_MS = 1_695_808_800_000  # 2023-09-27T10:00:00Z
ZIPF_A = 1.2  # backfill update keys: a few hot keys with long chains
DELETE_SHARE = 0.01  # backfill updates that delete their key
_BRANDS = ("Ralph Lauren", "Gucci", "Hugo Boss")
_KEY0 = 10_000


@dataclass(frozen=True)
class Event:
    seq: int
    etype: str  # insert | update | delete
    key: int
    price: float

    @property
    def ts_ms(self) -> int:
        return BASE_MS + self.seq


def envelope_line(ev: Event) -> str:
    """One envelope as a compact JSON line. Deletes carry only the key
    column, as a binlog delete image would carry the row's identity."""
    if ev.etype == "delete":
        cols = [("ProductID", str(ev.key))]
        ids = [8]
    else:
        cols = [
            ("ProductName", f"product {ev.key}"),
            ("ProductBrand", _BRANDS[ev.key % 3]),
            ("Target_Gender", "Female" if ev.key % 2 else "Male"),
            ("Price", f"{ev.price:.2f}"),
            ("Currency", "Euro"),
            ("Description", "benchmark row"),
            ("Launch_date", "2023-08-01"),
            ("ProductID", str(ev.key)),
            ("Loaded_at", "2023-09-27"),
        ]
        ids = range(1, len(cols) + 1)
    # every value is an ASCII literal above, so no JSON escaping is needed
    body = ",".join(
        f'{{"id":{i},"name":"{k}","value":"{v}"}}' for i, (k, v) in zip(ids, cols)
    )
    return (
        f'{{"type":"{ev.etype}","timestamp":{ev.ts_ms},"database":"sample_data",'
        f'"table_name":"products_catalog","cdc_sequence_id":{ev.seq},'
        f'"columns":[{body}]}}'
    )


def _prices(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(rng.uniform(5.0, 500.0, n), 2)


def trickle_files(
    seed: int, n_files: int, per_file: int, n_keys: int
) -> list[list[Event]]:
    """``n_files`` lists of ``per_file`` events over ``n_keys`` hot keys."""
    rng = np.random.default_rng([seed, 1])
    keys = _KEY0 + rng.integers(0, n_keys, n_files * per_file)
    prices = _prices(rng, len(keys))
    seen: set[int] = set()
    events = []
    for i, (k, p) in enumerate(zip(keys.tolist(), prices.tolist())):
        events.append(Event(i + 1, "update" if k in seen else "insert", k, p))
        seen.add(k)
    return [events[f * per_file:(f + 1) * per_file] for f in range(n_files)]


def backfill_files(
    seed: int, n_keys: int, n_updates: int, per_file: int
) -> list[list[Event]]:
    """Snapshot of ``n_keys`` inserts, then ``n_updates`` Zipf-keyed
    changes with ``DELETE_SHARE`` deletes, cut into ``per_file`` files."""
    rng = np.random.default_rng([seed, 2])
    snap = rng.permutation(n_keys)
    # Zipf ranks mapped through a seeded permutation so the hot keys are
    # spread over the key space (and so over the store's hash buckets)
    ranks = rng.zipf(ZIPF_A, n_updates) - 1
    ranks = ranks[ranks < n_keys]
    while len(ranks) < n_updates:
        more = rng.zipf(ZIPF_A, n_updates) - 1
        ranks = np.concatenate([ranks, more[more < n_keys]])
    burst_keys = rng.permutation(n_keys)[ranks[:n_updates]]
    is_delete = rng.random(n_updates) < DELETE_SHARE
    prices = _prices(rng, n_keys + n_updates)
    events = [
        Event(i + 1, "insert", _KEY0 + int(k), float(prices[i]))
        for i, k in enumerate(snap)
    ]
    live = set(range(n_keys))
    for j, (k, dele) in enumerate(zip(burst_keys.tolist(), is_delete.tolist())):
        seq = n_keys + j + 1
        if k not in live:
            etype = "insert"
            live.add(k)
        elif dele:
            etype = "delete"
            live.discard(k)
        else:
            etype = "update"
        events.append(Event(seq, etype, _KEY0 + k, float(prices[n_keys + j])))
    return [events[i:i + per_file] for i in range(0, len(events), per_file)]


def file_name(index: int) -> str:
    return f"cdc_{index:06d}.json"


def write_file(directory: str, index: int, events: list[Event]) -> str:
    """Write one JSON-lines file atomically: written under a hidden
    name (the file source skips names starting with ``.``), then
    renamed, so a listing never sees a partial file."""
    os.makedirs(directory, exist_ok=True)
    name = file_name(index)
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(envelope_line(e) for e in events))
        fh.write("\n")
    final = os.path.join(directory, name)
    os.replace(tmp, final)
    return final


@dataclass
class ExpectedState:
    """What the store must hold after a set of events: each live key's
    last version, and the number of closed (superseded or deleted)
    versions. Feed files in stream order; ``add`` sorts one file by seq."""

    last: dict[int, Event] = field(default_factory=dict)
    closed: int = 0
    n_events: int = 0

    def add(self, events: list[Event]) -> None:
        for ev in sorted(events, key=lambda e: e.seq):
            self.n_events += 1
            prev = self.last.pop(ev.key, None)
            if prev is not None:
                if prev.seq > ev.seq:
                    raise ValueError("events must be added in seq order")
                self.closed += 1
            if ev.etype != "delete":
                self.last[ev.key] = ev

    @classmethod
    def of(cls, files: list[list[Event]]) -> "ExpectedState":
        st = cls()
        for f in files:
            st.add(f)
        return st

    def history(self, files: list[list[Event]]) -> list[tuple]:
        """Full expected history as ``(key, price, valid_from_ms,
        valid_until_ms | None, is_current)`` rows — the oracle the
        tests compare with ``scd2_build``."""
        by_key: dict[int, list[Event]] = {}
        for f in files:
            for ev in f:
                by_key.setdefault(ev.key, []).append(ev)
        rows = []
        for key, evs in by_key.items():
            evs.sort(key=lambda e: e.seq)
            for i, ev in enumerate(evs):
                if ev.etype == "delete":
                    continue
                nxt = evs[i + 1].ts_ms if i + 1 < len(evs) else None
                rows.append(
                    (key, ev.price, ev.ts_ms, nxt, "Y" if nxt is None else "N")
                )
        return sorted(rows)
