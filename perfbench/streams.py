"""Shapes, generator, freshness mapping, reads and checks of the two
CDC→SCD2 stream workloads (run by ``workloads.py``).

``cdc_trickle`` first drains a backlog of small files through one
availableNow stream, then restarts from the same checkpoint as an open
loop: ``OpenLoop`` drops one envelope file per period on a fixed
schedule into the reference's always-on poll
(``run_scd2_stream_from(..., processing_time="200 milliseconds",
compact_every=10)``). Freshness runs from a file's due time to the end
of the micro-batch that committed it, found through the file source's
checkpoint log (``source_log``) and the query's progress
(``data_batches``).

``cdc_backfill`` is a closed loop: a snapshot plus Zipf-skewed update
bursts with deletes, all present when one availableNow
``run_scd2_stream(..., handle_deletes=True)`` starts.

Both end with one client reading in a closed loop (``read_phase``):
point lookups of current rows, then as-of scans of the full history.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from . import cdcgen

KEY = "ProductID"


# -- file → micro-batch mapping --------------------------------------------


def source_log(checkpoint: str) -> dict[str, int]:
    """File name → the file source's log offset that admitted it, read
    from the checkpoint (``sources/0/<n>`` and compacted ``<n>.compact``
    files: a version line, then one JSON entry per file)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        base = os.path.basename(path)
        if base.startswith(".") or not base.split(".")[0].isdigit():
            continue
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _log_offset(offset) -> int:
    """A file source offset (``{"logOffset": n}``, possibly as a JSON
    string); no start offset means before the first entry."""
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return offset["logOffset"]


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


@dataclass
class BatchWindow:
    batch_id: int
    start: float
    end: float
    first_offset: int  # exclusive: offsets > first_offset and <= last_offset
    last_offset: int
    rows: int
    durations_ms: dict


def data_batches(progress: list[dict]) -> list[BatchWindow]:
    """Micro-batches that read input, with their wall interval and the
    source log offsets they covered."""
    out = []
    for p in progress:
        if not p["numInputRows"]:
            continue
        src = p["sources"][0]
        start = _log_offset(src.get("startOffset"))
        end = _log_offset(src["endOffset"])
        t0 = _epoch(p["timestamp"])
        d = p["durationMs"]
        out.append(
            BatchWindow(
                p["batchId"], t0, t0 + d.get("triggerExecution", 0) / 1000,
                start, end, p["numInputRows"], dict(d),
            )
        )
    return out


def file_commit_times(
    log: dict[str, int], batches: list[BatchWindow]
) -> dict[str, tuple[int, float]]:
    """File name → (micro-batch id, that batch's end time)."""
    out = {}
    for name, offset in log.items():
        for b in batches:
            if b.first_offset < offset <= b.last_offset:
                out[name] = (b.batch_id, b.end)
                break
    return out


# -- generator ---------------------------------------------------------------


class OpenLoop(threading.Thread):
    """Writes the ``i``-th of ``files`` (``(file index, events)`` pairs)
    at ``t0 + i * period`` whether or not the stream keeps up; records
    each file's due time and how late it was written."""

    def __init__(self, directory: str, files: list[tuple[int, list[cdcgen.Event]]],
                 t0: float, period: float) -> None:
        super().__init__(name="perfbench-open-loop", daemon=True)
        self.directory, self.files, self.t0, self.period = directory, files, t0, period
        self.due: dict[str, float] = {}
        self.late_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, (index, events) in enumerate(self.files):
                due = self.t0 + i * self.period
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = os.path.basename(cdcgen.write_file(self.directory, index, events))
                self.due[name] = due
                self.late_ms.append((time.time() - due) * 1000)
        except BaseException as exc:  # noqa: BLE001 — re-raised by the caller
            self.error = exc


# -- reads and checks ----------------------------------------------------------


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)


def bucket_of(spark, store, keys: list[int]) -> dict[int, int]:
    """Key → current-snapshot bucket, computed by the store's own
    expression (the client's routing table, built before timing)."""
    df = spark.createDataFrame([(k,) for k in keys], f"{KEY} int")
    return {r[KEY]: r.b for r in df.select(KEY, store.bucket_expr().alias("b")).collect()}


def read_phase(spark, store_path: str, expected: cdcgen.ExpectedState,
               seed: int, n_lookups: int, n_asof: int,
               outcome: Outcome) -> tuple[list[float], list[float]]:
    """One closed-loop client: ``n_lookups`` point lookups of current
    rows, then ``n_asof`` as-of scans into the noop sink. Returns the
    two latency lists in ms; lookup answers are checked after timing."""
    from pyspark.sql import functions as F

    from architrave_project_apache_nifi_spark.operators.scd2 import scd2_as_of
    from architrave_project_apache_nifi_spark.streaming.history_store import Scd2Store

    rng = np.random.default_rng([seed, 4])
    live = sorted(expected.last)
    keys = [live[i] for i in rng.integers(0, len(live), n_lookups)]
    store = Scd2Store(store_path, key_col=KEY)
    store.manifest()  # adopt the store's bucket count
    route = bucket_of(spark, store, sorted(set(keys)))
    lookup_ms, answers = [], []
    for k in keys:
        t = time.perf_counter()
        rows = (
            store.read_current(spark, buckets=[route[k]])
            .filter(F.col(KEY) == k)
            .collect()
        )
        lookup_ms.append((time.perf_counter() - t) * 1000)
        answers.append((k, rows))
    lo = cdcgen.BASE_MS + 1
    hi = cdcgen.BASE_MS + expected.n_events
    points = [int(x) for x in rng.integers(lo, hi + 1, n_asof)]
    asof_ms = []
    for ms in points:
        ts = dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).replace(tzinfo=None)
        t = time.perf_counter()
        scd2_as_of(store.read_all(spark), ts).write.format("noop").mode("overwrite").save()
        asof_ms.append((time.perf_counter() - t) * 1000)
    # checks, outside the timed loops
    for k, rows in answers:
        want = expected.last[k]
        outcome.check(
            len(rows) == 1 and abs(rows[0]["Price"] - want.price) < 1e-6,
            f"lookup {k}: got {[r.asDict() for r in rows]}, want price {want.price}",
        )
    return lookup_ms, asof_ms


def check_store(spark, store_path: str, files: list[list[cdcgen.Event]],
                expected: cdcgen.ExpectedState, deletes: bool,
                outcome: Outcome) -> None:
    """The committed store against the generator's expected state."""
    from pyspark.sql import functions as F

    from architrave_project_apache_nifi_spark.operators.scd2 import (
        scd2_as_of,
        scd2_invariants,
    )
    from architrave_project_apache_nifi_spark.streaming.history_store import Scd2Store

    hist = Scd2Store(store_path).read_all(spark).cache()
    try:
        cur = (
            hist.filter(F.col("is_current") == "Y")
            .select(KEY, "Price", F.unix_millis("valid_from").alias("from_ms"))
            .toPandas()
        )
        current = dict(zip(cur[KEY].tolist(), zip(cur["Price"].tolist(), cur["from_ms"].tolist())))
        outcome.check(
            len(current) == len(expected.last),
            f"current rows {len(current)} != live keys {len(expected.last)}",
        )
        bad = 0
        for k, ev in expected.last.items():
            got = current.get(k)
            if got is None or abs(got[0] - ev.price) > 1e-6 or got[1] != ev.ts_ms:
                bad += 1
        outcome.check(bad == 0, f"{bad} current rows differ from the last version")
        closed = hist.filter(F.col("is_current") == "N").count()
        outcome.check(closed == expected.closed,
                      f"closed rows {closed} != expected {expected.closed}")
        violations = scd2_invariants(hist, KEY, allow_gaps=deletes).count()
        outcome.check(violations == 0, f"{violations} SCD2 invariant violations")
        # one as-of point, counted: keys live at the middle of the stream
        mid = cdcgen.BASE_MS + expected.n_events // 2
        at_mid = cdcgen.ExpectedState()
        for f in files:
            at_mid.add([e for e in f if e.ts_ms <= mid])
        ts = dt.datetime.fromtimestamp(mid / 1000, dt.timezone.utc).replace(tzinfo=None)
        n_mid = scd2_as_of(hist, ts).count()
        outcome.check(n_mid == len(at_mid.last),
                      f"as-of rows {n_mid} != live keys {len(at_mid.last)}")
    finally:
        hist.unpersist()


def store_bytes(path: str) -> tuple[int, int]:
    """(data bytes, data files) of a store on disk."""
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


# -- shapes ---------------------------------------------------------------------


# The trickle starts behind a backlog of ``backlog`` files, drained one
# a micro-batch (a restart behind the binlog), then takes the live drops.
TRICKLE = dict(per_file=250, n_keys=500, backlog=2, min_drops=40, period_s=0.2)
BACKFILL = dict(n_keys=40_000, n_updates=80_000, per_file=40_000)
READS = dict(n_lookups=20, n_asof=10)
# set-up: two tiny files through the same stream on a throwaway store
# (the first micro-batch of a fresh JVM pays most of the code
# generation), then reads enough for the read plans to be compiled
# before they are timed
WARM = dict(files=2, per_file=50, n_lookups=12, n_asof=4)


def n_drops(seconds: float) -> int:
    return max(TRICKLE["min_drops"], math.ceil(seconds / TRICKLE["period_s"]))
