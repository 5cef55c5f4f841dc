"""Set-up, measured phase, checks and metrics of one run of a workload."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

from . import cdcgen, host, streams, tabgen
from . import trace as tr
from statistics import median

from .stats import percentile

WORKLOADS = ("cdc_trickle", "cdc_backfill")


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    traced: bool
    work: str
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    outcome: streams.Outcome = field(default_factory=streams.Outcome)
    tracer: tr.Tracer | None = None
    record: dict = field(default_factory=lambda: {"phases_s": {}})

    @property
    def trickle(self) -> bool:
        return self.workload == "cdc_trickle"

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def phase(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.record["phases_s"][name] = round(time.perf_counter() - t, 3)


# -- inputs ------------------------------------------------------------------


def make_inputs(run: Run) -> dict:
    """All input files in stream order; the numbered ``(index, events)``
    files drained as a backlog (timed) and dropped live (the trickle's
    schedule); and tiny files of the same shape for the warm-up."""
    w = streams.WARM
    if run.trickle:
        s = streams.TRICKLE
        files = cdcgen.trickle_files(
            run.seed, s["backlog"] + streams.n_drops(run.seconds), s["per_file"], s["n_keys"]
        )
        warm = cdcgen.trickle_files(run.seed + 1_000_003, w["files"], w["per_file"], s["n_keys"])
        n_backlog = s["backlog"]
    else:
        s = streams.BACKFILL
        files = cdcgen.backfill_files(run.seed, s["n_keys"], s["n_updates"], s["per_file"])
        warm = cdcgen.backfill_files(
            run.seed + 1_000_003, w["per_file"], w["per_file"] * (w["files"] - 1),
            w["per_file"],
        )
        n_backlog = len(files)
    numbered = list(enumerate(files))
    return {"files": files, "warm": warm, "backlog": numbered[:n_backlog],
            "live": numbered[n_backlog:], "expected": cdcgen.ExpectedState.of(files)}


# -- streams -----------------------------------------------------------------


def _stream(spark, run: Run, base: str, processing_time: str | None = None):
    """The workload's stream over ``base/in`` into ``base/store``.
    Without ``processing_time`` it runs availableNow, one file a batch."""
    from architrave_project_apache_nifi_spark.sources import cdc
    from architrave_project_apache_nifi_spark.streaming.scd2_stream import (
        run_scd2_stream,
        run_scd2_stream_from,
    )

    src, store, ckpt = (os.path.join(base, d) for d in ("in", "store", "ckpt"))
    os.makedirs(src, exist_ok=True)
    if run.trickle:
        return run_scd2_stream_from(
            spark,
            cdc.read_envelope_stream(spark, src, None if processing_time else 1),
            store, ckpt, processing_time=processing_time, compact_every=10,
        )
    return run_scd2_stream(
        spark, src, store, ckpt, max_files_per_trigger=1, handle_deletes=True
    )


def _record(run: Run, phase: str, batches) -> None:
    run.record[f"batches_{phase}"] = [
        (b.batch_id, b.rows, round(b.end - b.start, 3)) for b in batches]


def drain(spark, run: Run, base: str, numbered):
    """Write the files into ``base/in``, then run one availableNow
    stream over them, one file a micro-batch. Returns the micro-batches,
    the stream's start time and its wall time."""
    for i, f in numbered:
        cdcgen.write_file(os.path.join(base, "in"), i, f)
    t0 = time.time()
    q = _stream(spark, run, base)
    q.awaitTermination()
    wall = time.time() - t0
    batches = streams.data_batches([json.loads(p.json) for p in q.recentProgress])
    run.outcome.check(len(batches) == len(numbered),
                      f"{len(numbered)} files drained in {len(batches)} micro-batches")
    return batches, t0, wall


def warm_up(spark, run: Run, inputs: dict) -> None:
    """The same stream and reads on a throwaway store: the first
    micro-batches of a fresh JVM pay most of the code generation."""
    base = run.path("warm")
    with run.phase("warm_stream"):
        batches, _, _ = drain(spark, run, base, list(enumerate(inputs["warm"])))
    _record(run, "warm", batches)
    streams.read_phase(
        spark, os.path.join(base, "store"), cdcgen.ExpectedState.of(inputs["warm"]),
        run.seed, streams.WARM["n_lookups"], streams.WARM["n_asof"], streams.Outcome(),
    )
    shutil.rmtree(base, ignore_errors=True)


def catch_up(spark, run: Run, inputs: dict) -> tuple[list[streams.BatchWindow], float, float]:
    """Drain the backlog (timed); puts ``stream_rows_per_s``. Returns
    the micro-batches, the start time and the wall time."""
    batches, t0, wall = drain(spark, run, run.work, inputs["backlog"])
    run.put("stream_rows_per_s", sum(len(f) for _, f in inputs["backlog"]) / wall, "1/s")
    _record(run, "backlog", batches)
    return batches, t0, wall


def _put_freshness(run: Run, batches, due: dict[str, tuple[float, int]]) -> None:
    """Freshness of each file's events: the end of the micro-batch that
    committed the file minus the file's due time, ``weight`` samples a file."""
    commits = streams.file_commit_times(streams.source_log(run.path("ckpt")), batches)
    fresh = []
    for name, (due_at, weight) in due.items():
        got = commits.get(name)
        run.outcome.check(got is not None, f"file {name} not mapped to a micro-batch")
        if got is not None:
            fresh.extend([got[1] - due_at] * weight)
    run.put("freshness_p50_s", median(fresh), "s")
    run.put("freshness_p75_s", percentile(fresh, 75), "s")


def measure_trickle(spark, run: Run, inputs: dict):
    from architrave_project_apache_nifi_spark.streaming.history_store import Scd2Store

    backlog, _, _ = catch_up(spark, run, inputs)
    q = _stream(spark, run, run.work, processing_time="200 milliseconds")
    deadline = time.monotonic() + 60
    while q.lastProgress is None and time.monotonic() < deadline:
        time.sleep(0.05)  # the poll loop is running before the first drop
    gen = streams.OpenLoop(run.path("in"), inputs["live"], time.time() + 0.5,
                           streams.TRICKLE["period_s"])
    gen.start()
    gen.join()
    if gen.error is not None:
        q.stop()
        raise gen.error
    q.processAllAvailable()
    q.stop()
    batches = streams.data_batches([json.loads(p.json) for p in q.recentProgress])
    _record(run, "live", batches)
    _put_freshness(run, batches, {n: (d, 1) for n, d in gen.due.items()})
    window = max(b.end for b in batches) - gen.t0
    busy = sum(b.end - b.start for b in batches)
    # The stream's own compaction (once 10 closed batches are pending)
    # does not fire in a window this short, here 2 + 4 to 7 micro-batches;
    # the closed batches are folded once after it, timed apart, so that
    # the reads and the store size see one layout on every run.
    t = time.perf_counter()
    Scd2Store(run.path("store")).compact_closed(spark, min_batches=1)
    return backlog + batches, {"late_max_ms": max(gen.late_ms), "fold_s": time.perf_counter() - t,
                               "idle_share": 1 - busy / window}


def measure_backfill(spark, run: Run, inputs: dict):
    batches, t0, wall = catch_up(spark, run, inputs)
    # Every event is due when the backfill starts: freshness is each
    # change's time to readable, and its p75 is the whole drain (the
    # inverse of stream_rows_per_s), printed because every workload
    # prints every end-to-end metric.
    _put_freshness(run, batches, {
        cdcgen.file_name(i): (t0, len(f)) for i, f in inputs["backlog"]
    })
    busy = sum(b.end - b.start for b in batches)
    # nothing is generated while the stream runs, so nothing can be late
    return batches, {"late_max_ms": 0.0, "fold_s": 0.0,
                     "idle_share": max(0.0, 1 - busy / wall)}


# -- tracing -------------------------------------------------------------------


def install_tracer(run: Run) -> tr.Tracer:
    """Spans around the layers' public functions as the stream calls them."""
    from architrave_project_apache_nifi_spark.sources import cdc
    from architrave_project_apache_nifi_spark.streaming import scd2_stream
    from architrave_project_apache_nifi_spark.streaming.history_store import Scd2Store

    t = tr.Tracer()

    def on_commit(sp, args, kwargs, _):
        store = args[0]
        bid = kwargs.get("batch_id", args[3] if len(args) > 3 else None)
        written = [streams.store_bytes(d) for d in (
            store._closed_dir(bid), os.path.join(store.path, "current", f"v={bid}"))]
        sp.attrs.update(batch_id=bid, bytes=sum(b for b, _ in written),
                        files=sum(f for _, f in written))

    def on_compact(sp, _a, _k, result):
        sp.attrs["compacted"] = bool(result)

    t.patch(cdc, "flatten_events", "cdc.flatten_events")
    t.patch(scd2_stream, "scd2_apply", "scd2.apply")
    t.patch(scd2_stream, "scd2_build", "scd2.build")
    t.patch(Scd2Store, "commit", "history_store.commit", on_commit)
    t.patch(Scd2Store, "read_current", "history_store.read_current")
    t.patch(Scd2Store, "read_all", "history_store.read_all")
    t.patch(Scd2Store, "compact_closed", "history_store.compact_closed", on_compact)
    return t


def batch_spans(t: tr.Tracer, batches) -> list[tr.Span]:
    """Progress-derived spans: one per data micro-batch, with the
    source's offset listing first and the commit-log write last."""
    parents = []
    for b in batches:
        d, tid = b.durations_ms, f"batch-{b.batch_id}"
        trig = t.add("scd2_stream.trigger", b.start, b.end, trace_id=tid,
                     attrs={"rows": b.rows})
        listed = b.start + d.get("latestOffset", 0) / 1000
        commit0 = b.end - d.get("commitOffsets", 0) / 1000
        add0 = commit0 - d.get("addBatch", 0) / 1000
        parents += [
            trig,
            t.add("cdc.latest_offset", b.start, listed, parent=trig.span_id, trace_id=tid),
            t.add("scd2_stream.add_batch", add0, commit0, parent=trig.span_id, trace_id=tid),
            t.add("scd2_stream.commit_offsets", commit0, b.end, parent=trig.span_id,
                  trace_id=tid),
        ]
    return parents


def stream_layers(run: Run, batches, extra: dict, jobs: list[tr.Job]) -> None:
    t = run.tracer
    tasks = {j.job_id: j.tasks for j in jobs}
    per_batch = [t.descendants_jobs(s) for s in t.named("scd2_stream.trigger")]
    n = max(1, len(per_batch))

    def p50(key):
        return median([b.durations_ms.get(key, 0) for b in batches])

    run.put("scd2_stream.trigger_p50_s", median([b.end - b.start for b in batches]), "s")
    run.put("scd2_stream.add_batch_p50_s", p50("addBatch") / 1000, "s")
    run.put("scd2_stream.offset_wal_p50_ms", median([
        sum(b.durations_ms.get(k, 0) for k in ("latestOffset", "walCommit", "commitOffsets"))
        for b in batches]), "ms")
    run.put("scd2_stream.jobs_per_batch", sum(map(len, per_batch)) / n, "count")
    run.put("scd2_stream.tasks_per_batch",
            sum(tasks[j] for js in per_batch for j in js) / n, "count")
    run.put("scd2_stream.idle_share", extra["idle_share"], "share")
    run.put("cdc.latest_offset_p50_ms", p50("latestOffset"), "ms")

    def in_stream(name):
        return [s for s in t.named(name) if (s.trace_id or "").startswith("batch-")]

    commits = in_stream("history_store.commit")
    k = max(1, len(commits))
    run.put("history_store.commit_p50_s", median([s.dur for s in commits]), "s")
    run.put("history_store.commit_jobs_per_batch",
            sum(len(t.descendants_jobs(s)) for s in commits) / k, "count")
    reads = [s.dur * 1000 for s in in_stream("history_store.read_current")]
    run.put("history_store.read_current_p50_ms", median(reads) if reads else 0.0, "ms")
    comp = [s for s in in_stream("history_store.compact_closed") if s.attrs["compacted"]]
    run.put("history_store.compactions", len(comp), "count")
    run.put("history_store.compact_s_total", sum(s.dur for s in comp), "s")
    run.put("history_store.fold_s", extra["fold_s"], "s")
    run.put("history_store.files_written_per_batch",
            sum(s.attrs["files"] for s in commits) / k, "count")
    run.put("history_store.bytes_written_per_batch",
            sum(s.attrs["bytes"] for s in commits) / k, "bytes")
    run.put("history_store.live_files", streams.store_bytes(run.path("store"))[1], "count")
    plans = [s.dur * 1000 for s in in_stream("scd2.apply") + in_stream("scd2.build")]
    run.put("scd2.plan_ms_per_batch", median(plans), "ms")
    run.put("generator.late_max_ms", extra["late_max_ms"], "ms")
    for name, (value, unit) in tr.spark_totals(jobs).items():
        run.put(name, value, unit)


def standalone_layers(spark, run: Run, inputs: dict) -> None:
    """The workload's last input file through parse+flatten alone, and
    through one merge against the final current rows, into the noop
    sink; the median of three calls each."""
    from pyspark.sql import functions as F

    from architrave_project_apache_nifi_spark.operators.scd2 import scd2_apply
    from architrave_project_apache_nifi_spark.sources import cdc
    from architrave_project_apache_nifi_spark.streaming.history_store import Scd2Store

    last = inputs["files"][-1]
    path = cdcgen.write_file(run.path("standalone"), 0, last)

    def rate(make_df) -> float:
        runs = []
        for _ in range(3):
            t = time.perf_counter()
            make_df().write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t)
        return len(last) / median(runs)

    run.put("cdc.parse_flatten_rows_per_s",
            rate(lambda: cdc.flatten_events(cdc.read_envelope_batch(spark, path))), "1/s")
    changes = (
        cdc.flatten_events(cdc.read_envelope_batch(spark, path))
        .withColumn("change_ts", F.timestamp_millis(F.col("timestamp")))
        .withColumn("__tomb", F.col("type") == "delete")
        .drop("type", "timestamp")
    )
    current = Scd2Store(run.path("store")).read_current(spark)
    run.put("scd2.merge_rows_per_s", rate(lambda: scd2_apply(
        current, changes, streams.KEY, "change_ts", order_cols=("cdc_sequence_id",),
        tombstone_col="__tomb", skew_protection=False, broadcast_changes=True,
    )), "1/s")


# -- batch registry (traced run) -------------------------------------------------


def registry_setup(spark, run: Run) -> str:
    """Seeded sf0.01 tables, the IVF/PQ artifacts built through the
    functions ``bench.py`` calls, and every ``bench.HEADLINE`` output
    checked through ``check_oracles.compare_one`` (which also warms
    each plan). Returns the tables' directory."""
    import bench

    sys.path.insert(0, os.path.join(host.ROOT, "scripts"))
    import check_oracles

    from architrave_project_apache_nifi_spark.operators.quantization import (
        ivfpq_codebooks_for,
        ivfpq_codes_for,
        pq_codebooks_for,
        pq_codes_for,
    )
    from architrave_project_apache_nifi_spark.operators.similarity import ivf_index_for
    from architrave_project_apache_nifi_spark.queries import REGISTRY
    from architrave_project_apache_nifi_spark.tables import load

    sf = tabgen.write_tables(run.seed, run.path("sf0.01"))
    emb = load(spark, "embeddings", sf)
    index = ivf_index_for(emb, cache_key=sf)
    pq_codes_for(emb, pq_codebooks_for(emb, cache_key=sf), cache_key=sf)
    ivfpq_codes_for(emb, index, ivfpq_codebooks_for(emb, index, cache_key=sf), cache_key=sf)
    con = check_oracles.duckdb_con(sf)
    try:
        for name in bench.HEADLINE:
            spec = REGISTRY[name]
            err = check_oracles.compare_one(spark, con, sf, name, spec.fn, spec.oracle)
            run.outcome.check(err is None, f"registry {err}")
    finally:
        con.close()
    return sf


def registry_pass(spark, run: Run, sf: str) -> None:
    """Each headline query once into the noop sink, one span each."""
    import bench

    from architrave_project_apache_nifi_spark.operators.quantization import pq_evict
    from architrave_project_apache_nifi_spark.operators.similarity import ivf_evict
    from architrave_project_apache_nifi_spark.queries import REGISTRY

    total = 0.0
    for name in bench.HEADLINE:
        j0 = tr.last_job_id(spark)
        with run.tracer.span(f"registry.{name}", trace_id=name):
            t = time.perf_counter()
            REGISTRY[name].fn(spark, sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t
        jobs = tr.jobs_since(spark, j0)
        run.tracer.attribute(jobs)
        total += dt
        run.put(f"registry.{name}.s", dt, "s")
        run.put(f"registry.{name}.jobs", len(jobs), "count")
        run.put(f"registry.{name}.tasks", sum(j.tasks for j in jobs), "count")
    run.put("registry.headline_total_s", total, "s")
    ivf_evict(sf)
    pq_evict(sf)


# -- one run -------------------------------------------------------------------


def execute(run: Run) -> None:
    """Generate inputs, set up (timed), measure, check, fill ``metrics``."""
    with run.phase("inputs"):
        inputs = make_inputs(run)
    t_setup = time.perf_counter()
    import bench

    run.record["load_start"] = bench._load_telemetry()
    spark = host.start_spark(f"perfbench-{run.workload}", run.work)
    try:
        pid = host.jvm_pid()
        warm_up(spark, run, inputs)
        run.put("setup_s", time.perf_counter() - t_setup, "s")
        if run.traced:
            run.tracer = install_tracer(run)
        job0 = tr.last_job_id(spark)
        measure = measure_trickle if run.trickle else measure_backfill
        try:
            with run.phase("stream"):
                batches, extra = measure(spark, run, inputs)
            with run.phase("reads"), (run.tracer.span("reads", trace_id="reads")
                                      if run.traced else contextlib.nullcontext()):
                lookup_ms, asof_ms = streams.read_phase(
                    spark, run.path("store"), inputs["expected"], run.seed,
                    streams.READS["n_lookups"], streams.READS["n_asof"], run.outcome,
                )
            job1 = tr.last_job_id(spark)
        finally:
            if run.traced:
                run.tracer.unpatch()
        run.record["reads_ms"] = {"lookup": [round(x, 1) for x in lookup_ms],
                                  "asof": [round(x, 1) for x in asof_ms]}
        run.put("lookup_p50_ms", median(lookup_ms), "ms")
        run.put("asof_scan_p50_ms", median(asof_ms), "ms")
        run.put("store_bytes_per_event",
                streams.store_bytes(run.path("store"))[0] / inputs["expected"].n_events,
                "bytes")
        with run.phase("checks"):
            streams.check_store(
                spark, run.path("store"), inputs["files"], inputs["expected"],
                deletes=not run.trickle, outcome=run.outcome,
            )
        if run.traced:
            with run.phase("trace"):
                finish_trace(spark, run, inputs, batches, extra, (job0, job1))
        run.put("spark.jvm_peak_rss_mb", host.jvm_peak_rss_mb(pid), "MiB")
        run.put("jvm_heap_live_mb", host.jvm_heap_live_mb(spark), "MiB")
        run.record["load_end"] = bench._load_telemetry()
    finally:
        host.stop_spark(spark)


def finish_trace(spark, run: Run, inputs, batches, extra, job_range) -> None:
    """Per-layer metrics of a traced run, read after the measured phase
    (the stream and reads, whose jobs are ``job_range``), then the
    registry's set-up and pass. The traced run's own end-to-end figures
    are kept beside them: their difference from the untraced medians is
    the tracing overhead, of which the calibrated span cost is a floor."""
    t = run.tracer
    e2e = dict(run.metrics)
    jobs = [j for j in tr.jobs_since(spark, job_range[0]) if j.job_id <= job_range[1]]
    t.adopt(batch_spans(t, batches))
    t.attribute(jobs)
    stream_layers(run, batches, extra, jobs)
    standalone_layers(spark, run, inputs)
    registry_pass(spark, run, registry_setup(spark, run))
    t.compute_self_times()
    run.put("trace.spans", len(t.spans), "count")
    run.put("trace.overhead_floor_ms",
            (len(t.spans) * tr.per_span_cost_s() + t.hook_s) * 1000, "ms")
    run.put("trace.e2e_freshness_p50_s", e2e["freshness_p50_s"][0], "s")
    run.put("trace.e2e_stream_rows_per_s", e2e["stream_rows_per_s"][0], "1/s")
    run.put("trace.e2e_lookup_p50_ms", e2e["lookup_p50_ms"][0], "ms")
