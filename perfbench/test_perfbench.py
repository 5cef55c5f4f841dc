"""Tests of the benchmark's own code: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import cdcgen, streams, tabgen
from perfbench import trace as tr
from perfbench.stats import percentile


# -- generator ---------------------------------------------------------------


def _lines(files):
    return [cdcgen.envelope_line(e) for f in files for e in f]


def test_trickle_generator_is_deterministic_per_seed():
    a = cdcgen.trickle_files(7, 4, 50, 20)
    assert _lines(a) == _lines(cdcgen.trickle_files(7, 4, 50, 20))
    assert _lines(a) != _lines(cdcgen.trickle_files(8, 4, 50, 20))
    assert [len(f) for f in a] == [50] * 4


def test_backfill_generator_is_deterministic_per_seed():
    a = cdcgen.backfill_files(7, 300, 900, 200)
    assert _lines(a) == _lines(cdcgen.backfill_files(7, 300, 900, 200))
    assert _lines(a) != _lines(cdcgen.backfill_files(8, 300, 900, 200))
    events = [e for f in a for e in f]
    assert [e.seq for e in events] == list(range(1, 1201))
    assert {e.etype for e in events[:300]} == {"insert"}
    assert any(e.etype == "delete" for e in events)


def test_registry_tables_are_deterministic_per_seed():
    a, b, c = tabgen.tables(5), tabgen.tables(5), tabgen.tables(6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_envelope_lines_are_json_of_the_fixture_shape():
    env = json.loads(cdcgen.envelope_line(cdcgen.Event(3, "update", 10_001, 12.5)))
    assert env["cdc_sequence_id"] == 3 and env["timestamp"] == cdcgen.BASE_MS + 3
    cols = {c["name"]: c["value"] for c in env["columns"]}
    assert cols["ProductID"] == "10001" and cols["Price"] == "12.50"


def test_expected_state_counts_closed_versions_and_deletes():
    ev = cdcgen.Event
    st = cdcgen.ExpectedState.of([
        [ev(1, "insert", 1, 1.0), ev(2, "insert", 2, 2.0), ev(3, "update", 1, 3.0)],
        [ev(4, "delete", 2, 0.0), ev(5, "insert", 2, 5.0), ev(6, "delete", 1, 0.0)],
    ])
    assert sorted(st.last) == [2] and st.last[2].price == 5.0
    assert st.closed == 3  # 1@1 by update, 2@2 by delete, 1@3 by delete


# -- oracle against the engine ---------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import host

    work = str(tmp_path_factory.mktemp("spark"))
    host.fit_env(work)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    session = host.start_spark("perfbench-tests", work)
    yield session
    host.stop_spark(session)


def test_expected_state_oracle_equals_scd2_build(spark, tmp_path):
    from pyspark.sql import functions as F

    from architrave_project_apache_nifi_spark.operators.scd2 import scd2_build
    from architrave_project_apache_nifi_spark.sources import cdc

    files = cdcgen.backfill_files(11, 60, 1500, 150)
    assert sum(e.etype == "delete" for f in files for e in f) >= 5
    for i, f in enumerate(files):
        cdcgen.write_file(str(tmp_path), i, f)
    changes = (
        cdc.flatten_events(cdc.read_envelope_batch(spark, str(tmp_path)))
        .withColumn("change_ts", F.timestamp_millis("timestamp"))
        .withColumn("__tomb", F.col("type") == "delete")
    )
    built = scd2_build(
        changes, "ProductID", "change_ts", order_cols=("cdc_sequence_id",),
        tombstone_col="__tomb", skew_protection=False,
    )
    got = sorted(
        (r[0], r[1], r[2], r[3], r[4])
        for r in built.select(
            "ProductID", "Price", F.unix_millis("valid_from"),
            F.unix_millis("valid_until"), "is_current",
        ).collect()
    )
    expected = cdcgen.ExpectedState.of(files)
    assert got == expected.history(files)
    assert sum(r[4] == "Y" for r in got) == len(expected.last)
    assert sum(r[4] == "N" for r in got) == expected.closed


# -- file → micro-batch mapping ---------------------------------------------------


def _write_log(path, name, entries):
    with open(os.path.join(path, name), "w") as fh:
        fh.write("v1\n")
        for file_name, offset in entries:
            fh.write(json.dumps({"path": f"file:///in/{file_name}", "timestamp": 0,
                                 "batchId": offset}) + "\n")


def _progress(batch_id, start, end, rows, ts, trigger_ms, as_string=False):
    off = (lambda o: json.dumps({"logOffset": o})) if as_string else (lambda o: {"logOffset": o})
    return {
        "batchId": batch_id, "numInputRows": rows, "timestamp": ts,
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 10},
        "sources": [{"startOffset": None if start is None else off(start),
                     "endOffset": off(end)}],
    }


def test_files_map_to_the_micro_batch_that_committed_them(tmp_path):
    log_dir = tmp_path / "sources" / "0"
    log_dir.mkdir(parents=True)
    _write_log(log_dir, "9.compact", [(f"f{i}", i) for i in range(10)])
    _write_log(log_dir, "10", [("f10", 10), ("f11", 10)])
    _write_log(log_dir, ".10.crc", [])
    log = streams.source_log(str(tmp_path))
    assert log["f0"] == 0 and log["f9"] == 9 and log["f11"] == 10
    progress = [
        _progress(0, None, 0, 5, "2026-01-01T00:00:00.000Z", 1000),
        _progress(1, 0, 0, 0, "2026-01-01T00:00:01.000Z", 5),  # idle trigger
        _progress(2, 0, 9, 45, "2026-01-01T00:00:02.000Z", 2500, as_string=True),
        _progress(3, 9, 10, 10, "2026-01-01T00:00:05.000Z", 500),
    ]
    batches = streams.data_batches(progress)
    assert [b.batch_id for b in batches] == [0, 2, 3]
    commits = streams.file_commit_times(log, batches)
    t0 = streams._epoch("2026-01-01T00:00:00.000Z")
    assert commits["f0"] == (0, t0 + 1.0)
    assert commits["f1"] == commits["f9"] == (2, t0 + 4.5)
    assert commits["f10"] == commits["f11"] == (3, t0 + 5.5)


# -- percentiles -------------------------------------------------------------------


@pytest.mark.parametrize("p,n_ok", [(50, 20), (75, 40), (90, 100), (99, 1000)])
def test_percentile_needs_ten_samples_beyond(p, n_ok):
    assert percentile(list(range(n_ok)), p) == (n_ok * p) // 100 - 1
    with pytest.raises(ValueError):
        percentile(list(range(n_ok - 1)), p)


def test_percentile_rejects_out_of_range():
    with pytest.raises(ValueError):
        percentile(list(range(1000)), 100)
    with pytest.raises(ValueError):
        percentile(list(range(1000)), 0)


# -- spans --------------------------------------------------------------------------


def test_spans_adopt_attribute_jobs_and_self_time():
    t = tr.Tracer()
    batch = t.add("batch", 100.0, 110.0, trace_id="batch-1")
    inner = t.add("add_batch", 101.0, 109.0, parent=batch.span_id, trace_id="batch-1")
    commit = t.add("commit", 102.0, 105.0)
    write = t.add("write", 103.0, 104.0, parent=commit.span_id)
    t.adopt([batch, inner])
    assert commit.parent == inner.span_id and commit.trace_id == "batch-1"
    job = dict(tasks=1, run_s=0, cpu_s=0, gc_s=0, shuffle_write_bytes=0,
               spill_bytes=0, stages=1)
    t.attribute([tr.Job(1, 103.5, **job), tr.Job(2, 102.5, **job), tr.Job(3, 108.0, **job)])
    assert write.jobs == [1] and commit.jobs == [2] and inner.jobs == [3]
    assert sorted(t.descendants_jobs(batch)) == [1, 2, 3]
    t.compute_self_times()
    assert inner.self_s == pytest.approx(5.0) and commit.self_s == pytest.approx(2.0)


def test_patch_records_spans_and_restores():
    class Target:
        @staticmethod
        def work(x):
            return x + 1

    t = tr.Tracer()
    t.patch(Target, "work", "target.work", lambda sp, a, k, out: sp.attrs.update(out=out))
    assert Target.work(1) == 2
    t.unpatch()
    assert Target.work(1) == 2
    assert [(s.name, s.attrs) for s in t.spans] == [("target.work", {"out": 2})]
