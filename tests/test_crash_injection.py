"""Crash injection for the streaming stores' commit protocols: kill the
writer at every dangerous point between stage-write and commit-marker,
then replay — and assert NO LOSS and NO DUPLICATION either before the
replay (readers must not see torn state) or after it.

Covers the four stores the SCD2 history store's crash tests
(test_streaming.py) don't: ann_ingest (pointer flip + _FOLDED delta
record), rollup_stream and dedup_ingest (torn batch=<id> snapshot
dirs, commitdirs.py), and the kafka-loopback STREAM SINK (append +
length-fence + marker flip, kafka_loopback.py _LoopbackStreamWriter).
It also kills the SCD2 store's commit between its staged write and
its manifest flip.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from architrave_project_apache_nifi_spark.sources.kafka_loopback import (
    _LoopbackStreamWriter,
    _end_offsets,
    _read_span,
)
from architrave_project_apache_nifi_spark.streaming import ann_ingest
from architrave_project_apache_nifi_spark.streaming.ann_ingest import (
    ingest_batch as ann_ingest_batch,
    init_index,
    load_index,
    rebuild,
    sweep,
)
from architrave_project_apache_nifi_spark.streaming.dedup_ingest import (
    ingest_batch as dedup_ingest_batch,
    read_corpus,
    read_fingerprints,
)
from architrave_project_apache_nifi_spark.streaming.history_store import Scd2Store
from architrave_project_apache_nifi_spark.streaming.rollup_stream import (
    read_rollup,
    read_state,
    rollup_batch,
)

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# kafka-loopback stream sink
# ---------------------------------------------------------------------------


class _CrashAfterAppend(_LoopbackStreamWriter):
    """Dies after the partition-log append, before the marker flip —
    the window where a marker-only protocol would duplicate on replay."""

    def _apply(self, messages):
        super()._apply(messages)
        raise RuntimeError("injected crash between append and marker")


def _rows(writer, values):
    return [writer.write([Row(value=v) for v in values])]


def _topic_values(spark, broker, topic):
    vals = []
    for tp, end in _end_offsets(broker, [topic]).items():
        vals.extend(
            rec[1].decode() for rec in _read_span(broker, tp, 0, end)
        )
    return sorted(vals)


def test_kafka_sink_crash_between_append_and_marker(spark, tmp_path):
    broker = str(tmp_path / "broker")
    crasher = _CrashAfterAppend(broker, "t", 1)
    with pytest.raises(RuntimeError):
        crasher.commit(_rows(crasher, ["a", "b"]), batchId=0)
    # crashed rows are transiently visible (read_uncommitted, like
    # a real Kafka consumer's default isolation level) ...
    assert _topic_values(spark, broker, "t") == ["a", "b"]

    # ... and the REPLAY fences them before re-appending: no dup.
    w = _LoopbackStreamWriter(broker, "t", 1)
    w.commit(_rows(w, ["a", "b"]), batchId=0)
    assert _topic_values(spark, broker, "t") == ["a", "b"]

    # a later batch appends after the committed one, exactly once
    w2 = _LoopbackStreamWriter(broker, "t", 1)
    w2.commit(_rows(w2, ["c"]), batchId=1)
    assert _topic_values(spark, broker, "t") == ["a", "b", "c"]


def test_kafka_sink_crash_on_first_ever_batch(spark, tmp_path):
    """The baseline marker is written BEFORE the first append, so even
    a batch-0 crash (no prior commit to fence back to) replays clean."""
    broker = str(tmp_path / "broker")
    crasher = _CrashAfterAppend(broker, "t", 2)
    with pytest.raises(RuntimeError):
        crasher.commit(_rows(crasher, ["x", "y", "z"]), batchId=0)
    w = _LoopbackStreamWriter(broker, "t", 2)
    w.commit(_rows(w, ["x", "y", "z"]), batchId=0)
    assert _topic_values(spark, broker, "t") == ["x", "y", "z"]


def test_kafka_sink_fence_removes_partition_born_in_crashed_attempt(
    spark, tmp_path
):
    """A partition file that exists only because a crashed attempt
    created it must be deleted by the fence, not truncated to garbage."""
    broker = str(tmp_path / "broker")
    w0 = _LoopbackStreamWriter(broker, "t", 4)
    w0.commit([w0.write([Row(value="a", partition=0)])], batchId=0)
    crasher = _CrashAfterAppend(broker, "t", 4)
    with pytest.raises(RuntimeError):
        crasher.commit(
            [crasher.write([Row(value="b", partition=3)])], batchId=1
        )
    assert os.path.exists(os.path.join(broker, "t", "p3.jsonl"))
    w1 = _LoopbackStreamWriter(broker, "t", 4)
    w1.commit([w1.write([Row(value="b", partition=3)])], batchId=1)
    assert _topic_values(spark, broker, "t") == ["a", "b"]


def test_kafka_sink_replayed_committed_batch_is_skipped(spark, tmp_path):
    broker = str(tmp_path / "broker")
    w = _LoopbackStreamWriter(broker, "t", 1)
    w.commit(_rows(w, ["a"]), batchId=0)
    w.commit(_rows(w, ["a"]), batchId=0)  # full replay AFTER commit
    assert _topic_values(spark, broker, "t") == ["a"]


# ---------------------------------------------------------------------------
# ann_ingest: rebuild's pointer flip + _FOLDED record
# ---------------------------------------------------------------------------


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def _ann_template(spark, tmp_path_factory):
    """Base + two deltas, built ONCE; each test clones the directory
    (cheap file copy) instead of re-running the Spark build."""
    root = str(tmp_path_factory.mktemp("ann_template") / "ann")
    emb = _emb(spark)
    init_index(spark, root, emb.filter(F.col("vec_id") < 250))
    ann_ingest_batch(emb.filter(F.col("vec_id").between(250, 349)), root, 0)
    ann_ingest_batch(emb.filter(F.col("vec_id") >= 350), root, 1)
    return root, emb.count()


def _ann_store(_ann_template, tmp_path):
    template, total = _ann_template
    root = str(tmp_path / "ann")
    shutil.copytree(template, root)
    return root, total


def test_ann_rebuild_crash_after_flip_no_double_count(
    spark, tmp_path, monkeypatch, _ann_template
):
    """Kill between the pointer flip and the cleanup of old base +
    folded deltas: the new base now holds every vector AND the folded
    delta dirs still exist — _FOLDED must stop load_index from
    counting them twice; sweep() then collects the garbage."""
    root, total = _ann_store(_ann_template, tmp_path)
    monkeypatch.setattr(ann_ingest.shutil, "rmtree", lambda *a, **k: None)
    rebuild(spark, root)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(root, "base"))  # leftover old base
    assert os.path.isdir(os.path.join(root, "deltas", "batch=0"))
    assert load_index(spark, root).assigned.count() == total  # no dup

    sweep(root)
    assert not os.path.isdir(os.path.join(root, "base"))
    assert not os.path.isdir(os.path.join(root, "deltas", "batch=0"))
    assert load_index(spark, root).assigned.count() == total


def test_ann_rebuild_crash_before_flip_old_index_serves(
    spark, tmp_path, monkeypatch, _ann_template
):
    """Kill after the new base is written but before the flip: the old
    index (base + deltas) keeps serving, and a later successful rebuild
    sweeps the half-built base and converges."""
    root, total = _ann_store(_ann_template, tmp_path)

    def boom(src, dst):
        raise RuntimeError("injected crash before pointer flip")

    monkeypatch.setattr(ann_ingest.os, "replace", boom)
    with pytest.raises(RuntimeError):
        rebuild(spark, root)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(root, "base_1"))  # orphan new base
    assert load_index(spark, root).assigned.count() == total

    rebuild(spark, root)
    assert load_index(spark, root).assigned.count() == total
    assert not os.path.isdir(os.path.join(root, "deltas", "batch=0"))


def test_ann_delta_torn_write_is_invisible_until_replay(spark, tmp_path, _ann_template):
    """A delta dir whose Spark job never committed (no _SUCCESS) is a
    crashed ingest_batch: load_index must skip it; the replay
    overwrites it whole and it becomes visible."""
    root, total = _ann_store(_ann_template, tmp_path)
    b2 = _emb(spark).filter(F.col("vec_id") < 50).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    ann_ingest_batch(b2, root, 2)
    os.remove(os.path.join(root, "deltas", "batch=2", "_SUCCESS"))  # tear it
    assert load_index(spark, root).assigned.count() == total
    ann_ingest_batch(b2, root, 2)  # replay
    assert load_index(spark, root).assigned.count() == total + 50


# ---------------------------------------------------------------------------
# rollup_stream: torn snapshot dirs
# ---------------------------------------------------------------------------

KEYS = ["event_type"]
MEASURES = ["value"]


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def _canon(df):
    return sorted(
        tuple(
            round(v, 9) if isinstance(v, float) else v
            for v in (r[c] for c in sorted(df.columns))
        )
        for r in df.collect()
    )


def test_rollup_torn_snapshot_falls_back_to_predecessor(spark, tmp_path):
    root = str(tmp_path / "rollup")
    events = _events(spark)
    b0 = events.filter(F.col("event_id") % 2 == 0)
    b1 = events.filter(F.col("event_id") % 2 == 1)
    rollup_batch(b0, root, KEYS, MEASURES, 0)
    after_b0 = _canon(read_rollup(spark, root, MEASURES))

    rollup_batch(b1, root, KEYS, MEASURES, 1)
    os.remove(os.path.join(root, "state", "batch=1", "_SUCCESS"))  # tear it
    # readers between the crash and the replay see batch 0's state,
    # never the torn snapshot
    assert _canon(read_rollup(spark, root, MEASURES)) == after_b0
    assert read_state(spark, root, before_batch=1) is not None

    rollup_batch(b1, root, KEYS, MEASURES, 1)  # replay
    from architrave_project_apache_nifi_spark.operators.incremental_agg import (
        agg_state,
        finalize,
    )

    assert _canon(read_rollup(spark, root, MEASURES)) == _canon(
        finalize(agg_state(events, KEYS, MEASURES), MEASURES)
    )


# ---------------------------------------------------------------------------
# dedup_ingest: crash between the corpus write and the fps write
# ---------------------------------------------------------------------------


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_dedup_crash_between_corpus_and_fps_replays_clean(spark, tmp_path):
    root = str(tmp_path / "store")
    docs = _docs(spark)
    b0 = docs.filter(F.col("doc_id") < 200)
    b1 = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400))
    dedup_ingest_batch(b0, root, "doc_id", "text", 0)

    # attempt 1 of batch 1 "crashed" after the corpus write, before the
    # fps write: reconstruct that disk state
    dedup_ingest_batch(b1, root, "doc_id", "text", 1)
    shutil.rmtree(os.path.join(root, "fps", "batch=1"))

    # replay must converge: corpus has every b0+b1 text exactly once,
    # fps exactly mirrors the kept corpus
    dedup_ingest_batch(b1, root, "doc_id", "text", 1)
    corpus = read_corpus(spark, root)
    assert corpus.groupBy("text").count().filter(F.col("count") > 1).isEmpty()
    n_kept = corpus.count()
    assert n_kept == b0.unionByName(b1).select("text").distinct().count()
    assert read_fingerprints(spark, root).count() == n_kept


def test_dedup_torn_fps_dir_is_skipped_not_trusted(spark, tmp_path):
    """A torn fps dir (no _SUCCESS) must not poison later batches'
    dedup decisions — its docs would otherwise be treated as seen even
    though the batch never committed."""
    root = str(tmp_path / "store")
    docs = _docs(spark)
    b0 = docs.filter(F.col("doc_id") < 100)
    dedup_ingest_batch(b0, root, "doc_id", "text", 0)
    os.remove(os.path.join(root, "fps", "batch=0", "_SUCCESS"))
    assert read_fingerprints(spark, root).isEmpty()
    dedup_ingest_batch(b0, root, "doc_id", "text", 0)  # replay
    assert read_fingerprints(spark, root).count() == read_corpus(
        spark, root
    ).count()


def test_commits_json_is_flipped_atomically(tmp_path):
    """The marker write goes through a tmp file + os.replace — at no
    point is a half-written marker the live one."""
    broker = str(tmp_path / "broker")
    w = _LoopbackStreamWriter(broker, "t", 1)
    w.commit(_rows(w, ["a"]), batchId=0)
    p = os.path.join(broker, "t", "_commits.json")
    with open(p) as fh:
        state = json.load(fh)
    assert state["batches"] == [0]
    assert set(state["ends"]) == {"0"}
    assert not os.path.exists(p + ".tmp")


class _CrashMidApply(_LoopbackStreamWriter):
    """Dies after appending only PART of the batch (first partition
    written, second not) — the torn multi-partition append."""

    def _apply(self, messages):
        torn = [
            type(messages[0])(rows=messages[0].rows[: len(messages[0].rows) // 2])
        ]
        super()._apply(torn)
        raise RuntimeError("injected crash mid-append")


class _CrashAfterFence(_LoopbackStreamWriter):
    """Dies after the fence, before any append — replay must still
    deliver the batch exactly once."""

    def _fence(self, ends):
        super()._fence(ends)
        raise RuntimeError("injected crash after fence")


def test_kafka_sink_crash_mid_append_partial_batch_fenced(spark, tmp_path):
    broker = str(tmp_path / "broker")
    w0 = _LoopbackStreamWriter(broker, "t", 2)
    w0.commit(
        [w0.write([Row(value="a", partition=0), Row(value="b", partition=1)])],
        batchId=0,
    )
    crasher = _CrashMidApply(broker, "t", 2)
    rows = [
        Row(value="c", partition=0),
        Row(value="d", partition=1),
        Row(value="e", partition=0),
        Row(value="f", partition=1),
    ]
    with pytest.raises(RuntimeError):
        crasher.commit([crasher.write(rows)], batchId=1)
    # torn: only part of batch 1 visible
    assert len(_topic_values(spark, broker, "t")) < 6
    w1 = _LoopbackStreamWriter(broker, "t", 2)
    w1.commit([w1.write(rows)], batchId=1)
    assert _topic_values(spark, broker, "t") == ["a", "b", "c", "d", "e", "f"]


def test_kafka_sink_crash_after_fence_before_append(spark, tmp_path):
    broker = str(tmp_path / "broker")
    w0 = _LoopbackStreamWriter(broker, "t", 1)
    w0.commit(_rows(w0, ["a"]), batchId=0)
    crasher = _CrashAfterFence(broker, "t", 1)
    with pytest.raises(RuntimeError):
        crasher.commit(_rows(crasher, ["b"]), batchId=1)
    assert _topic_values(spark, broker, "t") == ["a"]  # nothing appended
    w1 = _LoopbackStreamWriter(broker, "t", 1)
    w1.commit(_rows(w1, ["b"]), batchId=1)
    assert _topic_values(spark, broker, "t") == ["a", "b"]


# ---------------------------------------------------------------------------
# SCD2 history store: staged write → renames → manifest flip
# ---------------------------------------------------------------------------


def test_scd2_commit_crash_before_flip_replays_once(spark, tmp_path, monkeypatch):
    """Kill Scd2Store.commit right after its staged write (before any
    rename), then midway through the renames. Each time the previous
    manifest serves the same rows, a replay of the same batch id
    commits exactly once, and no staging directory survives."""
    hist = str(tmp_path / "hist")
    store = Scd2Store(hist, key_col="ProductID", n_buckets=4)
    schema = "ProductID INT, v STRING, is_current STRING"
    current = {k: f"v{k}" for k in range(1, 5)}
    closed_all: list[tuple] = []

    def frames(closed):
        return (
            spark.createDataFrame([(k, v, "Y") for k, v in current.items()], schema),
            spark.createDataFrame(closed, schema),
        )

    def expected():
        return sorted(closed_all + [(k, v, "Y") for k, v in current.items()])

    def stored():
        return sorted(map(tuple, store.read_all(spark).collect()))

    store.commit(*frames([]), batch_id=0)
    real_rename = os.rename
    for batch_id, renames_before_crash in ((1, 0), (2, 1)):
        before, seq = expected(), store.manifest()["seq"]
        assert stored() == before
        closed = [(batch_id, current[batch_id], "N")]
        current[batch_id] += "+"
        done: list[str] = []

        def crashing_rename(src, dst):
            if len(done) == renames_before_crash:
                raise RuntimeError("injected crash in commit")
            real_rename(src, dst)
            done.append(dst)

        monkeypatch.setattr(os, "rename", crashing_rename)
        with pytest.raises(RuntimeError, match="injected crash"):
            store.commit(*frames(closed), batch_id=batch_id)
        monkeypatch.undo()
        assert len(done) == renames_before_crash
        assert os.path.isdir(os.path.join(hist, "_staging", f"batch={batch_id}"))
        assert store.manifest()["seq"] == seq
        assert stored() == before

        store.commit(*frames(closed), batch_id=batch_id)  # replay
        closed_all.extend(closed)
        m = store.manifest()
        assert (m["version"], m["seq"]) == (batch_id, seq + 1)
        assert m["closed_batches"].count(batch_id) == 1
        assert stored() == expected()
        assert not os.path.exists(os.path.join(hist, "_staging"))
