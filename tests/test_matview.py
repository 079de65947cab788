"""StateSink (incremental materialized view): merge algebra + exactly-once.

foreachBatch is at-least-once — a batch can be re-delivered with the same
batch_id after a failure. The sink must be idempotent on batch_id or the
state double-counts. These tests drive the sink directly (no stream) so
the retry path is deterministic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.streaming.matview import StateSink
from tests.conftest import SF_DIR


def _events(spark):
    return load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "event_type", "value"
    )


def _readout_rows(sink):
    return sorted(tuple(r) for r in sink.readout().collect())


def test_redelivered_batch_is_skipped(spark, tmp_path):
    events = _events(spark)
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    sink = StateSink(spark, str(tmp_path / "state"))
    sink.apply(half1, 0)
    sink.apply(half2, 1)
    once = _readout_rows(sink)
    # retry storm: both batches re-delivered, out of order
    sink.apply(half2, 1)
    sink.apply(half1, 0)
    sink.apply(half1, 0)
    assert _readout_rows(sink) == once


def test_crash_before_pointer_flip_is_exactly_once(spark, tmp_path):
    """Simulate a crash BETWEEN writing the new generation and publishing
    it: the un-flipped generation must be invisible (old state intact, old
    manifest without the batch), and the redelivery must merge the batch
    exactly once — the non-atomic two-file scheme double-counted here."""
    import os

    events = _events(spark)
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    sink = StateSink(spark, str(tmp_path / "state"))
    sink.apply(half1, 0)
    after_b0 = _readout_rows(sink)

    # crash injection: run apply(half2, 1) but die right before os.replace
    real_replace = os.replace

    def boom(src, dst):
        raise RuntimeError("simulated crash before commit")

    os.replace = boom
    try:
        try:
            sink.apply(half2, 1)
            assert False, "crash injection did not fire"
        except RuntimeError:
            pass
    finally:
        os.replace = real_replace

    # uncommitted: readout still shows only batch 0
    assert _readout_rows(sink) == after_b0
    # redelivery (fresh sink instance = fresh driver) applies it once
    sink2 = StateSink(spark, str(tmp_path / "state"))
    sink2.apply(half2, 1)
    once = _readout_rows(sink2)
    sink2.apply(half2, 1)  # and a further retry stays a no-op
    assert _readout_rows(sink2) == once

    # ground truth: a sink that saw each batch exactly once
    clean = StateSink(spark, str(tmp_path / "clean"))
    clean.apply(half1, 0)
    clean.apply(half2, 1)
    assert once == _readout_rows(clean)


import itertools

import pytest


@pytest.mark.parametrize(
    "pattern", list(itertools.product((False, True), repeat=3))
)
def test_state_sink_exactly_once_any_crash_pattern(spark, tmp_path, pattern):
    """Exhaustive over crash placement: for every combination of
    'crash before the pointer flip' across three batches, redelivery
    must converge to the clean one-apply-each ground truth — the commit
    protocol has no crash-position-dependent hole."""
    import os

    events = _events(spark)
    batches = [
        events.filter(F.col("event_id") % 3 == i) for i in range(3)
    ]
    sink = StateSink(spark, str(tmp_path / "state"))
    real_replace = os.replace

    def boom(src, dst):
        raise RuntimeError("simulated crash before commit")

    for i, (batch, crash) in enumerate(zip(batches, pattern)):
        if crash:
            os.replace = boom
            try:
                with pytest.raises(RuntimeError):
                    sink.apply(batch, i)
            finally:
                os.replace = real_replace
            # redelivery after restart (fresh sink instance)
            sink = StateSink(spark, str(tmp_path / "state"))
        sink.apply(batch, i)
        sink.apply(batch, i)  # and a spurious same-epoch retry

    clean = StateSink(spark, str(tmp_path / "clean"))
    for i, batch in enumerate(batches):
        clean.apply(batch, i)
    assert _readout_rows(sink) == _readout_rows(clean)


def test_batch_slicing_invisible_in_state(spark, tmp_path):
    events = _events(spark)
    # one big batch vs three uneven batches must converge identically
    sink_a = StateSink(spark, str(tmp_path / "a"))
    sink_a.apply(events, 0)
    sink_b = StateSink(spark, str(tmp_path / "b"))
    sink_b.apply(events.filter(F.col("event_id") % 3 == 0), 0)
    sink_b.apply(events.filter(F.col("event_id") % 3 == 1), 1)
    sink_b.apply(events.filter(F.col("event_id") % 3 == 2), 2)
    assert _readout_rows(sink_a) == _readout_rows(sink_b)


def _unpublished_generation(sink, batch, batch_id, manifest):
    """Write the generation apply(batch, batch_id) would publish into the
    state table's next gen-N directory WITHOUT flipping its pointer — the
    aftermath of a crash inside the commit. With `manifest`, gen-N also
    holds a complete commit record claiming the batch."""
    import json
    import os

    from mysql_to_clickhouse_sync_spark.sinks.merge import _MANIFEST
    from mysql_to_clickhouse_sync_spark.streaming.cdc import as_state
    from mysql_to_clickhouse_sync_spark.streaming.matview import (
        _partial_states,
        merge_states,
    )

    t = sink.table
    cur = t.current_version()
    merged = merge_states(t.read().drop("vb"), _partial_states(batch))
    gen = t._gen_dir(cur + 1)
    as_state(merged.withColumn("vb", F.lit(batch_id))).write.parquet(gen)
    if manifest:
        record = {
            **t.manifest(cur),
            "version": cur + 1,
            "parent": cur,
            "last_batch": batch_id,
        }
        with open(os.path.join(gen, _MANIFEST), "w") as fh:
            json.dump(record, fh)
    return gen


def test_torn_generation_without_manifest_is_garbage(spark, tmp_path):
    """Crash window A: die AFTER the merged state parquet
    lands in the next generation directory but BEFORE its manifest is
    written. The torn generation must be invisible to readers (pointer
    still old), and redelivery must clear the garbage dir and converge
    exactly once."""
    import os

    from mysql_to_clickhouse_sync_spark.sinks.merge import _MANIFEST

    events = _events(spark)
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    state = str(tmp_path / "state")
    sink = StateSink(spark, state)
    sink.apply(half1, 0)
    after_b0 = _readout_rows(sink)

    torn = _unpublished_generation(sink, half2, 1, manifest=False)
    assert not os.path.exists(os.path.join(torn, _MANIFEST))

    # reader: still the committed batch-0 state, torn gen invisible
    sink_r = StateSink(spark, state)
    assert _readout_rows(sink_r) == after_b0
    assert sink_r.table.versions() == [0]
    # redelivery overwrites the garbage and commits exactly once
    sink_r.apply(half2, 1)
    clean = StateSink(spark, str(tmp_path / "clean"))
    clean.apply(half1, 0)
    clean.apply(half2, 1)
    assert _readout_rows(sink_r) == _readout_rows(clean)


def test_complete_unpublished_generation_is_not_believed(spark, tmp_path):
    """Crash window B: die AFTER the new generation is complete (data AND
    a manifest claiming the batch) but BEFORE the pointer flip. That
    manifest MUST NOT make redelivery skip the batch — only the
    pointed-to version's watermark counts; a sink that globbed manifests
    would drop the batch here (loss, the dual of the double-count)."""
    events = _events(spark)
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    state = str(tmp_path / "state")
    sink = StateSink(spark, state)
    sink.apply(half1, 0)
    _unpublished_generation(sink, half2, 1, manifest=True)
    # pointer untouched: batch 1 is NOT committed

    sink_r = StateSink(spark, state)
    assert sink_r.table.last_batch() == 0
    sink_r.apply(half2, 1)  # must merge (from the OLD state), not skip
    clean = StateSink(spark, str(tmp_path / "clean"))
    clean.apply(half1, 0)
    clean.apply(half2, 1)
    assert _readout_rows(sink_r) == _readout_rows(clean)
    # and a further redelivery after the real commit is a no-op
    sink_r.apply(half2, 1)
    assert _readout_rows(sink_r) == _readout_rows(clean)


def test_mv_delta_sink_redelivery_and_partial_crash(spark, tmp_path):
    """MvDeltaSink commits state and view as two independent exactly-once
    LakeTables. Re-delivered batches must be no-ops, and a crash BETWEEN
    the state commit and the view commit must heal on redelivery (state
    skips, view folds) — the torn-commit path the class docstring argues
    is safe."""
    from mysql_to_clickhouse_sync_spark.streaming.matview import (
        MvDeltaSink,
        mv_stream_batches,
    )

    batches = [b.localCheckpoint(eager=True) for b in mv_stream_batches(spark, SF_DIR)]
    ref = MvDeltaSink(spark, str(tmp_path / "ref"))
    for i, b in enumerate(batches):
        ref.apply(b, i)
    expect = sorted(tuple(r) for r in ref.readout().collect())

    # retry storm: every batch delivered twice
    s2 = MvDeltaSink(spark, str(tmp_path / "retry"))
    for i, b in enumerate(batches):
        s2.apply(b, i)
        s2.apply(b, i)
    assert sorted(tuple(r) for r in s2.readout().collect()) == expect

    # torn commit: state lands, view commit dies; redelivery heals
    s3 = MvDeltaSink(spark, str(tmp_path / "torn"))
    s3.apply(batches[0], 0)
    s3.state.merge(batches[1], batch_id=1)  # the crash: view never saw b1
    s3.apply(batches[1], 1)  # redelivery: state skips, view folds
    s3.apply(batches[2], 2)
    assert sorted(tuple(r) for r in s3.readout().collect()) == expect


def test_mv_delta_torn_member_commit_is_unobservable(spark, tmp_path):
    """Round 10: MvDeltaSink publishes each batch through ONE
    LakeTableGroup pointer flip. A crash after the state member commit
    (and even after the view member commit) but BEFORE the flip must
    leave group-resolved readers on the previous consistent vector for
    BOTH tables — no torn state observable — and redelivery publishes
    exactly once."""
    from mysql_to_clickhouse_sync_spark.streaming.matview import (
        MvDeltaSink,
        mv_stream_batches,
    )

    batches = [
        b.localCheckpoint(eager=True)
        for b in mv_stream_batches(spark, SF_DIR)
    ]
    sink = MvDeltaSink(spark, str(tmp_path / "g"))
    sink.apply(batches[0], 0)
    pre_view = sorted(tuple(r) for r in sink.readout().collect())
    pre_state = sink.group.read("state").count()

    # crash window A: state member committed, view + flip never ran
    sink.state.merge(batches[1], batch_id=1)
    assert sorted(tuple(r) for r in sink.readout().collect()) == pre_view
    assert sink.group.read("state").count() == pre_state
    assert sink.group.last_batch() == 0

    # redelivery heals through the normal path; then batch 2 lands and
    # crash window B fires: BOTH members committed, flip never ran
    sink.apply(batches[1], 1)
    mid_view = sorted(tuple(r) for r in sink.readout().collect())
    mid_state = sink.group.read("state").count()
    sink.state.merge(batches[2], batch_id=2)
    # (simulate the view commit of a crashed attempt too: group reads
    # must STILL serve the old vector)
    assert sink.group.last_batch() == 1
    assert sorted(tuple(r) for r in sink.readout().collect()) == mid_view
    assert sink.group.read("state").count() == mid_state

    sink.apply(batches[2], 2)
    ref = MvDeltaSink(spark, str(tmp_path / "ref"))
    for i, b in enumerate(batches):
        ref.apply(b, i)
    assert sorted(tuple(r) for r in sink.readout().collect()) == sorted(
        tuple(r) for r in ref.readout().collect()
    )
