"""LakeTable lakehouse-sink tests: time travel, snapshot isolation,
retention, exactly-once batch commits across crash windows (the
test_matview.py crash-injection style), and manifest-preserving
compaction."""

from __future__ import annotations

import datetime
import os

import pytest

from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable

LOG_SCHEMA = "k bigint, seq bigint, ts timestamp, v double, op string"


def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, minute)


def _log(spark, rows):
    return spark.createDataFrame(
        [(k, seq, _ts(seq), v, op) for k, seq, v, op in rows], LOG_SCHEMA
    )


def _state(table, version=None):
    return {r.k: r.v for r in table.read(version).collect()}


def _table(spark, tmp_path, **kw):
    return LakeTable(
        spark,
        str(tmp_path / "state"),
        keys=["k"],
        version_cols=["ts", "seq"],
        **kw,
    )


def test_time_travel_reads_every_commit(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert"), (2, 2, 2.0, "upsert")]))
    t.merge(_log(spark, [(1, 3, 9.0, "upsert"), (3, 4, 3.0, "upsert")]))
    t.merge(_log(spark, [(2, 5, 0.0, "delete")]))
    assert t.versions() == [0, 1, 2]
    assert _state(t, 0) == {1: 1.0, 2: 2.0}
    assert _state(t, 1) == {1: 9.0, 2: 2.0, 3: 3.0}
    assert _state(t, 2) == {1: 9.0, 3: 3.0}
    assert _state(t) == _state(t, 2)  # default read = current
    hist = t.history()
    assert [m["version"] for m in hist] == [0, 1, 2]
    assert [m["parent"] for m in hist] == [None, 0, 1]
    assert all(m["operation"] == "merge" for m in hist)
    # manifest row stats include the tombstone (footer-derived, no scan):
    # keys 1 and 3 live + key 2's delete tombstone = 3 stored rows
    assert hist[2]["rows"] == 3


def test_snapshot_isolation_pins_readers(spark, tmp_path):
    """A DataFrame handed out before a later merge keeps reading ITS
    generation — commits never mutate a published directory."""
    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]))
    pinned = t.read()  # resolves the pointer now, binds gen-000000
    t.merge(_log(spark, [(1, 2, 99.0, "upsert")]))
    assert {r.k: r.v for r in pinned.collect()} == {1: 1.0}
    assert _state(t) == {1: 99.0}


def test_retention_prunes_beyond_window(spark, tmp_path):
    import pytest

    t = _table(spark, tmp_path, retention=1)
    for seq in range(4):
        t.merge(_log(spark, [(1, seq + 1, float(seq), "upsert")]))
    assert t.current_version() == 3
    assert t.versions() == [2, 3]  # current + 1 superseded
    on_disk = sorted(
        d for d in os.listdir(t.path) if d.startswith("gen-")
    )
    assert on_disk == ["gen-000002", "gen-000003"]
    with pytest.raises(ValueError, match="not retained"):
        t.read(version=0)


def test_redelivered_batch_is_skipped(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]), batch_id=0)
    t.merge(_log(spark, [(2, 2, 2.0, "upsert")]), batch_id=1)
    once = _state(t)
    # retry storm: both batches re-delivered, out of order
    t.merge(_log(spark, [(2, 2, 2.0, "upsert")]), batch_id=1)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]), batch_id=0)
    assert _state(t) == once
    assert t.current_version() == 1  # skips committed nothing
    assert t.last_batch() == 1


def test_crash_before_pointer_flip_is_exactly_once(spark, tmp_path):
    """Crash BETWEEN writing the new generation (data + manifest) and the
    pointer flip: the un-flipped generation must be invisible (state,
    versions, and watermark all unchanged), and redelivery through a
    fresh LakeTable (fresh driver) must merge the batch exactly once."""
    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]), batch_id=0)

    real_replace = os.replace

    def boom(src, dst):
        raise RuntimeError("simulated crash before commit")

    os.replace = boom
    try:
        try:
            t.merge(_log(spark, [(2, 2, 2.0, "upsert")]), batch_id=1)
            assert False, "crash injection did not fire"
        except RuntimeError:
            pass
    finally:
        os.replace = real_replace

    # uncommitted: every read surface still shows only batch 0
    assert t.current_version() == 0
    assert t.versions() == [0]
    assert t.last_batch() == 0
    assert _state(t) == {1: 1.0}

    # redelivery on a fresh instance applies the batch exactly once
    t2 = _table(spark, tmp_path)
    t2.merge(_log(spark, [(2, 2, 2.0, "upsert")]), batch_id=1)
    assert _state(t2) == {1: 1.0, 2: 2.0}
    assert t2.current_version() == 1
    t2.merge(_log(spark, [(2, 2, 2.0, "upsert")]), batch_id=1)  # retry no-op
    assert t2.current_version() == 1


def test_tombstone_survives_time_travel_window(spark, tmp_path):
    """An out-of-order OLDER upsert in a later commit must not revive a
    deleted key — and the pre-delete version must still show it."""
    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 5, 5.0, "upsert")]))
    t.merge(_log(spark, [(1, 8, 0.0, "delete")]))
    t.merge(_log(spark, [(1, 3, 3.0, "upsert")]))  # older than the delete
    assert _state(t, 0) == {1: 5.0}
    assert _state(t, 1) == {}
    assert _state(t, 2) == {}  # tombstone won: key stays dead


def test_compact_preserves_state_lineage_and_watermark(spark, tmp_path):
    t = _table(spark, tmp_path)
    many = _log(
        spark, [(k, k + 1, float(k), "upsert") for k in range(20)]
    ).repartition(8)
    # AQE would coalesce this tiny merge to one file — hold it off so the
    # generation actually lands small-file-fragmented
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        t.merge(many, batch_id=7)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    gen0 = os.path.join(t.path, "gen-000000")
    n_before = len(
        [f for f in os.listdir(gen0) if f.endswith(".parquet")]
    )
    assert n_before > 1
    before = _state(t)
    v = t.compact()  # tiny table -> one target file
    assert v == 1
    assert _state(t) == before
    m = t.manifest(1)
    assert m["operation"] == "compact"
    assert m["compacted_from"] == 0
    assert m["last_batch"] == 7  # exactly-once watermark carried forward
    assert m["n_files"] == 1
    # a re-delivered batch 7 is still skipped after compaction
    t.merge(_log(spark, [(99, 1, 1.0, "upsert")]), batch_id=7)
    assert t.current_version() == 1
    # the pre-compaction version remains time-travel readable
    assert _state(t, 0) == before
    # compacting an already-compact table is a no-op commit-wise
    assert t.compact() == 1


def _btable(spark, tmp_path, **kw):
    return LakeTable(
        spark,
        str(tmp_path / "bstate"),
        keys=["k"],
        version_cols=["ts", "seq"],
        n_buckets=4,
        **kw,
    )


def test_bucketed_merge_matches_unbucketed(spark, tmp_path):
    """Bucketing is storage layout, never semantics: the same commit
    sequence must produce identical states at every version."""
    t = _table(spark, tmp_path)
    b = _btable(spark, tmp_path)
    batches = [
        [(1, 1, 1.0, "upsert"), (2, 2, 2.0, "upsert"), (7, 3, 7.0, "upsert")],
        [(1, 4, 9.0, "upsert"), (2, 5, 0.0, "delete")],
        [(9, 6, 3.0, "upsert"), (7, 7, 0.0, "delete")],
    ]
    for i, rows in enumerate(batches):
        t.merge(_log(spark, rows), batch_id=i)
        b.merge(_log(spark, rows), batch_id=i)
    for v in (0, 1, 2):
        assert _state(b, v) == _state(t, v), f"version {v} diverged"
    assert b.last_batch() == 2


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The pruned-rewrite contract: a changelog touching one key must
    rewrite only that key's hash bucket; every other bucket stays OWNED
    by the generation that last wrote it, and read() unions through the
    manifest references."""
    b = _btable(spark, tmp_path)
    seed = [(k, k + 1, float(k), "upsert") for k in range(12)]
    b.merge(_log(spark, seed), batch_id=0)
    m0 = b.manifest(0)
    owners0 = m0["buckets"]
    assert set(owners0.values()) == {"gen-000000"}
    n_buckets0 = len(owners0)
    assert n_buckets0 > 1  # 12 keys spread over >1 of 4 buckets

    # single-key update -> exactly one bucket rewritten
    b.merge(_log(spark, [(5, 45, 55.0, "upsert")]), batch_id=1)
    m1 = b.manifest(1)
    owners1 = m1["buckets"]
    moved = {k for k in owners1 if owners1[k] != owners0.get(k)}
    assert len(moved) == 1  # only key 5's bucket changed owner
    assert owners1[next(iter(moved))] == "gen-000001"
    # on disk, gen-000001 holds exactly that one bucket directory
    gen1 = str(tmp_path / "bstate" / "gen-000001")
    assert sorted(
        d for d in os.listdir(gen1) if d.startswith("bucket=")
    ) == [f"bucket={next(iter(moved))}"]
    # semantics intact across the reference union
    expect = {k: float(k) for k in range(12)}
    expect[5] = 55.0
    assert _state(b) == expect
    # time travel reads the pre-update bucket through the old owner
    assert _state(b, 0) == {k: float(k) for k in range(12)}


def test_bucketed_referenced_generation_survives_retention(spark, tmp_path):
    """A generation older than the retention window must survive while a
    retained manifest still references one of its buckets (Iceberg
    expire-snapshots rule)."""
    b = _btable(spark, tmp_path, retention=1)
    b.merge(_log(spark, [(k, k + 1, float(k), "upsert") for k in range(12)]))
    # three single-key updates to the SAME key: gen-0 keeps owning the
    # other buckets the whole time
    for i in range(3):
        b.merge(_log(spark, [(5, 50 + i, 50.0 + i, "upsert")]))
    assert b.current_version() == 3
    on_disk = sorted(d for d in os.listdir(b.path) if d.startswith("gen-"))
    # gen-0 referenced (untouched buckets) though v0 is beyond retention;
    # gen-1 unreferenced and out of window -> pruned
    assert "gen-000000" in on_disk
    assert "gen-000001" not in on_disk
    expect = {k: float(k) for k in range(12)}
    expect[5] = 52.0
    assert _state(b) == expect


def test_bucketed_compact_rewrites_only_fragmented_buckets(spark, tmp_path):
    b = _btable(spark, tmp_path)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        b.merge(
            _log(
                spark, [(k, k + 1, float(k), "upsert") for k in range(24)]
            ).repartition(6),
            batch_id=3,
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    before = _state(b)
    m0 = b.manifest(0)
    frag_buckets = [
        x
        for x in m0["buckets"]
        if len(
            [
                f
                for f in os.listdir(
                    os.path.join(b.path, "gen-000000", f"bucket={x}")
                )
                if f.endswith(".parquet")
            ]
        )
        > 1
    ]
    assert frag_buckets  # the repartition(6) write fragmented something
    v = b.compact()
    assert v == 1
    m1 = b.manifest(1)
    assert m1["operation"] == "compact"
    assert m1["last_batch"] == 3
    for x, owner in m1["buckets"].items():
        assert owner == ("gen-000001" if x in frag_buckets else "gen-000000")
    assert _state(b) == before
    # idempotent: nothing fragmented remains
    assert b.compact() == 1


def test_change_data_feed_classifies_all_transitions(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert"), (2, 2, 2.0, "upsert")]))
    t.merge(
        _log(
            spark,
            [
                (1, 3, 9.0, "upsert"),  # update key 1
                (2, 4, 0.0, "delete"),  # delete key 2
                (3, 5, 3.0, "upsert"),  # insert key 3
            ],
        )
    )
    # bootstrap commit: all-insert
    c0 = {(r._change_type, r.k, r.v) for r in t.changes(0).collect()}
    assert c0 == {("insert", 1, 1.0), ("insert", 2, 2.0)}
    c1 = {(r._change_type, r.k, r.v) for r in t.changes(1).collect()}
    assert c1 == {
        ("update_preimage", 1, 1.0),
        ("update_postimage", 1, 9.0),
        ("delete", 2, 2.0),
        ("insert", 3, 3.0),
    }
    assert {r._commit_version for r in t.changes(1).collect()} == {1}
    # an untouched-key commit yields an empty feed
    t.merge(_log(spark, [(1, 3, 9.0, "upsert")]))  # same winner re-sent
    assert t.changes(2).count() == 0


def test_lake_sink_stream_restart_resumes_exactly_once(spark, tmp_path):
    """A Structured Streaming query writing through LakeTable.writer()
    is stopped and RESTARTED on the same checkpoint: batch numbering
    continues, the manifest watermark keeps redelivered batches out,
    and the final table equals the one-shot batch merge."""
    import os

    from pyspark.sql import functions as F

    from mysql_to_clickhouse_sync_spark.catalog import load_table
    from tests.conftest import SF_DIR

    events = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "event_type", "value")
        .withColumn("op", F.lit("upsert"))
    )
    slices = [
        events.filter(F.col("event_id") % 2 == 0),
        events.filter(F.col("event_id") % 2 == 1),
    ]
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    table = LakeTable(
        spark,
        str(tmp_path / "state"),
        keys=["user_id"],
        version_cols=["ts", "event_id"],
    )

    def start():
        return (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .writeStream.foreachBatch(table.writer())
            .option("checkpointLocation", ckpt)
            .start()
        )

    slices[0].coalesce(1).write.mode("append").parquet(in_dir)
    q = start()
    q.processAllAvailable()
    q.stop()
    assert table.last_batch() == 0

    # restart on the same checkpoint with new input waiting
    slices[1].coalesce(1).write.mode("append").parquet(in_dir)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert table.last_batch() == 1
    assert table.current_version() == 1

    # converged state equals the one-shot batch merge of everything
    expect = {
        (r.user_id, r.event_id)
        for r in events.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.desc("ts"), F.desc("event_id"))
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    got = {(r.user_id, r.event_id) for r in table.read().collect()}
    assert got == expect


def test_range_cdf_collapses_intermediate_flipflops(spark, tmp_path):
    """changes(v, since=older) must be the NET diff: a key updated twice
    shows one pre/post pair, a key inserted-then-deleted shows nothing,
    and per-commit feeds still work unchanged."""
    import pytest

    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert"), (2, 2, 2.0, "upsert")]))
    t.merge(_log(spark, [(1, 3, 5.0, "upsert"), (3, 4, 3.0, "upsert")]))
    t.merge(_log(spark, [(1, 5, 9.0, "upsert"), (3, 6, 0.0, "delete")]))
    net = {
        (r._change_type, r.k, r.v)
        for r in t.changes(2, since=0).collect()
    }
    # key 1: net update 1.0 -> 9.0 (the 5.0 hop cancels); key 3:
    # inserted then deleted -> absent; key 2 untouched -> absent
    assert net == {
        ("update_preimage", 1, 1.0),
        ("update_postimage", 1, 9.0),
    }
    assert {r._commit_version for r in t.changes(2, since=0).collect()} == {2}
    with pytest.raises(ValueError, match="precede"):
        t.changes(1, since=1)
    with pytest.raises(ValueError, match="not a retained"):
        t.changes(2, since=99)


def test_clustered_compaction_sorts_by_key_and_commits(spark, tmp_path):
    t = _table(spark, tmp_path)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        t.merge(
            _log(
                spark,
                [(k, k + 1, float(k), "upsert") for k in range(40)],
            ).repartition(8),
            batch_id=0,
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    before = _state(t)
    v = t.compact(cluster_by=["k"])
    assert v == 1
    assert t.manifest(1)["clustered_by"] == ["k"]
    assert t.manifest(1)["last_batch"] == 0
    assert _state(t) == before
    # within every data file, keys are sorted (row-group pruning works)
    import os

    import pyarrow.parquet as pq

    gen = os.path.join(t.path, "gen-000001")
    for f in os.listdir(gen):
        if f.endswith(".parquet"):
            ks = pq.read_table(os.path.join(gen, f), columns=["k"])[
                "k"
            ].to_pylist()
            assert ks == sorted(ks)
    # bucketed tables refuse clustering
    import pytest

    b = _btable(spark, tmp_path)
    b.merge(_log(spark, [(1, 1, 1.0, "upsert")]))
    with pytest.raises(ValueError, match="unbucketed"):
        b.compact(cluster_by=["k"])


# -- round 7: optimistic concurrency, evolution, stats/skipping ----------


def test_concurrent_commit_conflict_loser_fails_cleanly(spark, tmp_path):
    """Two writers race from the same parent: the one whose publish runs
    second gets CommitConflictError, nothing it wrote is visible, and
    the winner's committed state is untouched (no last-write-wins on
    the pointer flip)."""
    import pytest

    from mysql_to_clickhouse_sync_spark.sinks.merge import (
        CommitConflictError,
    )

    t1 = _table(spark, tmp_path)
    t2 = _table(spark, tmp_path)
    t1.merge(_log(spark, [(1, 1, 1.0, "upsert")]))

    # writer 2 computes against version 0; writer 1 commits version 1
    # inside writer 2's write window (simulated via the write closure)
    winner = _log(spark, [(2, 2, 2.0, "upsert")])
    loser = _log(spark, [(3, 3, 3.0, "upsert")])

    def racing_write(p):
        t1.merge(winner)  # the competing commit lands mid-write
        loser.write.mode("overwrite").parquet(p)

    with pytest.raises(CommitConflictError):
        t2._commit(racing_write, {"operation": "merge"}, expected_parent=0)
    # winner's commit survives; loser's key never appears
    assert t1.current_version() == 1
    assert _state(t1) == {1: 1.0, 2: 2.0}
    # no stray committed generation beyond the winner's
    assert t1.versions() == [0, 1]
    # and the loser can retry cleanly against the new parent
    t2.merge(loser)
    assert _state(t2) == {1: 1.0, 2: 2.0, 3: 3.0}


def test_stale_writer_fails_before_writing(spark, tmp_path):
    import pytest

    from mysql_to_clickhouse_sync_spark.sinks.merge import (
        CommitConflictError,
    )

    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]))
    with pytest.raises(CommitConflictError):
        t._commit(
            lambda p: (_ for _ in ()).throw(AssertionError("must not write")),
            {"operation": "merge"},
            expected_parent=None,  # claims bootstrap, table is at v0
        )


def test_reader_survives_concurrent_compact(spark, tmp_path):
    """A reader bound to the version before a compaction keeps its files:
    the superseded generation follows the retention discipline instead of
    being deleted at publish."""
    t = _table(spark, tmp_path, retention=1)
    big = _log(
        spark, [(k, k % 60, float(k), "upsert") for k in range(1, 201)]
    ).repartition(8)
    t._commit(
        lambda p: big.write.parquet(p),
        {"operation": "merge", "last_batch": None},
        expected_parent=None,
    )
    old_gen = t.data_paths()[0]
    n_before = len(t.data_files())
    reader = t.read()  # binds to the pre-compaction generation
    new_v = t.compact(target_file_bytes=1 << 30)
    assert new_v == 1
    assert len(t.data_files()) < n_before
    # the pre-compaction snapshot is still fully readable
    assert reader.count() == 200
    assert os.path.isdir(old_gen)


def test_checkpoint_leaves_out_a_swept_version(spark, tmp_path, monkeypatch):
    """A version the directory walk lists but a competitor's retention
    prune sweeps before its manifest is read is no longer retained: the
    commit still succeeds, and its checkpoint neither lists the version
    nor invents a manifest for it."""
    import json

    from mysql_to_clickhouse_sync_spark.sinks.merge import _CHECKPOINT

    t = _table(spark, tmp_path, retention=0)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]), batch_id=0)
    t.merge(_log(spark, [(2, 2, 2.0, "upsert")]), batch_id=1)
    assert not os.path.exists(t._gen_dir(0))  # swept by retention
    real_scan = LakeTable._scan_versions
    monkeypatch.setattr(
        LakeTable, "_scan_versions", lambda self: [0] + real_scan(self)
    )
    assert t.merge(_log(spark, [(3, 3, 3.0, "upsert")]), batch_id=2).count() == 3
    with open(os.path.join(t.path, _CHECKPOINT)) as fh:
        ck = json.load(fh)
    assert ck["version"] == 2
    assert ck["versions"] == [2]
    assert set(ck["manifests"]) == {"2"}
    assert t.versions() == [2]


def test_schema_evolution_merge_nullfills_and_emits_ddl(spark, tmp_path):
    """A changelog that gained a column mid-stream merges via
    unionByName NULL-fill; the manifest bumps schema_version, records
    the new schema, and carries the ClickHouse ALTER twin; time travel
    returns each version under the schema it was written with."""
    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert"), (2, 2, 2.0, "upsert")]))
    evolved = spark.createDataFrame(
        [(1, 3, _ts(3), 9.0, "web", "upsert"), (3, 4, _ts(4), 3.0, "app", "upsert")],
        "k bigint, seq bigint, ts timestamp, v double, src string, op string",
    )
    out = t.merge(evolved)
    assert set(out.columns) == {"k", "seq", "ts", "v", "src"}
    rows = {r.k: (r.v, r.src) for r in out.collect()}
    # pre-drift winner (k=2) reads NULL in the added column
    assert rows == {1: (9.0, "web"), 2: (2.0, None), 3: (3.0, "app")}
    m0, m1 = t.manifest(0), t.manifest(1)
    assert m0["schema_version"] == 0 and m1["schema_version"] == 1
    assert ["src", "string"] in m1["schema"]
    assert all(n != "src" for n, _t in m0["schema"])
    ddl = m1["ddl"]
    assert len(ddl) == 1 and "ADD COLUMN IF NOT EXISTS" in ddl[0]
    assert "`src`" in ddl[0] and "Nullable(String)" in ddl[0]
    # time travel: version 0 keeps ITS schema (no src column)
    assert "src" not in t.read(version=0).columns
    assert "src" in t.read(version=1).columns
    # CDF across the evolution boundary null-fills the parent side
    feed = t.changes(1)
    kinds = {(r.k, r._change_type) for r in feed.collect()}
    assert (3, "insert") in kinds
    assert (1, "update_postimage") in kinds


def test_bucketed_merge_rejects_schema_drift(spark, tmp_path):
    import pytest

    t = _table(spark, tmp_path, n_buckets=4)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]))
    evolved = spark.createDataFrame(
        [(1, 3, _ts(3), 9.0, "web", "upsert")],
        "k bigint, seq bigint, ts timestamp, v double, src string, op string",
    )
    with pytest.raises(ValueError, match="unbucketed"):
        t.merge(evolved)


def test_cdf_moved_predicate_is_null_safe(spark, tmp_path):
    """A NULL version component must not classify a moved row as
    unchanged (the old != predicate evaluated to NULL and silently
    dropped the update pair)."""
    t = LakeTable(
        spark, str(tmp_path / "state"), keys=["k"], version_cols=["seq"]
    )
    mk = lambda seq, v: spark.createDataFrame(
        [(1, seq, v, "upsert")], "k bigint, seq bigint, v double, op string"
    )
    t.merge(mk(None, 1.0))
    t.merge(mk(7, 2.0))  # NULL -> 7: moved, must emit the update pair
    kinds = sorted(
        r._change_type for r in t.changes(1).collect()
    )
    assert kinds == ["update_postimage", "update_preimage"]


def test_file_stats_and_pruned_read(spark, tmp_path):
    """partition_files_by lays files out one-per-value; the manifest
    carries per-file min/max; read_pruned reads strictly fewer files
    for a selective predicate and still returns exactly the matching
    live rows (after the residual filter)."""
    t = LakeTable(
        spark,
        str(tmp_path / "state"),
        keys=["k"],
        version_cols=["ts", "seq"],
        partition_files_by="band",
    )
    rows = [(k, k, _ts(k % 60), float(k), k // 50, "upsert") for k in range(1, 301)]
    log = spark.createDataFrame(
        rows, "k bigint, seq bigint, ts timestamp, v double, band bigint, op string"
    )
    t.merge(log)
    m = t.manifest(0)
    fs = m["file_stats"]
    # one file per band value, each with k-range stats and the exact
    # partition-dir value for band
    assert len(fs) == 7  # bands 0..6 for k in 1..300
    for rel, st in fs.items():
        assert "band=" in rel
        assert "k" in st and "band" in st
        assert st["band"][0] == st["band"][1]
        # deterministic bytes: partition values first, then the numeric
        # columns in file schema order (ts and op carry no usable stats)
        assert list(st) == ["band", "k", "seq", "v"]
    df, total, nread = t.read_pruned("k", 120, 180)
    assert total == 7 and nread == 2  # bands 2 and 3 only
    got = sorted(
        r.k for r in df.filter("k BETWEEN 120 AND 180").collect()
    )
    assert got == list(range(120, 181))
    # unbounded read prunes nothing
    _df, tot2, nread2 = t.read_pruned("k")
    assert (tot2, nread2) == (7, 7)
    # a column without stats is conservatively unpruned
    _df, tot3, nread3 = t.read_pruned("nosuchcol", 0, 1)
    assert nread3 == tot3

    # a two-row-group file whose second row group is all-NULL in v: the
    # manifest keeps the non-NULL range (NULL never satisfies a range)
    # and the pruned read still returns every matching row
    t2 = _table(spark, tmp_path / "nullrg", retention=0)
    k = list(range(1, 101))
    _commit_pyarrow(
        t2,
        {"k": k, "seq": k, "v": [float(i) if i <= 50 else None for i in k]},
        row_group_size=50,
    )
    [(rel, st)] = t2.manifest(0)["file_stats"].items()
    assert st == {"k": [1, 100], "seq": [1, 100], "v": [1.0, 50.0]}
    df, total, nread = t2.read_pruned("v", 10, 20)
    assert (total, nread) == (1, 1)
    got = sorted(r.k for r in df.filter("v BETWEEN 10 AND 20").collect())
    assert got == list(range(10, 21))
    assert t2.read_pruned("v", 51, None)[1:] == (1, 0)
    assert t2.read().count() == 100


def _commit_pyarrow(table, cols, row_group_size, payload=None):
    """Commit one pyarrow-written file (row groups of `row_group_size`
    rows, every row an upsert) through the table's own commit path, or
    `payload` bytes as that file when given."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(stage):
        os.makedirs(stage)
        f = os.path.join(stage, "part-00000.parquet")
        if payload is not None:
            with open(f, "wb") as fh:
                fh.write(payload)
            return
        n = len(next(iter(cols.values())))
        t = pa.table({**cols, "op": ["upsert"] * n})
        pq.write_table(t, f, row_group_size=row_group_size)

    return table._commit(write, {"operation": "merge", "last_batch": None})


def test_unreadable_stage_footer_fails_the_commit(spark, tmp_path):
    """A stage file whose footer cannot be read fails the commit with an
    error naming the file; nothing is published and no stage is left."""
    t = _table(spark, tmp_path)
    with pytest.raises(RuntimeError, match=r"part-00000\.parquet"):
        _commit_pyarrow(t, {}, 1, payload=b"not a parquet file")
    assert t.current_version() is None
    assert not [n for n in os.listdir(t.path) if n.startswith("_stage-")]


def test_swept_file_footer_read_stays_a_stale_miss(spark, tmp_path):
    """A data file a competitor's retention sweep removed before its
    footer is read (inherited files at publish, dv row accounting)
    surfaces as a file miss: the retry and conflict guards classify it,
    so a lost race re-plans instead of crashing. A file that exists but
    cannot be read stays a RuntimeError naming it, which they do not."""
    from mysql_to_clickhouse_sync_spark.sinks.merge import (
        CommitConflictError,
        _footers,
        _is_stale_miss,
    )

    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]))
    t.merge(_log(spark, [(2, 2, 2.0, "upsert")]))
    swept = t.data_files(0)[0]
    os.remove(swept)
    for cols in (None, []):
        with pytest.raises(FileNotFoundError) as e:
            _footers([swept], cols)
        assert _is_stale_miss(e.value)
    # the table moved past the planned snapshot 0: a conflict, not a crash
    with pytest.raises(CommitConflictError):
        with t._conflict_on_sweep(0):
            t._footer_rows([swept])

    bad = str(tmp_path / "bad.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(RuntimeError, match=r"bad\.parquet") as e:
        with t._conflict_on_sweep(0):
            t._footer_rows([bad])
    assert not _is_stale_miss(e.value)


def test_lake_skipping_prunes_files_at_fixture_scale(spark):
    """The declared q_lake_skipping must actually SKIP files for its
    selective predicate (not just agree with the oracle about rows):
    at sf0.01 the band layout holds 15 files and the user_id 5..27
    range must open exactly 3 (bands 0-2)."""
    from mysql_to_clickhouse_sync_spark.operators.lakehouse import (
        q_lake_skipping,
    )

    row = q_lake_skipping(spark, "/root/testdata/sf0.01").select(
        "files_total", "files_read"
    ).first()
    assert row.files_total == 15
    assert row.files_read == 3


def test_vacuum_clears_stage_and_overshoot_debris(spark, tmp_path):
    """A writer that crashed mid-commit leaves a stage dir (died while
    writing) or an unpublished gen dir (died between rename and pointer
    flip); both are invisible to reads and vacuum() reclaims them
    without touching committed generations."""
    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]))
    stage = os.path.join(t.path, "_stage-gen-000001-deadbeef")
    os.makedirs(stage)
    overshoot = os.path.join(t.path, "gen-000005")
    os.makedirs(overshoot)
    assert t.versions() == [0]  # debris is invisible
    assert t.vacuum() == []  # young debris: a live writer's dir is safe
    removed = t.vacuum(min_age_s=0)
    assert sorted(os.path.basename(p) for p in removed) == [
        "_stage-gen-000001-deadbeef",
        "gen-000005",
    ]
    assert not os.path.exists(stage) and not os.path.exists(overshoot)
    assert _state(t) == {1: 1.0}  # committed state untouched


def test_zorder_skipping_prunes_on_both_dimensions(spark):
    """The z-ordered layout must let a 2-d box open strictly fewer
    files than the table holds — and fewer than either single
    predicate alone would explain away (multiplicative pruning)."""
    from mysql_to_clickhouse_sync_spark.operators.lakehouse import (
        q_lake_zorder_skipping,
    )

    row = q_lake_zorder_skipping(spark, "/root/testdata/sf0.01").select(
        "files_total", "files_read"
    ).first()
    assert row.files_read < row.files_total
    # the box is ~1/4 of each dimension: 2-d pruning should cut well
    # below half the files (1-d alone could not)
    assert row.files_read * 2 < row.files_total


# -- round 8: TOCTOU-safe publish (ADVICE merge.py:486) -------------------


def test_commit_never_clobbers_committed_competitor(spark, tmp_path, monkeypatch):
    """A competitor commits gen-N between this writer's pre-publish
    pointer check and its rename (the round-7 ADVICE TOCTOU). The old
    order — rmtree an existing gen-N, then rename — destroyed the
    competitor's COMMITTED generation with both writers reporting
    success; now the rename runs first and the failure is classified by
    re-reading the pointer."""
    import pytest

    from mysql_to_clickhouse_sync_spark.sinks import merge as merge_mod
    from mysql_to_clickhouse_sync_spark.sinks.merge import (
        CommitConflictError,
    )

    t1 = _table(spark, tmp_path)
    t2 = _table(spark, tmp_path)
    t1.merge(_log(spark, [(1, 1, 1.0, "upsert")]))
    winner = _log(spark, [(2, 2, 2.0, "upsert")])

    real_rename = os.rename
    fired = {}

    def racing_rename(src, dst):
        # the competitor's whole commit lands inside the window between
        # t2's pre-publish pointer check and this rename
        if dst.endswith("gen-000001") and not fired:
            fired["yes"] = True
            t1.merge(winner)
        return real_rename(src, dst)

    monkeypatch.setattr(merge_mod.os, "rename", racing_rename)
    with pytest.raises(CommitConflictError):
        t2.merge(_log(spark, [(3, 3, 3.0, "upsert")]))
    monkeypatch.undo()
    # the winner's committed generation is INTACT — never rmtree'd
    assert t1.current_version() == 1
    assert _state(t1) == {1: 1.0, 2: 2.0}
    assert t1.versions() == [0, 1]
    # and the loser retries cleanly against the new parent
    t2.merge(_log(spark, [(3, 3, 3.0, "upsert")]))
    assert _state(t2) == {1: 1.0, 2: 2.0, 3: 3.0}


def test_commit_detects_presumed_debris_clobber(spark, tmp_path, monkeypatch):
    """The narrowest residual race: this writer renamed gen-N, a racer
    re-read the pointer (still at the parent), declared gen-N crash
    debris, replaced it with its own commit, and both flipped the
    pointer. The commit_uuid verify makes the replaced writer raise
    instead of both silently reporting success."""
    import json as _json

    import pytest

    from mysql_to_clickhouse_sync_spark.sinks import merge as merge_mod
    from mysql_to_clickhouse_sync_spark.sinks.merge import (
        _MANIFEST,
        CommitConflictError,
    )

    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]))
    real_replace = os.replace

    def clobbering_replace(src, dst):
        real_replace(src, dst)
        if dst.endswith("_CURRENT"):
            # a racer swapped our published generation for its own
            mp = os.path.join(t.path, "gen-000001", _MANIFEST)
            with open(mp) as fh:
                m = _json.load(fh)
            m["commit_uuid"] = "racer-nonce"
            with open(mp, "w") as fh:
                _json.dump(m, fh)

    monkeypatch.setattr(merge_mod.os, "replace", clobbering_replace)
    with pytest.raises(CommitConflictError, match="replaced"):
        t.merge(_log(spark, [(2, 2, 2.0, "upsert")]))


def test_crash_debris_generation_cleared_on_rename(spark, tmp_path):
    """A non-empty gen-N the pointer never reached (writer died between
    rename and pointer flip) must not block the next commit: the rename
    fails, the pointer is still at the parent, so the debris is cleared
    and the rename retried."""
    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]))
    debris = t._gen_dir(1)
    os.makedirs(debris)
    with open(os.path.join(debris, "junk.txt"), "w") as fh:
        fh.write("crash debris")
    t.merge(_log(spark, [(2, 2, 2.0, "upsert")]))
    assert _state(t) == {1: 1.0, 2: 2.0}
    assert t.versions() == [0, 1]


def test_stream_writer_survives_concurrent_compaction(spark, tmp_path, monkeypatch):
    """Round-8 item 1: a compaction commit landing INSIDE a streaming
    micro-batch's merge window must not kill the micro-batch. The
    foreachBatch writer retries against the new parent; the final state
    is hash-equal to the serial execution (compact, then merge), and
    the exactly-once watermark survives the retry."""
    from mysql_to_clickhouse_sync_spark.sinks import merge as merge_mod

    t = _table(spark, tmp_path, retention=5)
    for i in range(3):
        t.merge(
            _log(spark, [(10 * i + j, i + 1, float(i), "upsert") for j in range(4)]),
            batch_id=i,
        )
    # serial twin: same history, compact THEN merge, no race
    ser = _table(spark, tmp_path / "serial", retention=5)
    for i in range(3):
        ser.merge(
            _log(spark, [(10 * i + j, i + 1, float(i), "upsert") for j in range(4)]),
            batch_id=i,
        )
    ser.compact(cluster_by=["k"])
    batch3 = [(5, 9, 9.0, "upsert"), (10, 9, 0.0, "delete")]
    ser.merge(_log(spark, batch3), batch_id=3)

    compactor = _table(spark, tmp_path, retention=5)
    fired = {}
    real_rename = os.rename

    def racing_rename(src, dst):
        # the compactor's whole commit lands inside the stream writer's
        # publish window (cluster_by always commits)
        if dst.endswith(t._gen_name(3)) and not fired:
            fired["yes"] = True
            compactor.compact(cluster_by=["k"])
        return real_rename(src, dst)

    monkeypatch.setattr(merge_mod.os, "rename", racing_rename)
    t.writer()(_log(spark, batch3), 3)  # the foreachBatch adapter itself
    monkeypatch.undo()
    assert fired, "the race never fired — test is vacuous"
    # the retry landed AFTER the compaction commit
    assert t.current_version() == 4
    assert t.manifest(3)["operation"] == "compact"
    assert t.manifest(4)["operation"] == "merge"
    assert t.manifest(4)["last_batch"] == 3
    # state hash-equal to the serial execution
    assert _state(t) == _state(ser)
    rows_t = sorted(map(tuple, t.raw().drop("bucket").collect()))
    rows_s = sorted(map(tuple, ser.raw().collect()))
    assert rows_t == rows_s
    # exactly-once across the retry: re-delivery of batch 3 is a no-op
    v = t.current_version()
    t.writer()(_log(spark, batch3), 3)
    assert t.current_version() == v


def test_merge_with_retry_is_bounded(spark, tmp_path, monkeypatch):
    """Perpetual conflicts surface as CommitConflictError after the
    retry budget, never a livelock."""
    import pytest

    from mysql_to_clickhouse_sync_spark.sinks.merge import (
        CommitConflictError,
    )

    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]), batch_id=0)
    calls = {"n": 0}
    real = t._commit

    def always_conflict(*a, **kw):
        calls["n"] += 1
        raise CommitConflictError("injected")

    monkeypatch.setattr(t, "_commit", always_conflict)
    with pytest.raises(CommitConflictError):
        t.merge_with_retry(
            _log(spark, [(2, 2, 2.0, "upsert")]), batch_id=1, max_retries=2
        )
    assert calls["n"] == 3  # initial attempt + 2 retries


def test_checkpoint_makes_read_resolution_o1_in_history(spark, tmp_path, monkeypatch):
    """Round-8 item 2: version resolution must not walk the table
    directory per read. At ~10^3 commits the read path (current ->
    versions -> manifest -> data_paths) does ZERO os.listdir calls —
    served entirely from the commit-log checkpoint — and the count does
    not grow with history."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_to_clickhouse_sync_spark.sinks import merge as merge_mod

    t = _table(spark, tmp_path)

    def commit_one(i: int) -> None:
        def write(stage: str) -> None:
            os.makedirs(stage, exist_ok=True)
            pq.write_table(
                pa.table({"k": [i], "v": [float(i)], "op": ["upsert"]}),
                os.path.join(stage, "part-0.parquet"),
            )

        t._commit(write, {"operation": "merge", "last_batch": i})

    def read_side() -> None:
        cur = t.current_version()
        assert t.versions()[-1] == cur
        assert t.manifest(cur)["last_batch"] == cur
        assert len(t.data_paths()) == 1

    real_listdir = os.listdir

    def count_listdirs() -> int:
        calls = {"n": 0}

        def counting(*a, **kw):
            calls["n"] += 1
            return real_listdir(*a, **kw)

        monkeypatch.setattr(merge_mod.os, "listdir", counting)
        read_side()
        monkeypatch.undo()
        return calls["n"]

    for i in range(100):
        commit_one(i)
    c_100 = count_listdirs()
    for i in range(100, 1000):
        commit_one(i)
    c_1000 = count_listdirs()
    assert t.current_version() == 999
    assert c_100 == c_1000 == 0
    # stale/missing checkpoint falls back to the walk and still resolves
    os.remove(os.path.join(t.path, "_CHECKPOINT.json"))
    read_side()


# -- round 8: deletion vectors (merge-on-read deletes) --------------------


def test_deletion_vectors_unbucketed_equal_to_rewrite(spark, tmp_path):
    """delete() must be row-identical to merge() of the same delete
    changelog, while writing only O(deleted keys) bytes and leaving the
    data files untouched until a fold event."""
    t = _table(spark, tmp_path)
    rows = [(k, 1, float(k), "upsert") for k in range(500)]
    t.merge(_log(spark, rows), batch_id=0)
    tw = _table(spark, tmp_path / "twin")
    tw.merge(_log(spark, rows), batch_id=0)

    dels = [(7, 2, 0.0, "delete"), (23, 2, 0.0, "delete")]
    t.delete(_log(spark, dels), batch_id=1)
    tw.merge(_log(spark, dels), batch_id=1)
    assert _state(t) == _state(tw)
    assert sorted(map(tuple, t.raw().collect())) == sorted(
        map(tuple, tw.raw().collect())
    )
    m = t.manifest(1)
    assert m["operation"] == "delete-vector"
    assert m["dv"] == ["gen-000001"]
    assert m["data_owner"] == "gen-000000"
    assert m["last_batch"] == 1
    # O(deleted keys) accounting: the dv commit wrote a fraction of the
    # data bytes the rewrite twin wrote
    assert m["commit_bytes"] < tw.manifest(1)["commit_bytes"]
    # data files untouched: gen-000001 holds ONLY the dv parquet
    from mysql_to_clickhouse_sync_spark.sinks.merge import _parquet_files

    dv_rows = spark.read.parquet(str(tmp_path / "state" / "gen-000001"))
    assert dv_rows.count() == 2
    assert set(_parquet_files(str(tmp_path / "state" / "gen-000000"))) == set(
        _parquet_files(t.data_paths(1)[0])
    )
    # time travel: version 0 still reads pre-delete
    assert len(_state(t, 0)) == 500


def test_deletion_vectors_accumulate_and_fold(spark, tmp_path):
    """Vectors stack across delete() calls, a tombstone beats an
    out-of-order OLDER upsert arriving after the fold, and merge()
    clears the dv list by rewriting with the vectors applied."""
    t = _table(spark, tmp_path)
    t.merge(
        _log(spark, [(k, 1, float(k), "upsert") for k in range(10)]),
        batch_id=0,
    )
    t.delete(_log(spark, [(3, 5, 0.0, "delete")]), batch_id=1)
    t.delete(_log(spark, [(4, 6, 0.0, "delete")]), batch_id=2)
    assert t.manifest(2)["dv"] == ["gen-000001", "gen-000002"]
    assert set(_state(t)) == set(range(10)) - {3, 4}
    # fold: a merge commits a vector-free generation, same live state
    t.merge(_log(spark, [(11, 7, 11.0, "upsert")]), batch_id=3)
    m = t.manifest(t.current_version())
    assert not m.get("dv") and not m.get("data_owner")
    assert set(_state(t)) == (set(range(10)) - {3, 4}) | {11}
    # an out-of-order OLDER upsert (seq 2 < the delete's seq 5) cannot
    # revive key 3: the folded tombstone still wins the version order
    t.merge(_log(spark, [(3, 2, 99.0, "upsert")]), batch_id=4)
    assert 3 not in _state(t)


def test_deletion_vectors_compact_folds(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(
        _log(spark, [(k, 1, float(k), "upsert") for k in range(20)]),
        batch_id=0,
    )
    t.delete(_log(spark, [(1, 2, 0.0, "delete")]), batch_id=1)
    before = _state(t)
    t.compact(cluster_by=["k"])
    m = t.manifest(t.current_version())
    assert not m.get("dv")
    assert m["operation"] == "compact"
    assert _state(t) == before
    # the folded rewrite persisted the tombstone physically
    assert {r.k for r in t.raw().filter("op = 'delete'").collect()} == {1}


def test_deletion_vectors_bucketed(spark, tmp_path):
    """Bucketed layout: the dv commit leaves every bucket owner in
    place; the next merge rewrites exactly the dv-touched buckets with
    the vector applied."""
    b = _btable(spark, tmp_path)
    b.merge(
        _log(spark, [(k, 1, float(k), "upsert") for k in range(16)]),
        batch_id=0,
    )
    owners0 = dict(b.manifest(0)["buckets"])
    b.delete(_log(spark, [(5, 2, 0.0, "delete")]), batch_id=1)
    m1 = b.manifest(1)
    assert m1["buckets"] == owners0  # ownership untouched
    assert m1["dv"] == ["gen-000001"]
    assert set(_state(b)) == set(range(16)) - {5}
    # fold via merge: only key-5's bucket (plus the new row's) rewrites
    b.merge(_log(spark, [(20, 3, 20.0, "upsert")]), batch_id=2)
    m2 = b.manifest(2)
    assert not m2.get("dv")
    assert set(_state(b)) == (set(range(16)) - {5}) | {20}
    rewritten = {
        bk for bk, o in m2["buckets"].items() if o == "gen-000002"
    }
    untouched = {
        bk for bk, o in m2["buckets"].items() if o == "gen-000000"
    }
    assert rewritten and untouched  # incremental, not a table rewrite
    # the tombstone landed in the rewritten bucket
    assert {r.k for r in b.raw().filter("op = 'delete'").collect()} == {5}


def test_deletion_vectors_read_pruned_applies_vector(spark, tmp_path):
    t = LakeTable(
        spark,
        str(tmp_path / "pstate"),
        keys=["k"],
        version_cols=["ts", "seq"],
        partition_files_by="k",
    )
    t.merge(
        _log(spark, [(k, 1, float(k), "upsert") for k in range(8)]),
        batch_id=0,
    )
    t.delete(_log(spark, [(2, 2, 0.0, "delete")]), batch_id=1)
    df, total, read = t.read_pruned("k", lo=0, hi=3)
    assert read < total  # pruning still works through the dv version
    assert {r.k for r in df.filter("k <= 3").collect()} == {0, 1, 3}


def test_deletion_vector_rejects_upserts_and_drift(spark, tmp_path):
    import pytest

    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]), batch_id=0)
    with pytest.raises(ValueError, match="op='delete'"):
        t.delete(_log(spark, [(2, 2, 2.0, "upsert")]))
    # exactly-once: re-delivered dv batch id is a no-op
    t.delete(_log(spark, [(1, 2, 0.0, "delete")]), batch_id=1)
    v = t.current_version()
    t.delete(_log(spark, [(1, 3, 0.0, "delete")]), batch_id=1)
    assert t.current_version() == v


def test_vacuum_clears_checkpoint_tmp_debris(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_log(spark, [(1, 1, 1.0, "upsert")]))
    tmp = os.path.join(t.path, "_CHECKPOINT.json.tmp")
    with open(tmp, "w") as fh:
        fh.write("{}")
    assert t.vacuum() == []  # young debris survives the age threshold
    removed = t.vacuum(min_age_s=0)
    assert tmp in removed and not os.path.exists(tmp)
    assert _state(t) == {1: 1.0}
