"""End-to-end smoke of the sync pipeline (the reference's actual job) and
the JDBC source's plan-shape helpers."""

from __future__ import annotations

import json

from mysql_to_clickhouse_sync_spark.sources.jdbc import (
    filter_tables,
    jdbc_bounds_query,
    jdbc_read_options,
)
from mysql_to_clickhouse_sync_spark.sync import snapshot_sync
from tests.conftest import SF_DIR


def test_snapshot_sync_roundtrip(spark, tmp_path):
    out = str(tmp_path / "sync_out")
    manifest = snapshot_sync(
        spark, SF_DIR, out, include="^(region|nation|orders)$"
    )
    tables = {t["table"]: t for t in manifest["tables"]}
    assert set(tables) == {"region", "nation", "orders"}
    assert tables["orders"]["rows"] == 1500
    assert tables["orders"]["min_id"] == 0 or tables["orders"]["min_id"] > 0
    # Round-trip: written parquet re-reads with identical counts.
    for name, entry in tables.items():
        assert spark.read.parquet(entry["path"]).count() == entry["rows"]
    with open(f"{out}/manifest.json") as fh:
        assert json.load(fh)["batch_size"] == 1000


def test_pkless_table_syncs_with_sentinel(spark, tmp_path):
    """Reference P:200-211: a table with no auto-increment PK gets the
    (0,0) bounds sentinel and the offset-paged extract (P:130-142); it
    still syncs, and incremental_sync re-extracts it in full because
    there is no key to resume by."""
    import os

    from mysql_to_clickhouse_sync_spark.sync import incremental_sync

    # fixture source dir: one keyed table + one PK-less table
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.read.parquet(f"{SF_DIR}/region.parquet").write.parquet(
        f"{src}/region.parquet"
    )
    notes = spark.createDataFrame(
        [("alpha", "x"), ("beta", "y"), ("gamma", "x")], "note string, tag string"
    )
    notes.write.parquet(f"{src}/notes.parquet")

    out = str(tmp_path / "out")
    manifest = snapshot_sync(spark, src, out)
    tables = {t["table"]: t for t in manifest["tables"]}
    assert set(tables) == {"region", "notes"}
    assert tables["region"]["mode"] == "keyset"
    nt = tables["notes"]
    assert nt["mode"] == "offset"
    assert nt["rowid"] is None
    assert (nt["min_id"], nt["max_id"]) == (0, 0)  # the sentinel
    assert nt["rows"] == 3
    assert spark.read.parquet(nt["path"]).count() == 3

    # source grows; the PK-less table full-resyncs on the incremental pass
    spark.createDataFrame([("delta", "z")], "note string, tag string").write.mode(
        "append"
    ).parquet(f"{src}/notes.parquet")
    manifest2 = incremental_sync(spark, src, out)
    nt2 = {t["table"]: t for t in manifest2["tables"]}["notes"]
    assert nt2["rows"] == 4
    assert spark.read.parquet(nt2["path"]).count() == 4
    assert sorted(
        r.note for r in spark.read.parquet(nt2["path"]).collect()
    ) == ["alpha", "beta", "delta", "gamma"]


def test_filter_tables_matches_reference_semantics():
    # Reference: keep iff not exclude.search(n) and (no include or
    # include.search(n)) — unanchored (S:158-159).
    names = ["orders", "orders_archive", "lineitem", "tmp_orders"]
    assert filter_tables(names, include="orders") == [
        "orders",
        "orders_archive",
        "tmp_orders",
    ]
    assert filter_tables(names, include="orders", exclude="tmp") == [
        "orders",
        "orders_archive",
    ]
    assert filter_tables(names) == names
    assert filter_tables(names, exclude=".") == []


def test_jdbc_option_shape():
    q = jdbc_bounds_query("t1", "id")
    assert "COALESCE(MIN(id), 0)" in q and "COALESCE(MAX(id), 0)" in q
    opts = jdbc_read_options(
        "jdbc:mysql://h/db", "t1", "id", 0, 10_000_000, fetchsize=1000
    )
    # Partition count capped — a huge key range must not become millions of
    # queries (reference's 1000-row chunks don't transfer to JDBC partitioning).
    assert int(opts["numPartitions"]) <= 256
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "10000001"
    assert opts["fetchsize"] == "1000"


def test_jdbc_tiny_table_single_partition():
    opts = jdbc_read_options("jdbc:mysql://h/db", "t", "id", 5, 5)
    assert opts["numPartitions"] == "1"


def test_lake_mode_sync_is_versioned_and_time_travels(spark, tmp_path):
    """--lake landing: the snapshot is commit 0 of a LakeTable, an
    incremental delta is commit 1, time travel shows the pre-delta
    state, and the manifest tracks the lake version."""
    import os
    import shutil

    from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable
    from mysql_to_clickhouse_sync_spark.sync import (
        incremental_sync,
        snapshot_sync,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    # seed source: the region fixture (tiny, keyset via r_regionkey)
    shutil.copy(
        "/root/testdata/sf0.001/region.parquet", f"{src}/region.parquet"
    )
    m = snapshot_sync(spark, src, out, include="region", lake=True)
    entry = m["tables"][0]
    assert entry["lake_version"] == 0
    table = LakeTable(
        spark, entry["path"], keys=[entry["rowid"]],
        version_cols=[entry["rowid"]],
    )
    n0 = table.read().count()
    assert n0 == entry["rows"] > 0

    # grow the source beyond the recorded max and resume
    base = spark.read.parquet(f"{src}/region.parquet")
    rk = entry["rowid"]
    grown = base.union(
        base.selectExpr(f"{rk} + 1000 AS {rk}", *[
            c for c in base.columns if c != rk
        ]).select(*base.columns)
    )
    grown.write.mode("overwrite").parquet(f"{src}/region2.parquet")
    os.remove(f"{src}/region.parquet")
    shutil.move(f"{src}/region2.parquet", f"{src}/region.parquet")
    m2 = incremental_sync(spark, src, out)
    entry2 = [e for e in m2["tables"] if e["table"] == "region"][0]
    assert entry2["lake_version"] == 1
    assert entry2["last_delta_rows"] == n0
    # current version holds both halves; version 0 is the pure snapshot
    assert table.read().count() == 2 * n0
    assert table.read(version=0).count() == n0


def _copy_source(dst, names):
    import os
    import shutil

    os.makedirs(dst)
    for n in names:
        shutil.copy(f"{SF_DIR}/{n}.parquet", f"{dst}/{n}.parquet")
    return str(dst)


def test_concurrent_tables_keep_the_callers_job_group(spark, tmp_path):
    """The table-level pool runs each table's jobs on a worker thread; they
    must still carry the caller's job group (cancelJobGroup and per-group
    accounting depend on it)."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = [sc.getLocalProperty(k) for k in keys]
    group = "test-sync-pool-group"
    sc.setJobGroup(group, "snapshot_sync under a job group")
    try:
        manifest = snapshot_sync(
            spark, SF_DIR, str(tmp_path / "out"), include="^(region|nation|orders)$"
        )
    finally:
        for k, v in zip(keys, saved):
            sc.setLocalProperty(k, v)
    assert len(manifest["tables"]) == 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3


def test_manifest_order_independent_of_max_workers(spark, tmp_path):
    """The manifest lists tables in filtered discovery order whatever the
    pool width, and a one-worker pool produces the same entries."""
    from mysql_to_clickhouse_sync_spark.sync import discover_tables

    out = str(tmp_path / "out")
    exclude = "^(documents|embeddings)$"
    want = filter_tables(discover_tables(SF_DIR), None, exclude)
    entries = {}
    for workers in (10, 1):
        m = snapshot_sync(spark, SF_DIR, out, exclude=exclude, max_workers=workers)
        assert [t["table"] for t in m["tables"]] == want
        with open(f"{out}/manifest.json") as fh:
            on_disk = json.load(fh)
        assert on_disk["tables"] == m["tables"]
        entries[workers] = m["tables"]
    assert entries[10] == entries[1]


def test_failed_table_fails_the_sync_and_writes_no_manifest(spark, tmp_path):
    """A failed table fails the job under concurrency too: snapshot_sync
    raises and writes no manifest; incremental_sync raises and leaves the
    existing manifest as it was."""
    import os

    import pytest

    from mysql_to_clickhouse_sync_spark.sync import incremental_sync

    not_parquet = b"this is not a parquet file\n" * 64
    tables = ["region", "nation", "orders"]
    bad = _copy_source(tmp_path / "bad_src", tables)
    with open(f"{bad}/bad.parquet", "wb") as fh:
        fh.write(not_parquet)
    out_bad = str(tmp_path / "out_bad")
    with pytest.raises(Exception):
        snapshot_sync(spark, bad, out_bad)
    assert not os.path.exists(f"{out_bad}/manifest.json")

    src = _copy_source(tmp_path / "src", tables)
    out = str(tmp_path / "out")
    snapshot_sync(spark, src, out)
    with open(f"{out}/manifest.json", "rb") as fh:
        before = fh.read()
    os.remove(f"{src}/nation.parquet")  # the copy is read-only
    with open(f"{src}/nation.parquet", "wb") as fh:
        fh.write(not_parquet)
    with pytest.raises(Exception):
        incremental_sync(spark, src, out)
    with open(f"{out}/manifest.json", "rb") as fh:
        assert fh.read() == before
