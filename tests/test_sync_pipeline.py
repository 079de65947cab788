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


def _agg(spark, path, rowid, above=None):
    """The Spark aggregate table_bounds falls back to (no path given)."""
    from mysql_to_clickhouse_sync_spark.sync import table_bounds

    return table_bounds(lambda: spark.read.parquet(path), rowid, above)


def test_footer_bounds_match_spark_aggregate(spark, tmp_path):
    """Footer bounds equal the Spark aggregate on every fixture table, with
    no cut and with cuts below the min, inside the range and at the max.
    One file straddles an inside cut, so table_bounds falls back there; a
    source split into two files at the cut is answered from footers."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mysql_to_clickhouse_sync_spark.catalog import ROWID
    from mysql_to_clickhouse_sync_spark.sync import (
        _load_any,
        _source_path,
        discover_tables,
        footer_bounds,
        table_bounds,
    )

    for name in discover_tables(SF_DIR):
        rowid, path = ROWID[name], _source_path(SF_DIR, name)
        df = _load_any(spark, SF_DIR, name)
        mn, mx, n = table_bounds(lambda: df, rowid)
        assert footer_bounds(path, rowid) == (mn, mx, n), name
        assert footer_bounds(path, None) == (0, 0, n), name
        for above in (mn - 1, mx):
            want = table_bounds(lambda: df, rowid, above)
            assert footer_bounds(path, rowid, above) == want, (name, above)
        mid = (mn + mx) // 2
        assert footer_bounds(path, rowid, mid) is None, name
        assert table_bounds(lambda: df, rowid, mid, path=path) == table_bounds(
            lambda: df, rowid, mid
        ), name

    orders = pq.read_table(_source_path(SF_DIR, "orders"))
    key = orders.column("o_orderkey")
    mid = (pc.min(key).as_py() + pc.max(key).as_py()) // 2
    split = tmp_path / "orders.parquet"
    split.mkdir()
    pq.write_table(orders.filter(pc.less_equal(key, mid)), split / "part-0.parquet")
    pq.write_table(orders.filter(pc.greater(key, mid)), split / "part-1.parquet")
    for above in (None, mid - 1, mid, mid + 1):
        got = footer_bounds(str(split), "o_orderkey", above)
        want = _agg(spark, str(split), "o_orderkey", above)
        if above == mid or above is None:
            assert got == want, above
        else:
            assert got is None, above  # one file straddles the cut
        assert table_bounds(
            lambda: spark.read.parquet(str(split)), "o_orderkey", above, path=str(split)
        ) == want


def test_footer_bounds_fallbacks_match_spark_aggregate(spark, tmp_path):
    """Footers that cannot answer fall back to the aggregate, and the
    cases footers do answer agree with it: stat-less files, a file that
    straddles the cut, all-NULL row groups and files, Spark's hidden
    _SUCCESS and .crc files, subdirectories, unreadable sources."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from mysql_to_clickhouse_sync_spark.sync import footer_bounds, table_bounds

    def check(path, above, footer_answers):
        got = footer_bounds(path, "id", above)
        want = _agg(spark, path, "id", above)
        assert (got == want) if footer_answers else (got is None), (path, above)
        load = lambda: spark.read.parquet(path)  # noqa: E731
        assert table_bounds(load, "id", above, path=path) == want, (path, above)

    def ids(*vals):
        return pa.table({"id": pa.array(vals, pa.int64()), "v": [str(x) for x in vals]})

    no_stats = str(tmp_path / "no_stats.parquet")
    pq.write_table(ids(3, 1, 2), no_stats, write_statistics=False)
    for above in (None, 0, 5):
        check(no_stats, above, footer_answers=False)

    straddle = tmp_path / "straddle.parquet"
    straddle.mkdir()
    pq.write_table(ids(1, 2, 3), straddle / "part-0.parquet")
    pq.write_table(ids(4, 9), straddle / "part-1.parquet")
    check(str(straddle), None, footer_answers=True)
    check(str(straddle), 3, footer_answers=True)
    check(str(straddle), 2, footer_answers=False)

    # row groups of 3: the first all NULL, the second holds keys and NULLs
    null_rg = str(tmp_path / "null_rg.parquet")
    pq.write_table(ids(None, None, None, 5, None, 7), null_rg, row_group_size=3)
    assert pq.read_metadata(null_rg).num_row_groups == 2
    for above in (None, 4, 7):
        check(null_rg, above, footer_answers=True)
    check(null_rg, 5, footer_answers=False)
    all_null = str(tmp_path / "all_null.parquet")
    pq.write_table(ids(None, None), all_null)
    for above in (None, 0):
        check(all_null, above, footer_answers=True)

    written = str(tmp_path / "written.parquet")
    spark.range(10, 60).write.parquet(written)
    names = os.listdir(written)
    assert "_SUCCESS" in names and any(f.endswith(".crc") for f in names)
    for above in (None, 9, 59):
        check(written, above, footer_answers=True)

    nested = tmp_path / "nested.parquet"
    (nested / "sub").mkdir(parents=True)
    pq.write_table(ids(1, 2), nested / "part-0.parquet")
    pq.write_table(ids(3), nested / "sub" / "part-0.parquet")
    assert footer_bounds(str(nested), "id") is None

    corrupt = tmp_path / "corrupt.parquet"
    corrupt.write_bytes(b"this is not a parquet file\n" * 64)
    load = lambda: spark.read.parquet(str(corrupt))  # noqa: E731
    for above in (None, 0):
        assert footer_bounds(str(corrupt), "id", above) is None
        with pytest.raises(Exception):
            table_bounds(load, "id", above, path=str(corrupt))
    assert footer_bounds(str(tmp_path / "missing.parquet"), "id") is None


def _group_jobs(spark, group, fn):
    """Run fn() under job group ``group``; return (result, #jobs it ran)."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in zip(keys, saved):
            sc.setLocalProperty(k, v)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_resume_runs_jobs_only_for_tables_that_grew(spark, tmp_path, monkeypatch):
    """An unchanged source resumes with no Spark job; a delta in one table
    runs that table's jobs only (as many as a manifest listing that table
    alone); a table under batch_size lands through a plan without an
    Exchange, a multi-chunk one keeps its range Exchange."""
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    from mysql_to_clickhouse_sync_spark.sync import incremental_sync

    plans = {}
    write = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        plan = self._df._jdf.queryExecution().executedPlan()
        plans[os.path.basename(path)] = plan.toString()
        return write(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    src, out = tmp_path / "src", str(tmp_path / "out")
    for n in ("region", "nation", "orders"):
        (src / f"{n}.parquet").mkdir(parents=True)
        shutil.copy(f"{SF_DIR}/{n}.parquet", src / f"{n}.parquet" / "part-0.parquet")
    m = snapshot_sync(spark, str(src), out)
    assert [t["chunks"] for t in m["tables"]] == [1, 2, 1]  # nation orders region
    assert "Exchange" not in plans["nation"] and "Exchange" not in plans["region"]
    assert "Exchange" in plans["orders"]

    def resume(group):
        return _group_jobs(spark, group, lambda: incremental_sync(spark, str(src), out))

    plans.clear()
    same, jobs = resume("resume-unchanged")
    assert jobs == 0 and not plans
    assert [t["last_delta_rows"] for t in same["tables"]] == [0, 0, 0]

    def grow(part):
        """10 new orders keyed past the source's max key, as file ``part``."""
        top = pc.max(pq.read_table(src / "orders.parquet").column("o_orderkey")).as_py()
        t = pq.read_table(f"{SF_DIR}/orders.parquet").slice(0, 10)
        new_keys = pc.add(t.column("o_orderkey"), top + 1)
        t = t.set_column(t.schema.get_field_index("o_orderkey"), "o_orderkey", new_keys)
        pq.write_table(t, src / "orders.parquet" / part)

    grow("part-1.parquet")
    grown, jobs_all = resume("resume-one")
    assert [t["last_delta_rows"] for t in grown["tables"]] == [0, 10, 0]
    assert jobs_all > 0 and list(plans) == ["orders"]
    assert "Exchange" not in plans["orders"]

    grow("part-2.parquet")
    with open(f"{out}/manifest.json") as fh:
        manifest = json.load(fh)
    manifest["tables"] = [t for t in manifest["tables"] if t["table"] == "orders"]
    with open(f"{out}/manifest.json", "w") as fh:
        json.dump(manifest, fh)
    alone, jobs_alone = resume("resume-alone")
    assert alone["tables"][0]["last_delta_rows"] == 10
    assert jobs_all == jobs_alone
    assert spark.read.parquet(f"{out}/orders").count() == 1520


def test_snapshot_runs_no_schema_inference_job(spark, tmp_path):
    """Every source schema comes from the footers (catalog.read_parquet):
    a 10-table snapshot runs its tables' range samples and writes only,
    at most 14 jobs where inference added one job per table."""
    out = str(tmp_path / "out")
    m, jobs = _group_jobs(
        spark, "snapshot-ten", lambda: snapshot_sync(spark, SF_DIR, out)
    )
    assert len(m["tables"]) == 10
    assert jobs <= 14, jobs
