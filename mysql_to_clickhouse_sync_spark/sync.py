"""The reference's end-to-end job, runnable: snapshot -> chunk-planned
extract -> normalize -> batched load + resume checkpoint.

Reference pipeline (mysql_to_clickhouse_sync.py main(), :123-222):
  1. consistent snapshot + binlog position to metadata.txt (:152-183)
  2. SHOW TABLES + regex include/exclude (:155-159)
  3. per-table IFNULL MIN/MAX bounds (:163)
  4. chunked extract, type-normalize, 1000-row batched INSERTs (:93-116)

Spark-first shape: the "snapshot" is the source catalog (parquet fixtures
locally; the chunk-partitioned JDBC source in sources/jdbc.py against a real
MySQL); the extract is a declarative per-table plan whose partitioning IS the
chunk plan; the sink is parquet locally (ClickHouse JDBC in production —
swap `write.parquet` for `write.format('jdbc')` options); the checkpoint is
a JSON manifest recording per-table bounds + row counts — the analog of
metadata.txt's binlog position, from which the streaming CDC phase
(streaming/cdc.py) resumes.

Bounds (step 3) come from parquet footers first (``table_bounds``): MySQL
answers the reference's MIN/MAX from the PK index without a scan, and the
footers' per-row-group min/max/null-count stats answer it here without a
Spark job. The Spark min/max/count aggregate remains the fallback wherever
footers cannot answer exactly: a path that is not a plain file listing, an
unreadable footer, missing or non-integer rowid stats, and on resume a file
that straddles the last max or lacks its null count (``footer_bounds``).
``sources/jdbc.jdbc_bounds_query`` is the JDBC-source twin of footer
bounds: against a real MySQL the bounds query is pushed down and served
from the PK index. A resume reads footers before it builds a DataFrame, so
a table with no new rows runs no Spark job at all; a table that lands as
one chunk is coalesced to one partition instead of range-shuffled.

Tables sync concurrently, as in the reference's table-level pool
(``max_workers``, default 10; S:192-199, S:237): a driver-side thread pool
of min(max_workers, #tables) threads dispatches one table each on the one
shared session, so each table's driver-side planning and scheduling
(range sample, shuffle, write) overlaps the other
tables' jobs. The sync is driver-bound, not executor-bound: on a 10-table
sf0.001 source on 4 cores, a sequential snapshot spent 1.9 s of 3.7 s with
only the driver busy; ten workers brought it to 1.7 s. ``max_workers=1``
runs the same pool one table at a time. Each table's jobs keep the
caller's job group and local properties. No table read infers its schema
with a Spark job: ``catalog.read_parquet`` takes it from the parquet
footers, as MySQL's catalog hands the reference its column types
(S:41-56).

Error policy deliberately diverges from the reference: it logs-and-continues,
returning [] on failed reads (S:48-50 — silent data loss). Here a failed
table fails the job: the first table to fail raises, tables not yet
started are cancelled, and no manifest is written. Spark's task retry
handles transient faults.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from functools import cache, partial
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import (
    ROWID,
    TABLES,
    load_table,
    read_parquet,
)
from mysql_to_clickhouse_sync_spark.durable import replace_file
from mysql_to_clickhouse_sync_spark.footers import column_stats, data_files
from mysql_to_clickhouse_sync_spark.sources.jdbc import filter_tables

DEFAULT_BATCH_SIZE = 1000  # reference --batch_size default (S:236)
DEFAULT_MAX_WORKERS = 10  # reference --max_workers default (S:237)
MAX_OUTPUT_PARTITIONS = 64


def footer_bounds(
    path: str, rowid: str | None, above: int | None = None
) -> tuple[int, int, int] | None:
    """``table_bounds`` answered from the parquet footers of the files at
    ``path`` (footers.column_stats), or None when they cannot answer it.

    Without ``above`` the count is the files' row total (``count(*)``:
    NULL keys count) and min/max merge the files' rowid stats. With
    ``above`` only rows whose rowid is > ``above`` count: a file whose
    min is > ``above`` contributes its rows minus its NULL keys, a file
    whose max is <= ``above`` (or whose keys are all NULL) contributes
    nothing. None — fall back to the Spark aggregate — when the file set
    is not a plain listing (``footers.data_files``), a footer cannot be
    read, a file lacks integer min/max stats for ``rowid``, or, with
    ``above``, a file straddles ``above`` or lacks its null count. An
    unreadable source thus still fails in Spark as before; it never reads
    as 0 rows. ``rowid=None`` (a PK-less table) counts rows only:
    (0, 0, count)."""
    files = data_files(path)
    if files is None:
        return None
    mn = mx = None
    n = 0
    for f in files:
        got = column_stats(f, [rowid] if rowid is not None else [])
        if got is None:
            return None
        rows, stats = got
        if rowid is None:
            n += rows
            continue
        if stats[rowid] is None:
            return None
        lo, hi, nulls = stats[rowid]
        if lo is not None and not isinstance(lo, int):
            return None
        if above is None:
            n += rows
        elif lo is None or hi <= above:
            continue
        elif lo > above and nulls is not None:
            n += rows - nulls
        else:
            return None
        if lo is not None:
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
    return mn or 0, mx or 0, n


def table_bounds(
    load: Callable[[], DataFrame],
    rowid: str | None,
    above: int | None = None,
    path: str | None = None,
) -> tuple[int, int, int]:
    """(min, max, count) of ``rowid`` over the rows whose rowid is >
    ``above`` (all rows when None), with the reference's IFNULL-0
    empty-table sentinel; ``rowid=None`` gives (0, 0, row count).

    Footer first: given the source ``path``, the answer comes from the
    parquet footers (``footer_bounds``) with no Spark job — the analog
    of MySQL serving MIN/MAX from the PK index. When footers cannot
    answer (see ``footer_bounds`` for the cases), or without ``path``,
    the Spark aggregate over ``load()`` answers: min/max/count(*), or
    ``count()`` without a rowid."""
    if path is not None:
        got = footer_bounds(path, rowid, above)
        if got is not None:
            return got
    df = load()
    if rowid is None:
        return 0, 0, df.count()
    if above is not None:
        df = df.filter(F.col(rowid) > above)
    row = df.agg(
        F.coalesce(F.min(rowid), F.lit(0)).alias("mn"),
        F.coalesce(F.max(rowid), F.lit(0)).alias("mx"),
        F.count("*").alias("n"),
    ).collect()[0]
    return int(row.mn), int(row.mx), int(row.n)


def _source_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _load_any(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Catalog tables go through load_table (NTZ normalization etc.);
    discovered tables outside the static catalog read directly — the
    analog of a SHOW TABLES hit the metadata query knows nothing about.
    Either way the schema comes from the footers (``read_parquet``)."""
    if name in TABLES:
        return load_table(spark, sf_dir, name)
    return read_parquet(spark, _source_path(sf_dir, name))


def _per_table(
    spark: SparkSession, fn: Callable, items: list, max_workers: int
) -> list:
    """``[fn(x) for x in items]`` on a pool of min(max_workers, len(items))
    driver threads; results come back in ``items`` order. The first call
    to fail raises, after the calls not yet started are cancelled and the
    running ones have finished.

    Each call is wrapped by its own ``inheritable_thread_target``, so it
    runs under a private copy of the caller's local properties (job group,
    scheduler pool, tags). A copy shared by all calls would be mutated by
    their concurrent SQL executions (``spark.sql.execution.id``)."""
    if max_workers < 1:
        raise ValueError(f"max_workers must be >= 1, got {max_workers}")
    pool = ThreadPoolExecutor(
        max_workers=min(max_workers, max(1, len(items))),
        thread_name_prefix="sync-table",
    )
    try:
        futures = [
            pool.submit(inheritable_thread_target(spark)(fn), x) for x in items
        ]
        for done in as_completed(futures):
            done.result()
        return [f.result() for f in futures]
    finally:
        pool.shutdown(wait=True, cancel_futures=True)


def discover_tables(sf_dir: str) -> list[str]:
    """SHOW TABLES analog (S:155-157): list the source's tables from the
    directory, not a hardcoded catalog — a fixture dir with extra tables
    syncs them too."""
    names = sorted(
        f[: -len(".parquet")]
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    return names


def _land(
    spark: SparkSession,
    df: DataFrame,
    rowid: str | None,
    n: int,
    batch_size: int,
    path: str,
    write_mode: str,
    lake: bool,
) -> tuple[int, int | None]:
    """Chunk-partition ``df`` (``n`` rows) and land it at ``path``: merged
    into the LakeTable there keyed on ``rowid`` if ``lake``, else written
    as parquet with ``write_mode``. Returns (chunks, lake version or None).

    Chunk plan -> physical partitioning: ceil(n/batch) ranges on the key
    (a hash spread without one), capped so a 100 TB table yields a sane
    task count (each partition then covers a wider stride — same plan,
    coarser granularity). A single chunk written as parquet is a narrow
    ``coalesce(1)``: one job, no Exchange."""
    n_chunks = max(1, min(MAX_OUTPUT_PARTITIONS, math.ceil(max(n, 1) / batch_size)))
    if n == 0:
        chunked = df
    elif n_chunks == 1 and not lake:
        chunked = df.coalesce(1)
    elif rowid is not None:
        chunked = df.repartitionByRange(n_chunks, F.col(rowid))
    else:
        chunked = df.repartition(n_chunks)
    if not lake:
        chunked.write.mode(write_mode).parquet(path)
        return n_chunks, None
    from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable
    from mysql_to_clickhouse_sync_spark.streaming.cdc import as_state

    table = LakeTable(spark, path, keys=[rowid], version_cols=[rowid])
    table.merge(as_state(chunked))
    return n_chunks, table.current_version()


def sync_table(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    name: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    lake: bool = False,
) -> dict:
    """Extract one table chunk-parallel and load it to the sink, returning
    its manifest entry (the resume-point metadata).

    Tables with an integer rowid get the keyset path: range bounds + key-
    range partitioning (the chunk plan, P:119-129). A table with NO
    auto-increment PK — absent from the ROWID map or missing the column —
    takes the reference's fallback (P:200-211): the (0,0) bounds sentinel
    and offset paging (P:130-142). Spark-first, that is a plain parallel
    scan hash-spread over ceil(n/batch) output chunks: MySQL's LIMIT
    paging without ORDER BY carries no row order contract anyway, and the
    scan needs no key to parallelize. Such tables cannot resume by key —
    incremental_sync re-extracts them in full (mode == "offset"). Bounds,
    and the row count of a PK-less table, come from ``table_bounds``:
    source footers first, a Spark aggregate or ``count()`` as fallback.

    ``lake=True`` lands keyset tables through the sinks/merge.py
    LakeTable instead of a plain parquet overwrite: the snapshot is
    commit 0 of a versioned table (atomic publish, manifest stats) and
    every later incremental delta is a MERGE commit — so the synced
    target gains time travel and crash-safe resume for free, the
    production landing zone the reference's TRUNCATE-and-recopy
    recovery lacks. The key-chunk output layout is traded for the
    merge's key-hash shuffle; offset-mode (PK-less) tables keep the
    plain overwrite (no key, no merge)."""
    rowid = ROWID.get(name)
    df = _load_any(spark, sf_dir, name)
    out_path = os.path.join(out_dir, name)
    if rowid is None or rowid not in df.columns:
        rowid = None  # bounds are then the reference's (0,0) sentinel
    mode = "offset" if rowid is None else "keyset"
    mn, mx, n = table_bounds(lambda: df, rowid, path=_source_path(sf_dir, name))

    n_chunks, lake_version = _land(
        spark, df, rowid, n, batch_size, out_path, "overwrite",
        lake=lake and mode == "keyset",
    )
    entry = {
        "table": name,
        "rowid": rowid,
        "mode": mode,
        "min_id": mn,
        "max_id": mx,
        "rows": n,
        "chunks": n_chunks,
        "path": out_path,
    }
    if lake_version is not None:
        entry["lake_version"] = lake_version
    return entry


def snapshot_sync(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    include: str | None = None,
    exclude: str | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    binlog_dir: str | None = None,
    lake: bool = False,
    max_workers: int = DEFAULT_MAX_WORKERS,
) -> dict:
    """Full-database sync: discover + filter tables, extract each, write the
    resume manifest (metadata.txt analog). Up to ``max_workers`` tables
    sync at once; the manifest lists them in discovery order.

    When ``binlog_dir`` is given (the changelog feed the CDC phase will
    tail), the manifest also records its end offset — the full
    (file, pos, gtid) triple the reference captures under the snapshot lock
    (S:175-181). The offset is captured BEFORE any table is extracted,
    mirroring the reference's ordering: events that land mid-extraction
    are then covered by the stream (idempotent replay into the latest-
    per-key merge), whereas a late capture would put them in neither
    snapshot nor stream — a permanent gap. Start the stream with
    ``.option("startingOffset", json.dumps(manifest["binlog_offset"]))``:
    file+pos is the fast resume, gtid survives a failover rename
    (sources/binlog_datasource._scan)."""
    binlog_offset = None
    if binlog_dir is not None:
        from mysql_to_clickhouse_sync_spark.sources.binlog_datasource import (
            current_offset,
        )

        binlog_offset = current_offset(binlog_dir)
    discovered = discover_tables(sf_dir) or list(TABLES)
    names = filter_tables(discovered, include, exclude)
    entries = _per_table(
        spark,
        lambda name: sync_table(spark, sf_dir, out_dir, name, batch_size, lake=lake),
        names,
        max_workers,
    )
    manifest = {
        # The reference stores the binlog position captured under the
        # snapshot lock (S:175-181), BEFORE the copy starts.
        "source": sf_dir,
        "completed_unix": int(time.time()),
        "batch_size": batch_size,
        "tables": entries,
    }
    if binlog_offset is not None:
        manifest["binlog_offset"] = binlog_offset
    os.makedirs(out_dir, exist_ok=True)
    replace_file(
        os.path.join(out_dir, "manifest.json"), json.dumps(manifest, indent=2)
    )
    return manifest


def _resume_table(
    spark: SparkSession, sf_dir: str, out_dir: str, entry: dict, batch_size: int
) -> dict:
    """One manifest entry's resume: append the rows beyond its max_id and
    return the advanced entry."""
    name, rowid, last_max = entry["table"], entry["rowid"], entry["max_id"]
    if entry.get("mode", "keyset") == "offset" or rowid is None:
        # PK-less table: no key to resume by (the reference's offset-
        # paged tables have the same property) — full re-extract.
        return sync_table(spark, sf_dir, out_dir, name, batch_size)
    # Bounds before the DataFrame: a table with no new rows costs footer
    # reads only. A footer fallback loads the frame once for both uses.
    load = cache(partial(_load_any, spark, sf_dir, name))
    _, mx, n = table_bounds(
        load, rowid, above=last_max, path=_source_path(sf_dir, name)
    )
    if n == 0:
        return {**entry, "last_delta_rows": 0}
    delta = load().filter(F.col(rowid) > last_max)
    _, lake_version = _land(
        spark, delta, rowid, n, batch_size, entry["path"], "append",
        lake="lake_version" in entry,
    )
    if lake_version is not None:
        entry = {**entry, "lake_version": lake_version}
    return {
        **entry,
        "max_id": mx,
        "rows": entry["rows"] + n,
        "last_delta_rows": n,
    }


def incremental_sync(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    max_workers: int = DEFAULT_MAX_WORKERS,
) -> dict:
    """Resume from the manifest: extract only rows whose key is beyond each
    table's recorded max_id (the append-only half of CDC — the reference's
    binlog replay covers updates/deletes; see streaming/cdc.py for those).

    Reads out_dir/manifest.json, appends the delta per table (up to
    ``max_workers`` tables at once), and rewrites the manifest with
    advanced bounds. Tables without new rows are skipped entirely: their
    bounds come from the source footers, so a no-op sync runs no Spark job
    (the footer fallbacks of ``table_bounds`` aside). If a table fails, the
    manifest is left as it was; the rewrite itself is atomic
    (``durable.replace_file``), so a crash or a serialization error
    mid-write leaves the previous manifest byte-identical too.
    """
    manifest_path = os.path.join(out_dir, "manifest.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)

    new_entries = _per_table(
        spark,
        lambda entry: _resume_table(spark, sf_dir, out_dir, entry, batch_size),
        manifest["tables"],
        max_workers,
    )
    manifest = {
        **manifest,
        "completed_unix": int(time.time()),
        "tables": new_entries,
    }
    replace_file(manifest_path, json.dumps(manifest, indent=2))
    return manifest


def main() -> None:
    from mysql_to_clickhouse_sync_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--include", default=None, help="table-name include regex")
    ap.add_argument("--exclude", default=None, help="table-name exclude regex")
    ap.add_argument("--batch-size", type=int, default=DEFAULT_BATCH_SIZE)
    ap.add_argument(
        "--lake",
        action="store_true",
        help="land keyset tables as versioned LakeTables (time travel,"
        " MERGE-committed incremental resume)",
    )
    ap.add_argument(
        "--max-workers",
        type=int,
        default=DEFAULT_MAX_WORKERS,
        help="tables synced at once on the one Spark session (default:"
        " %(default)s; 1 syncs them one after another)",
    )
    args = ap.parse_args()
    spark = get_spark("snapshot_sync")
    manifest = snapshot_sync(
        spark,
        args.source,
        args.out,
        args.include,
        args.exclude,
        args.batch_size,
        lake=args.lake,
        max_workers=args.max_workers,
    )
    print(json.dumps({t["table"]: t["rows"] for t in manifest["tables"]}))


if __name__ == "__main__":
    main()
