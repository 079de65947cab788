"""Lakehouse MERGE + time travel as a declared, oracle-checked query.

The reference's north star is continuous MySQL->ClickHouse replication
(mysql_to_clickhouse_sync.py:97-116 batches INSERTs; ReplacingMergeTree
collapses to latest-per-key at merge time). The engine's landing zone for
that CDC feed is sinks/merge.py `LakeTable`: versioned-manifest parquet
MERGE with snapshot isolation and time travel. This module pins the
TABLE-LEVEL law of that sink relationally:

    the live state as of commit v  ==  latest-per-key over the changelog
    PREFIX folded through commits 0..v, minus keys whose winner is a
    delete

by actually driving three MERGE commits against a scratch LakeTable and
reading every retained version back through the time-travel API. The
DuckDB oracle states all three prefixes in one window query — so the
pointer/manifest/tombstone machinery (filesystem, JSON, atomic rename)
is hash-checked against pure SQL, not just unit-asserted.

Scale notes: each commit shuffles once on the merge key (the
apply_changelog window); reads are manifest-pruned parquet scans of one
immutable generation. The time-travel union here re-reads three
generations — the audit shape, not a hot path; production readers pin
one version.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import EVENTS_US_CTE, load_table
from mysql_to_clickhouse_sync_spark.registry import declare
from mysql_to_clickhouse_sync_spark.sinks.merge import (
    LakeTable,
    expect,
    scratch_table,
)
from mysql_to_clickhouse_sync_spark.streaming.cdc import (
    DELETE,
    OP_COL,
    UPSERT,
)

# Commit boundaries: three changelog batches by event time.
MERGE_T1 = "2024-01-11 00:00:00"
MERGE_T2 = "2024-01-21 00:00:00"

_COLS = ["user_id", "event_id", "ts", "event_type", "value"]

_ORACLE = f"""
    {EVENTS_US_CTE}
    , c AS (
        SELECT user_id, event_id, ts, event_type, value,
               CASE WHEN ts < TIMESTAMP '{MERGE_T1}' THEN 0
                    WHEN ts < TIMESTAMP '{MERGE_T2}' THEN 1
                    ELSE 2 END AS b
        FROM events_us WHERE ts IS NOT NULL
    ), v(version) AS (VALUES (0), (1), (2)),
    ranked AS (
        SELECT v.version, c.user_id, c.event_id, c.ts, c.event_type,
               c.value,
               row_number() OVER (
                   PARTITION BY v.version, c.user_id
                   ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM v JOIN c ON c.b <= v.version
    )
    SELECT CAST(version AS BIGINT) AS version, user_id, event_id, ts,
           event_type, value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


def _changelog_batches(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The shared three-commit changelog: events in three event-time
    windows, 'error' events as deletes."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(*_COLS)
    )
    log = ev.withColumn(
        OP_COL,
        F.when(F.col("event_type") == "error", F.lit(DELETE)).otherwise(
            F.lit(UPSERT)
        ),
    )
    return [
        log.filter(F.col("ts") < F.lit(MERGE_T1)),
        log.filter(
            (F.col("ts") >= F.lit(MERGE_T1)) & (F.col("ts") < F.lit(MERGE_T2))
        ),
        log.filter(F.col("ts") >= F.lit(MERGE_T2)),
    ]


def _run_merge_commits(
    spark: SparkSession, sf_dir: str, n_buckets: int | None
) -> DataFrame:
    """Shared driver for the (un)bucketed snapshot queries: three MERGE
    commits, then the union of every retained version's live rows."""
    batches = _changelog_batches(spark, sf_dir)

    def per_version(table: LakeTable) -> list[DataFrame]:
        return [
            table.read(version=v).withColumn(
                "version", F.lit(v).cast("long")
            )
            for v in table.versions()
        ]

    return _with_committed_table(
        spark, batches, n_buckets, per_version, ["version", *_COLS]
    )


def _with_committed_table(spark, batches, n_buckets, reader, cols):
    """Commit `batches` into a scratch LakeTable, apply `reader` to get
    per-version frames, union, checkpoint, clean up."""
    with scratch_table(
        spark,
        keys=["user_id"],
        version_cols=["ts", "event_id"],
        retention=len(batches),  # keep every commit readable
        n_buckets=n_buckets,
    ) as table:
        for i, b in enumerate(batches):
            table.merge(b, batch_id=i)
        expect("lake versions", [0, 1, 2], table.versions())
        out = reduce(
            lambda a, b: a.unionByName(b), reader(table)
        ).select(*cols)
        return out.localCheckpoint(eager=True)


@declare("q_merge_snapshot", oracle=_ORACLE, tier="P2")
def q_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three MERGE commits into a LakeTable, read back at every retained
    version: commit v's live state must equal the latest-per-user fold
    of the changelog prefix (error events are deletes — their keys
    vanish while the tombstone persists in storage). Output is the
    union of the three time-traveled reads tagged with their version —
    the snapshot-isolation/time-travel contract stated as data."""
    return _run_merge_commits(spark, sf_dir, n_buckets=None)


@declare("q_merge_bucketed", oracle=_ORACLE, tier="P2")
def q_merge_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The identical commit sequence through a KEY-HASH-BUCKETED
    LakeTable (8 buckets): each commit rewrites only the buckets its
    changelog touches, untouched buckets stay manifest-referenced from
    older generations, and every time-traveled read unions through
    those references. Same oracle as q_merge_snapshot — the pruned
    incremental rewrite must be semantically invisible, which is
    exactly what makes it safe to rely on at 100 TB (where merge cost
    being O(touched bytes), not O(table bytes), is the difference
    between a commit and a table rewrite)."""
    return _run_merge_commits(spark, sf_dir, n_buckets=8)


# -- data skipping --------------------------------------------------------

# Band width is DATA-PROPORTIONAL: width = max(10, (1 + max_key) / 15)
# keeps the file count bounded (~15) at every scale instead of growing
# linearly with the key range — the file-sizing discipline a real table
# needs (a fixed width measured 26 s at the 10x stress purely on
# 1500-file commit overhead; proportional width holds it flat).
SKIP_MIN_WIDTH = 10
SKIP_TARGET_FILES = 15
SKIP_LO = 5
SKIP_HI = 27

_SKIP_ORACLE = f"""
    {EVENTS_US_CTE}
    , st AS MATERIALIZED (
        SELECT user_id, event_id, ts, event_type, value FROM (
            SELECT user_id, event_id, ts, event_type, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events_us WHERE ts IS NOT NULL
        ) WHERE rn = 1
    ), w AS (
        SELECT greatest({SKIP_MIN_WIDTH},
                        (1 + max(user_id)) // {SKIP_TARGET_FILES}) AS width
        FROM st
    ), bands AS (
        SELECT user_id // (SELECT width FROM w) AS band,
               min(user_id) AS mn, max(user_id) AS mx
        FROM st GROUP BY 1
    ), acc AS (
        SELECT CAST(count(*) AS BIGINT) AS files_total,
               CAST(sum(CASE WHEN mx >= {SKIP_LO} AND mn <= {SKIP_HI}
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_read
        FROM bands
    )
    SELECT st.user_id, st.event_id, st.ts, st.event_type, st.value,
           acc.files_total, acc.files_read
    FROM st, acc WHERE st.user_id BETWEEN {SKIP_LO} AND {SKIP_HI}
"""


@declare("q_lake_skipping", oracle=_SKIP_ORACLE, tier="P2")
def q_lake_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-SKIPPING read through the LakeTable manifest: the CDC state
    lands partition_files_by a user-band column (one data file per
    band), the commit records per-file user_id min/max from parquet
    FOOTERS, and `read_pruned` drops every file whose range cannot meet
    the predicate BEFORE Spark sees a path. The declared result carries
    the files-pruned accounting (files_total, files_read) next to the
    filtered rows, and the oracle re-derives BOTH from pure SQL — the
    band-level min/max bookkeeping must agree with what the footers
    said, so the pruning decision itself is hash-verified, not just the
    surviving rows. A plan pin (tests/test_plan_shapes.py) separately
    asserts the pruned scan reads fewer files than the table holds.

    Scale notes (100 TB): the prune decision is manifest JSON — zero
    data I/O; a selective key range on a band-clustered table opens
    O(matching bands) files. This is the Delta/Iceberg file-skipping
    half the sink lacked (the bucketed layout prunes by key hash; this
    prunes by VALUE RANGE, the complementary axis)."""
    from mysql_to_clickhouse_sync_spark.streaming.cdc import UPSERT as _UP

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "event_type", "value")
    )
    # plan-time bounds scalar (the reference's S:163 chunk-plan pattern)
    max_user = ev.agg(F.max("user_id")).collect()[0][0]
    width = max(SKIP_MIN_WIDTH, (1 + max_user) // SKIP_TARGET_FILES)
    log = ev.withColumn(
        "band", F.expr(f"user_id div {width}")
    ).withColumn(OP_COL, F.lit(_UP))
    with scratch_table(
        spark,
        keys=["user_id"],
        version_cols=["ts", "event_id"],
        retention=0,
        partition_files_by="band",
    ) as table:
        table.merge(log, batch_id=0)
        pruned, total, nread = table.read_pruned(
            "user_id", SKIP_LO, SKIP_HI
        )
        if nread > total:
            raise RuntimeError(
                f"pruned scan read {nread} files, more than the {total} held"
            )
        out = (
            pruned.filter(F.col("user_id").between(SKIP_LO, SKIP_HI))
            .select("user_id", "event_id", "ts", "event_type", "value")
            .withColumn("files_total", F.lit(total).cast("long"))
            .withColumn("files_read", F.lit(nread).cast("long"))
        )
        return out.localCheckpoint(eager=True)


# -- z-order (multi-column) data skipping -----------------------------------

from mysql_to_clickhouse_sync_spark.zorder import (  # noqa: E402
    ZBITS,
    z_expr as _z_expr,
)


_ZORDER_ORACLE = f"""
    {EVENTS_US_CTE}
    , st AS MATERIALIZED (
        SELECT user_id, event_id, ts, event_type, value,
               CAST(floor(value * 100) AS BIGINT) AS vc
        FROM (
            SELECT user_id, event_id, ts, event_type, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events_us WHERE ts IS NOT NULL
        ) WHERE rn = 1
    ), bnd AS (
        SELECT min(user_id) AS umn, max(user_id) AS umx,
               min(vc) AS vmn, max(vc) AS vmx
        FROM st
    ), cells AS (
        SELECT {_z_expr(
            "((st.user_id - bnd.umn) * 8) // (bnd.umx - bnd.umn + 1)",
            "((st.vc - bnd.vmn) * 8) // (bnd.vmx - bnd.vmn + 1)",
            "//",
        )} AS zcell,
               min(st.user_id) AS cumn, max(st.user_id) AS cumx,
               min(st.vc) AS cvmn, max(st.vc) AS cvmx
        FROM st, bnd GROUP BY 1
    ), box AS (
        SELECT umn + (umx - umn) // 8 AS ulo,
               umn + (umx - umn) // 3 AS uhi,
               vmn + (vmx - vmn) // 8 AS vlo,
               vmn + (vmx - vmn) // 3 AS vhi
        FROM bnd
    ), acc AS (
        SELECT CAST(count(*) AS BIGINT) AS files_total,
               CAST(sum(CASE WHEN cumx >= ulo AND cumn <= uhi
                              AND cvmx >= vlo AND cvmn <= vhi
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_read
        FROM cells, box
    )
    SELECT st.user_id, st.event_id, st.ts, st.event_type, st.value,
           st.vc, acc.files_total, acc.files_read
    FROM st, box, acc
    WHERE st.user_id BETWEEN box.ulo AND box.uhi
      AND st.vc BETWEEN box.vlo AND box.vhi
"""


@declare("q_lake_zorder_skipping", oracle=_ZORDER_ORACLE, tier="P2")
def q_lake_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-COLUMN data skipping on a z-ordered layout (Delta OPTIMIZE
    ZORDER BY, from first principles): each state row's (user_id,
    value-cents) pair is bit-interleaved into a Morton z-cell, the
    table lands one file per cell, and a 2-d box predicate prunes with
    BOTH per-file user_id AND vc ranges — the conjunction eliminates
    multiplicatively, which is exactly what single-column clustering
    cannot do for the second column (linear layout on user_id leaves
    every file's vc range full-width). The files-pruned accounting is
    part of the oracle-hashed result, so the pruning arithmetic (cell
    assignment, per-cell ranges, box intersection) is verified, not
    asserted. Cell coordinates normalize by data-dependent min/max,
    computed driver-side from one bounds aggregate (the reference's
    S:163 chunk-plan pattern) and restated in SQL by the oracle.

    Scale notes: the prune decision stays manifest-JSON-only; z-cell
    count is fixed (64) so the layout is scale-stable — a production
    table raises ZBITS with data volume the same way SKIP_TARGET_FILES
    scales the 1-d band width."""
    from mysql_to_clickhouse_sync_spark.streaming.cdc import (
        UPSERT as _UP,
        latest_per_key,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "event_type", "value")
    )
    latest = latest_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).withColumn("vc", F.expr("CAST(floor(value * 100) AS BIGINT)"))
    # plan-time bounds scalars (one aggregate, the S:163 pattern)
    b = latest.agg(
        F.min("user_id"), F.max("user_id"), F.min("vc"), F.max("vc")
    ).collect()[0]
    umn, umx, vmn, vmx = (int(x) for x in b)
    log = (
        latest.withColumn(
            "_u3", F.expr(f"((user_id - {umn}) * 8) div {umx - umn + 1}")
        )
        .withColumn(
            "_v3", F.expr(f"((vc - {vmn}) * 8) div {vmx - vmn + 1}")
        )
        .withColumn("zcell", F.expr(_z_expr("_u3", "_v3", "div")))
        .drop("_u3", "_v3")
        .withColumn(OP_COL, F.lit(_UP))
    )
    ulo, uhi = umn + (umx - umn) // 8, umn + (umx - umn) // 3
    vlo, vhi = vmn + (vmx - vmn) // 8, vmn + (vmx - vmn) // 3
    with scratch_table(
        spark,
        keys=["user_id"],
        version_cols=["ts", "event_id"],
        retention=0,
        partition_files_by="zcell",
    ) as table:
        table.merge(log, batch_id=0)
        pruned, total, nread = table.read_pruned_all(
            [("user_id", ulo, uhi), ("vc", vlo, vhi)]
        )
        out = (
            pruned.filter(
                F.col("user_id").between(ulo, uhi)
                & F.col("vc").between(vlo, vhi)
            )
            .select("user_id", "event_id", "ts", "event_type", "value", "vc")
            .withColumn("files_total", F.lit(total).cast("long"))
            .withColumn("files_read", F.lit(nread).cast("long"))
        )
        return out.localCheckpoint(eager=True)


# -- bloom-filter (membership) data skipping --------------------------------


def _fb_pos_sql(key: str, seed: str) -> str:
    """SQL twin of sinks.merge._bloom_pos (same idiom as q_bloom_join)."""
    return (
        f"CAST('0x' || substr(md5(CAST({key} AS VARCHAR) || ':{seed}'),"
        f" 1, 12) AS BIGINT)"
    )


_BLOOM_SKIP_ORACLE = f"""
    {EVENTS_US_CTE}
    , st AS MATERIALIZED (
        SELECT event_id, ts, user_id, event_type, value
        FROM events_us WHERE ts IS NOT NULL
    ), w AS (
        SELECT greatest({SKIP_MIN_WIDTH},
                        (1 + max(event_id)) // {SKIP_TARGET_FILES}) AS width
        FROM st
    ), probes AS (
        SELECT 'present' AS probe_kind,
               (SELECT user_id FROM st WHERE user_id IS NOT NULL
                GROUP BY user_id
                ORDER BY count(*) ASC, user_id ASC LIMIT 1) AS probe_user
        UNION ALL
        SELECT 'absent', (SELECT 1 + max(user_id) FROM st)
    ), bu AS (
        -- NULLs never enter a Bloom filter (_file_blooms drops None
        -- values), so they must not inflate m here either — a nullable
        -- corpus would otherwise size the filter over a different value
        -- set than the manifest and desync every bit position
        SELECT DISTINCT event_id // (SELECT width FROM w) AS band, user_id
        FROM st WHERE user_id IS NOT NULL
    ), bm AS (
        SELECT band, greatest(64, 10 * count(*)) AS m FROM bu GROUP BY band
    ), ub AS (
        -- every bit any resident value sets: the UNION across seeds (a
        -- Bloom bitmap has one bit space; a probe position may be
        -- satisfied by a resident's other-seed bit — cross-seed
        -- collisions are part of Bloom semantics and DO occur at scale)
        SELECT band, {_fb_pos_sql('bu.user_id', '1')} % bm.m AS p
        FROM bu JOIN bm USING (band)
        UNION
        SELECT band, {_fb_pos_sql('bu.user_id', '2')} % bm.m AS p
        FROM bu JOIN bm USING (band)
    ), hits AS (
        SELECT pr.probe_kind, ub.band,
               max(CASE WHEN ub.p = {_fb_pos_sql('pr.probe_user', '1')}
                                    % bm.m THEN 1 ELSE 0 END) AS h1,
               max(CASE WHEN ub.p = {_fb_pos_sql('pr.probe_user', '2')}
                                    % bm.m THEN 1 ELSE 0 END) AS h2
        FROM ub JOIN bm USING (band) CROSS JOIN probes pr
        GROUP BY pr.probe_kind, ub.band
    ), acc AS (
        SELECT probe_kind,
               CAST(count(*) AS BIGINT) AS files_total,
               CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS files_read
        FROM hits GROUP BY probe_kind
    )
    SELECT p.probe_kind,
           CAST(p.probe_user AS BIGINT) AS probe_user,
           CAST((SELECT count(*) FROM st
                 WHERE st.user_id = p.probe_user) AS BIGINT) AS n_rows,
           acc.files_total, acc.files_read
    FROM probes p JOIN acc USING (probe_kind)
"""


@declare("q_lake_bloom_skipping", oracle=_BLOOM_SKIP_ORACLE, tier="P2")
def q_lake_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER (membership) data skipping — the axis range stats
    cannot cover: the table is clustered on arrival order (event_id
    bands, the natural CDC landing layout), and the query is a point
    lookup on user_id, a column every file's [min,max] nearly spans —
    range pruning reads everything. Each commit therefore records a
    per-file Bloom filter of the file's distinct user_ids (k=2 portable
    md5 positions, 10 bits/value) in the manifest; read_bloom_pruned
    drops every file whose filter cannot contain the probed user BEFORE
    Spark sees a path. Two probes, both deterministic: a PRESENT user
    (fewest events, min user_id tiebreak — an active-everywhere user
    honestly reads every file, and the no-false-negative law says their
    row count survives pruning intact) and an ABSENT user (max+1 — the
    classic Bloom win: a lookup for a key the table does not hold reads
    ~zero files instead of all of them, which is what point-lookup and
    join-probe traffic against a CDC landing table mostly is). The
    per-probe n_rows and files_total/files_read accounting are all
    re-derived by the oracle — including Bloom false positives, which
    are portable because every bit is the same md5 arithmetic on both
    engines (a file is read iff for EACH seed, SOME resident user
    collides with the probe's position — exactly Bloom semantics,
    stated relationally).

    Scale notes (100 TB): the prune decision is manifest JSON — zero
    data I/O; a user with k events is read from O(k + fp x files)
    files instead of all of them, which is the difference between a
    point lookup and a table scan on a non-clustered column (Delta's
    bloom filter index, Iceberg's ndv/bloom metrics). Filter build cost
    is one columnar pass over exactly the files the commit wrote,
    thread-pooled; production folds it into the writer. String columns
    — which have NO pruning-safe footer stats at all — get the same
    treatment for free."""
    from mysql_to_clickhouse_sync_spark.streaming.cdc import UPSERT as _UP

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    # plan-time scalars (the reference's S:163 bounds pattern): the band
    # width and the two probed users
    max_eid, max_user = ev.agg(F.max("event_id"), F.max("user_id")).collect()[
        0
    ]
    width = max(SKIP_MIN_WIDTH, (1 + max_eid) // SKIP_TARGET_FILES)
    present = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .count()
        .orderBy(F.col("count").asc(), F.col("user_id").asc())
        .limit(1)
        .collect()[0][0]
    )
    log = ev.withColumn(
        "band", F.expr(f"event_id div {width}")
    ).withColumn(OP_COL, F.lit(_UP))
    with scratch_table(
        spark,
        keys=["event_id"],
        version_cols=["ts"],
        retention=0,
        partition_files_by="band",
        bloom_cols=["user_id"],
    ) as table:
        table.merge(log, batch_id=0)

        def one(kind: str, pu: int) -> DataFrame:
            pruned, total, nread = table.read_bloom_pruned("user_id", pu)
            if nread > total:
                raise RuntimeError(
                    f"bloom-pruned scan read {nread} files,"
                    f" more than the {total} held"
                )
            return (
                pruned.filter(F.col("user_id") == pu)
                .agg(F.count("*").alias("n_rows"))
                .select(
                    F.lit(kind).alias("probe_kind"),
                    F.lit(int(pu)).cast("long").alias("probe_user"),
                    F.col("n_rows"),
                    F.lit(total).cast("long").alias("files_total"),
                    F.lit(nread).cast("long").alias("files_read"),
                )
            )

        out = one("present", present).unionByName(
            one("absent", int(max_user) + 1)
        )
        return out.localCheckpoint(eager=True)


# -- schema evolution ------------------------------------------------------

_EVOLVE_ORACLE = f"""
    {EVENTS_US_CTE}
    , c AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts >= TIMESTAMP '{MERGE_T1}'
                    THEN event_type END AS event_type,
               CASE WHEN ts < TIMESTAMP '{MERGE_T1}' THEN 0 ELSE 1 END AS b
        FROM events_us WHERE ts IS NOT NULL
    ), v(version) AS (VALUES (0), (1)),
    ranked AS (
        SELECT v.version, c.user_id, c.event_id, c.ts, c.value,
               c.event_type,
               row_number() OVER (
                   PARTITION BY v.version, c.user_id
                   ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM v JOIN c ON c.b <= v.version
    )
    SELECT CAST(version AS BIGINT) AS version, user_id, event_id, ts,
           value, event_type, CAST(version AS BIGINT) AS schema_version
    FROM ranked WHERE rn = 1
"""


@declare("q_lake_evolve", oracle=_EVOLVE_ORACLE, tier="P2")
def q_lake_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION through LakeTable MERGE: commit 0 lands the
    changelog under the narrow pre-ALTER schema (no event_type), commit
    1 arrives with the column added mid-stream — the merge null-fills
    the pre-drift state, the manifest bumps schema_version and carries
    the ClickHouse ALTER twin (asserted here, unit-pinned in
    tests/test_lakehouse.py), and TIME TRAVEL returns each version
    under the schema it was written with (version 0 genuinely lacks the
    column on disk; this query re-attaches it as NULL only to union the
    audit output). The oracle restates both prefix states, with
    event_type present only on post-ALTER winners — the Debezium
    absent-field-reads-NULL contract, now at the storage layer.

    Scale notes: evolution costs one unionByName over the already-read
    state — no extra scan, no rewrite amplification beyond the merge
    itself; old files are never touched (NULL-fill happens at read/merge
    time, the Delta/Iceberg add-column discipline)."""
    from functools import reduce

    from mysql_to_clickhouse_sync_spark.streaming.cdc import UPSERT as _UP

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    narrow = (
        ev.filter(F.col("ts") < F.lit(MERGE_T1))
        .select("user_id", "event_id", "ts", "value")
        .withColumn(OP_COL, F.lit(_UP))
    )
    wide = (
        ev.filter(F.col("ts") >= F.lit(MERGE_T1))
        .select("user_id", "event_id", "ts", "value", "event_type")
        .withColumn(OP_COL, F.lit(_UP))
    )
    with scratch_table(
        spark,
        keys=["user_id"],
        version_cols=["ts", "event_id"],
        retention=2,
    ) as table:
        table.merge(narrow, batch_id=0)
        table.merge(wide, batch_id=1)
        expect("v0 schema_version", 0, table.manifest(0)["schema_version"])
        expect("v1 schema_version", 1, table.manifest(1)["schema_version"])
        if not table.manifest(1)["ddl"]:
            raise RuntimeError("evolving commit v1 carries no DDL")
        frames = []
        for v in table.versions():
            d = table.read(version=v)
            if "event_type" not in d.columns:
                # only the pre-drift version lacks it
                expect("version without event_type", 0, v)
                d = d.withColumn("event_type", F.lit(None).cast("string"))
            frames.append(
                d.select("user_id", "event_id", "ts", "value", "event_type")
                .withColumn("version", F.lit(v).cast("long"))
                .withColumn(
                    "schema_version",
                    F.lit(table.manifest(v)["schema_version"]).cast("long"),
                )
            )
        out = reduce(lambda a, b: a.unionByName(b), frames)
        return out.localCheckpoint(eager=True)


_CDF_ORACLE = f"""
    {EVENTS_US_CTE}
    , c AS (
        SELECT user_id, event_id, ts, event_type, value,
               CASE WHEN ts < TIMESTAMP '{MERGE_T1}' THEN 0
                    WHEN ts < TIMESTAMP '{MERGE_T2}' THEN 1
                    ELSE 2 END AS b
        FROM events_us WHERE ts IS NOT NULL
    ), v(version) AS (VALUES (0), (1), (2)),
    ranked AS (
        SELECT v.version, c.user_id, c.event_id, c.ts, c.event_type,
               c.value,
               row_number() OVER (
                   PARTITION BY v.version, c.user_id
                   ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM v JOIN c ON c.b <= v.version
    ), st AS MATERIALIZED (
        SELECT version, user_id, event_id, ts, event_type, value
        FROM ranked WHERE rn = 1 AND event_type <> 'error'
    )
    SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type,
           user_id, event_id, ts, event_type, value
    FROM st WHERE version = 0
    UNION ALL
    SELECT CAST(n.version AS BIGINT), 'insert',
           n.user_id, n.event_id, n.ts, n.event_type, n.value
    FROM st n LEFT JOIN st p
      ON p.version = n.version - 1 AND p.user_id = n.user_id
    WHERE n.version >= 1 AND p.user_id IS NULL
    UNION ALL
    SELECT CAST(p.version + 1 AS BIGINT), 'delete',
           p.user_id, p.event_id, p.ts, p.event_type, p.value
    FROM st p LEFT JOIN st n
      ON n.version = p.version + 1 AND n.user_id = p.user_id
    WHERE p.version <= 1 AND n.user_id IS NULL
    UNION ALL
    SELECT CAST(n.version AS BIGINT), 'update_preimage',
           p.user_id, p.event_id, p.ts, p.event_type, p.value
    FROM st n JOIN st p
      ON p.version = n.version - 1 AND p.user_id = n.user_id
     AND p.event_id <> n.event_id
    UNION ALL
    SELECT CAST(n.version AS BIGINT), 'update_postimage',
           n.user_id, n.event_id, n.ts, n.event_type, n.value
    FROM st n JOIN st p
      ON p.version = n.version - 1 AND p.user_id = n.user_id
     AND p.event_id <> n.event_id
"""


@declare("q_lake_cdf", oracle=_CDF_ORACLE, tier="P2")
def q_lake_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the three-commit LakeTable: for every
    retained commit, what it did to the live table — inserts, deletes
    (an 'error' winner killing the key), and update pre/post images
    (the winner moved under the version order). The first commit reads
    as all-insert (bootstrap). The oracle re-derives every feed row
    from adjacent prefix states, so the sink's read-side CDF (a keyed
    full-outer join of adjacent snapshots) is hash-checked end to end —
    the reverse direction of q_merge_snapshot, which checks states;
    this checks DELTAS.

    Scale notes: one co-partitioned self-join per commit pair; at
    100 TB the feed is derived forward from each merge's changelog —
    this read-side form exists to re-derive any retained commit's feed
    without having kept its changelog (the Delta CDF contract)."""
    batches = _changelog_batches(spark, sf_dir)

    def feeds(table: LakeTable) -> list[DataFrame]:
        return [
            table.changes(v)
            .withColumnRenamed("_commit_version", "version")
            .withColumnRenamed("_change_type", "change_type")
            for v in table.versions()
        ]

    return _with_committed_table(
        spark, batches, None, feeds, ["version", "change_type", *_COLS]
    )


_CDF_RANGE_ORACLE = f"""
    {EVENTS_US_CTE}
    , c AS (
        SELECT user_id, event_id, ts, event_type, value,
               CASE WHEN ts < TIMESTAMP '{MERGE_T1}' THEN 0
                    WHEN ts < TIMESTAMP '{MERGE_T2}' THEN 1
                    ELSE 2 END AS b
        FROM events_us WHERE ts IS NOT NULL
    ), v(version) AS (VALUES (0), (2)),
    ranked AS (
        SELECT v.version, c.user_id, c.event_id, c.ts, c.event_type,
               c.value,
               row_number() OVER (
                   PARTITION BY v.version, c.user_id
                   ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM v JOIN c ON c.b <= v.version
    ), st AS MATERIALIZED (
        SELECT version, user_id, event_id, ts, event_type, value
        FROM ranked WHERE rn = 1 AND event_type <> 'error'
    )
    SELECT CAST(2 AS BIGINT) AS version, 'insert' AS change_type,
           n.user_id, n.event_id, n.ts, n.event_type, n.value
    FROM st n LEFT JOIN st p
      ON p.version = 0 AND p.user_id = n.user_id
    WHERE n.version = 2 AND p.user_id IS NULL
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete',
           p.user_id, p.event_id, p.ts, p.event_type, p.value
    FROM st p LEFT JOIN st n
      ON n.version = 2 AND n.user_id = p.user_id
    WHERE p.version = 0 AND n.user_id IS NULL
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'update_preimage',
           p.user_id, p.event_id, p.ts, p.event_type, p.value
    FROM st n JOIN st p
      ON p.version = 0 AND n.version = 2 AND p.user_id = n.user_id
     AND p.event_id <> n.event_id
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'update_postimage',
           n.user_id, n.event_id, n.ts, n.event_type, n.value
    FROM st n JOIN st p
      ON p.version = 0 AND n.version = 2 AND p.user_id = n.user_id
     AND p.event_id <> n.event_id
"""


@declare("q_lake_cdf_range", oracle=_CDF_RANGE_ORACLE, tier="P2")
def q_lake_cdf_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLAPSED change-data-feed over a version RANGE —
    `changes(version=2, since=0)`, Delta's readChangeFeed between two
    non-adjacent retained versions: the NET diff, where intermediate
    flip-flops CANCEL (a key updated in commit 1 and reverted in commit
    2 emits nothing; inserted-then-deleted emits nothing). q_lake_cdf
    checks every per-commit feed; this checks the documented range
    semantics the API also offers — the oracle diffs the prefix states
    at version 0 and version 2 directly, which is the collapsed law.

    Scale notes: ONE co-partitioned full-outer join of the two endpoint
    snapshots, independent of how many commits lie between them — the
    reason the range form exists (re-deriving N per-commit feeds and
    folding them costs N joins and produces exactly this)."""
    batches = _changelog_batches(spark, sf_dir)

    def feeds(table: LakeTable) -> list[DataFrame]:
        return [
            table.changes(version=2, since=0)
            .withColumnRenamed("_commit_version", "version")
            .withColumnRenamed("_change_type", "change_type")
        ]

    return _with_committed_table(
        spark, batches, None, feeds, ["version", "change_type", *_COLS]
    )


# -- deletion vectors (round 8) -------------------------------------------

_DV_ORACLE = f"""
    {EVENTS_US_CTE}
    , c AS (
        SELECT user_id, event_id, ts, event_type, value,
               CASE WHEN ts < TIMESTAMP '{MERGE_T1}' THEN 0
                    WHEN ts < TIMESTAMP '{MERGE_T2}' THEN 1
                    ELSE 2 END AS b,
               (event_type = 'error') AS is_del
        FROM events_us WHERE ts IS NOT NULL
    ), avail AS (
        -- commit 1 = dv of window-1 deletes; commit 2 = dv of window-2
        -- deletes; commit 3 = merge of window-2 upserts (the fold).
        -- Window-1 upserts are never applied in this sequence.
        SELECT *, CASE WHEN b = 0 THEN 1
                       WHEN b = 1 AND is_del THEN 1
                       WHEN b = 2 AND is_del THEN 2
                       WHEN b = 2 THEN 3 END AS since
        FROM c WHERE NOT (b = 1 AND NOT is_del)
    ), v(version) AS (VALUES (1), (2), (3)),
    ranked AS (
        SELECT v.version, a.user_id, a.event_id, a.ts, a.event_type,
               a.value, a.is_del,
               row_number() OVER (
                   PARTITION BY v.version, a.user_id
                   ORDER BY a.ts DESC, a.event_id DESC) AS rn
        FROM v JOIN avail a ON a.since <= v.version
    )
    SELECT CAST(version AS BIGINT) AS version, user_id, event_id, ts,
           event_type, value
    FROM ranked WHERE rn = 1 AND NOT is_del
"""


@declare("q_lake_delete_vectors", oracle=_DV_ORACLE, tier="P2")
def q_lake_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR deletes (merge-on-read): after a seeding MERGE,
    two delete waves land as dv commits — O(deleted keys) written
    bytes, data files untouched — and a final MERGE folds the vectors
    into a rewritten generation. Reads at the dv versions apply the
    vectors at read time; the oracle states each version's live state
    as pure latest-per-key SQL, so apply-at-read (versions 1-2) and
    fold-at-write (version 3) are BOTH hash-checked to be equal to the
    rewrite path's semantics (same apply_changelog law as
    q_merge_snapshot; only the physical delete cost differs).

    Scale notes: a sparse delete on a 100 TB table writes one skinny
    dv file and a manifest — commit cost O(deleted keys), zero data
    rewrite; readers pay one O(deleted keys) changelog application
    until the next merge/compaction folds it (the Delta deletion-
    vector / Hudi merge-on-read trade). The dv commit's commit_bytes
    field pins the accounting (tests/test_lakehouse.py)."""
    batches = _changelog_batches(spark, sf_dir)
    with scratch_table(
        spark,
        keys=["user_id"],
        version_cols=["ts", "event_id"],
        retention=4,
    ) as table:
        table.merge(batches[0], batch_id=0)
        table.delete(
            batches[1].filter(F.col(OP_COL) == DELETE), batch_id=1
        )
        table.delete(
            batches[2].filter(F.col(OP_COL) == DELETE), batch_id=2
        )
        m2 = table.manifest(2)
        if m2["operation"] != "delete-vector" or len(m2["dv"]) != 2:
            raise ValueError(
                "delete() must commit accumulating deletion vectors,"
                f" got {m2.get('operation')!r} / {m2.get('dv')!r}"
            )
        table.merge(
            batches[2].filter(F.col(OP_COL) == UPSERT), batch_id=3
        )
        if table.manifest(3).get("dv"):
            raise ValueError("the folding merge must clear the dv list")
        frames = [
            table.read(version=v).withColumn(
                "version", F.lit(v).cast("long")
            )
            for v in (1, 2, 3)
        ]
        out = reduce(lambda a, b: a.unionByName(b), frames).select(
            "version", *_COLS
        )
        return out.localCheckpoint(eager=True)


# -- deletion-vector auto-fold policy (round 9) -----------------------------

# Read-amplification threshold: outstanding dv rows / stored base rows.
# 0.1 makes the three %17 delete waves below produce BOTH outcomes at
# every fixture SF (wave sizes ~1/17 of users: no fold at one wave, fold
# once two accumulate) — and the oracle re-derives the decision itself,
# so the pin is the LAW (fold iff amp >= ratio), not a hardcoded wave.
DV_FOLD_RATIO = 0.1

_DV_FOLD_ORACLE = f"""
    {EVENTS_US_CTE}
    , e AS (
        SELECT user_id, ts FROM events_us WHERE ts IS NOT NULL
    ), b AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM e
    ), c AS (
        SELECT
          CAST(count(DISTINCT CASE WHEN user_id % 17 = 1
                     THEN user_id END) AS BIGINT) AS c1,
          CAST(count(DISTINCT CASE WHEN user_id % 17 = 2
                     THEN user_id END) AS BIGINT) AS c2,
          CAST(count(DISTINCT CASE WHEN user_id % 17 = 3
                     THEN user_id END) AS BIGINT) AS c3,
          CAST(count(DISTINCT CASE WHEN user_id % 17 <> 1
                     THEN user_id END) AS BIGINT) AS l1,
          CAST(count(DISTINCT CASE WHEN user_id % 17 NOT IN (1, 2)
                     THEN user_id END) AS BIGINT) AS l2,
          CAST(count(DISTINCT CASE WHEN user_id % 17 NOT IN (1, 2, 3)
                     THEN user_id END) AS BIGINT) AS l3
        FROM e
    ), d AS (
        -- the policy unrolled: outstanding rows accumulate until a fold
        -- zeroes them; fold iff dv_rows / base_rows >= ratio (double
        -- compare on both engines — IEEE division is engine-identical)
        SELECT *,
               c1 AS cum1,
               (CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE))
                   >= {DV_FOLD_RATIO} AS f1
        FROM b, c
    ), d2 AS (
        SELECT *, c2 + CASE WHEN f1 THEN 0 ELSE cum1 END AS cum2 FROM d
    ), d3 AS (
        SELECT *, (CAST(cum2 AS DOUBLE) / CAST(n AS DOUBLE))
                      >= {DV_FOLD_RATIO} AS f2
        FROM d2
    ), d4 AS (
        SELECT *, c3 + CASE WHEN f2 THEN 0 ELSE cum2 END AS cum3 FROM d3
    ), d5 AS (
        SELECT *, (CAST(cum3 AS DOUBLE) / CAST(n AS DOUBLE))
                      >= {DV_FOLD_RATIO} AS f3
        FROM d4
    )
    SELECT CAST(1 AS BIGINT) AS wave, CAST(1 AS BIGINT) AS dv_files,
           cum1 AS dv_rows, n AS base_rows,
           CAST(CASE WHEN f1 THEN 1 ELSE 0 END AS BIGINT) AS folded,
           l1 AS live_rows
    FROM d5
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           CAST(CASE WHEN f1 THEN 1 ELSE 2 END AS BIGINT),
           cum2, n, CAST(CASE WHEN f2 THEN 1 ELSE 0 END AS BIGINT), l2
    FROM d5
    UNION ALL
    SELECT CAST(3 AS BIGINT),
           CAST(CASE WHEN f2 THEN 1
                     WHEN f1 THEN 2 ELSE 3 END AS BIGINT),
           cum3, n, CAST(CASE WHEN f3 THEN 1 ELSE 0 END AS BIGINT), l3
    FROM d5
"""


@declare("q_lake_dv_fold", oracle=_DV_FOLD_ORACLE, tier="P2")
def q_lake_dv_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR AUTO-FOLD policy, decision audited: a seeded
    table takes three sparse delete waves through the dv path (commit
    cost O(deleted keys), zero data rewrite), and after each commit
    LakeTable.maintenance() compares outstanding dv rows against stored
    base rows — parquet FOOTER metadata only, never a scan — and folds
    the vectors into a rewritten generation when read amplification
    crosses DV_FOLD_RATIO. Every field of every decision (outstanding
    dv files and rows at decision time, base rows, fold verdict, live
    rows after the wave) is re-derived by the oracle, so the policy's
    LAW is hash-checked, not just its effect — the q_ann_cap_audit
    discipline applied to lakehouse maintenance. Without this policy a
    delete-heavy merge-quiet table accumulates O(total deleted keys)
    read-side apply cost forever (the wall Delta's DV metrics and
    Hudi's compaction triggers exist to close).

    Scale notes (100 TB): the trigger reads manifest + footers (KBs);
    the fold itself is merge()'s rewrite — O(dv-touched buckets) on the
    bucketed layout. Folds amortize: read amplification is bounded by
    the ratio, while delete commits stay O(deleted keys)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(*_COLS)
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]
    users = ev.select("user_id").distinct()
    with scratch_table(
        spark,
        keys=["user_id"],
        version_cols=["ts", "event_id"],
        retention=2,
    ) as table:
        table.merge(ev.withColumn(OP_COL, F.lit(UPSERT)), batch_id=0)
        out_rows = []
        for w in (1, 2, 3):
            dels = users.filter(F.col("user_id") % 17 == w).select(
                "user_id",
                F.lit(0).cast("long").alias("event_id"),
                (F.lit(mx) + F.expr(f"INTERVAL {w} SECOND")).alias("ts"),
                F.lit("dv_delete").alias("event_type"),
                F.lit(None).cast("double").alias("value"),
                F.lit(DELETE).alias(OP_COL),
            )
            table.delete(dels, batch_id=w)
            acct = table.maintenance(DV_FOLD_RATIO)
            live = table.read().count()
            out_rows.append(
                (
                    w,
                    acct["dv_files"],
                    acct["dv_rows"],
                    acct["base_rows"],
                    int(acct["folded"]),
                    live,
                )
            )
        return spark.createDataFrame(
            out_rows,
            "wave bigint, dv_files bigint, dv_rows bigint,"
            " base_rows bigint, folded bigint, live_rows bigint",
        )


# -- OPTIMIZE ZORDER on an existing table (round 9) --------------------------

_OPT_ZORDER_ORACLE = f"""
    {EVENTS_US_CTE}
    , st AS MATERIALIZED (
        SELECT user_id, event_id, ts, event_type, value,
               CAST(floor(value * 100) AS BIGINT) AS vc
        FROM (
            SELECT user_id, event_id, ts, event_type, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events_us WHERE ts IS NOT NULL
        ) WHERE rn = 1
    ), w AS (
        SELECT greatest({SKIP_MIN_WIDTH},
                        (1 + max(event_id)) // {SKIP_TARGET_FILES}) AS width
        FROM st
    ), bands AS (
        -- the PRE-optimize layout: arrival order (event_id bands), so
        -- each file's user_id/vc ranges are nearly full-width
        SELECT event_id // (SELECT width FROM w) AS band,
               min(user_id) AS cumn, max(user_id) AS cumx,
               min(vc) AS cvmn, max(vc) AS cvmx
        FROM st GROUP BY 1
    ), bnd AS (
        SELECT min(user_id) AS umn, max(user_id) AS umx,
               min(vc) AS vmn, max(vc) AS vmx
        FROM st
    ), box AS (
        SELECT umn + (umx - umn) // 8 AS ulo,
               umn + (umx - umn) // 3 AS uhi,
               vmn + (vmx - vmn) // 8 AS vlo,
               vmn + (vmx - vmn) // 3 AS vhi
        FROM bnd
    ), acc AS (
        SELECT CAST(count(*) AS BIGINT) AS files_total_before,
               CAST(sum(CASE WHEN cumx >= ulo AND cumn <= uhi
                              AND cvmx >= vlo AND cvmn <= vhi
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS files_read_before
        FROM bands, box
    )
    SELECT st.user_id, st.event_id, st.ts, st.event_type, st.value,
           st.vc, acc.files_total_before, acc.files_read_before,
           CAST(1 AS BIGINT) AS improved
    FROM st, box, acc
    WHERE st.user_id BETWEEN box.ulo AND box.uhi
      AND st.vc BETWEEN box.vlo AND box.vhi
"""


@declare("q_lake_optimize_zorder", oracle=_OPT_ZORDER_ORACLE, tier="P2")
def q_lake_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY on an EXISTING table: the state lands in
    ARRIVAL order (event_id bands — the natural CDC layout, where a 2-d
    (user_id, value-cents) box predicate must read nearly every file
    because each band spans both dimensions), then
    LakeTable.optimize(["user_id","vc"]) re-clusters the SAME rows
    along the Morton z-value as a retention-safe maintenance commit.
    The declared output is the box read FROM THE OPTIMIZED table
    (hash-checked: the re-cluster must be semantically invisible) plus
    the pre-optimize pruning accounting (oracle-exact per-band ranges)
    and an `improved` flag the oracle fixes at 1 — if the optimized
    layout ever fails to prune strictly better than arrival order, the
    Spark side emits 0 and the hash check fails. The post-optimize
    file count depends on range-sampling boundaries (as in Delta), so
    the WIN is oracle-pinned as an invariant while the exact after
    count is pinned by unit test (tests/test_optimize_zorder.py).

    Scale notes (100 TB): re-clustering is one sort-shuffle of the
    table (amortized maintenance, same cost class as compaction) that
    converts every later 2-d point/box query from O(files) to
    O(box-overlapping files); readers of prior versions and concurrent
    writers are untouched (same conflict rules as compact)."""
    from mysql_to_clickhouse_sync_spark.sinks.merge import data_file_sizes
    from mysql_to_clickhouse_sync_spark.streaming.cdc import (
        UPSERT as _UP,
        latest_per_key,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "event_type", "value")
    )
    latest = latest_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).withColumn("vc", F.expr("CAST(floor(value * 100) AS BIGINT)"))
    mx_eid, umn, umx, vmn, vmx = (
        int(x)
        for x in latest.agg(
            F.max("event_id"),
            F.min("user_id"),
            F.max("user_id"),
            F.min("vc"),
            F.max("vc"),
        ).collect()[0]
    )
    width = max(SKIP_MIN_WIDTH, (1 + mx_eid) // SKIP_TARGET_FILES)
    log = latest.withColumn(
        "band", F.expr(f"event_id div {width}")
    ).withColumn(OP_COL, F.lit(_UP))
    ulo, uhi = umn + (umx - umn) // 8, umn + (umx - umn) // 3
    vlo, vhi = vmn + (vmx - vmn) // 8, vmn + (vmx - vmn) // 3
    boxes = [("user_id", ulo, uhi), ("vc", vlo, vhi)]
    with scratch_table(
        spark,
        keys=["user_id"],
        version_cols=["ts", "event_id"],
        retention=1,
        partition_files_by="band",
    ) as table:
        table.merge(log, batch_id=0)
        _, total_b, read_b = table.read_pruned_all(boxes)
        gen = table.data_paths(table.current_version())[0]
        total_bytes = sum(data_file_sizes(gen))
        table.optimize(
            ["user_id", "vc"],
            target_file_bytes=max(1, total_bytes // 16),
        )
        pruned, total_a, read_a = table.read_pruned_all(boxes)
        out = (
            pruned.filter(
                F.col("user_id").between(ulo, uhi)
                & F.col("vc").between(vlo, vhi)
            )
            .select(
                "user_id", "event_id", "ts", "event_type", "value", "vc"
            )
            .withColumn("files_total_before", F.lit(total_b).cast("long"))
            .withColumn("files_read_before", F.lit(read_b).cast("long"))
            .withColumn(
                "improved",
                F.lit(1 if read_a < read_b else 0).cast("long"),
            )
        )
        return out.localCheckpoint(eager=True)


# -- incremental, scoped OPTIMIZE (round 10) ---------------------------------

_OPT_CHUNK_FILES = 3  # files per z-cube commit in the declared fixture

_OPT_INC_ORACLE = f"""
    {EVENTS_US_CTE}
    , st AS (
        SELECT user_id, event_id, ts, event_type, value,
               CAST(floor(value * 100) AS BIGINT) AS vc
        FROM (
            SELECT user_id, event_id, ts, event_type, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events_us WHERE ts IS NOT NULL
        ) WHERE rn = 1
    ), ns AS (
        -- the chunking LAW: the arrival layout is one file per residue
        -- band (user_id % 8), each commit takes exactly chunk_files of
        -- the not-yet-cubed files, so the per-scope progress accounting
        -- is pure arithmetic over the file count
        SELECT CAST(count(DISTINCT user_id % 8) AS BIGINT) AS files_total,
               CAST(count(*) AS BIGINT) AS rows_total,
               CAST(ceil(count(DISTINCT user_id % 8)
                         / {_OPT_CHUNK_FILES}.0) AS BIGINT) AS n_scopes
        FROM st
    ), bnd AS (
        SELECT min(user_id) AS umn, max(user_id) AS umx,
               min(vc) AS vmn, max(vc) AS vmx
        FROM st
    ), box AS (
        SELECT umn + (umx - umn) // 8 AS ulo,
               umn + (umx - umn) // 3 AS uhi,
               vmn + (vmx - vmn) // 8 AS vlo,
               vmn + (vmx - vmn) // 3 AS vhi
        FROM bnd
    ), bh AS (
        SELECT CAST(count(*) AS BIGINT) AS box_hits
        FROM st, box
        WHERE user_id BETWEEN ulo AND uhi AND vc BETWEEN vlo AND vhi
    )
    SELECT CAST(s.scope AS BIGINT) AS scope,
           CAST(least({_OPT_CHUNK_FILES},
                      ns.files_total - (s.scope - 1) * {_OPT_CHUNK_FILES})
               AS BIGINT) AS files_in,
           ns.files_total, ns.n_scopes, ns.n_scopes AS commits_total,
           ns.rows_total, bh.box_hits
    FROM ns, bh,
         (SELECT unnest(range(1, (SELECT n_scopes FROM ns) + 1)) AS scope) s
"""


@declare("q_lake_optimize_incremental", oracle=_OPT_INC_ORACLE, tier="P2")
def q_lake_optimize_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL OPTIMIZE ZORDER, per-scope progress oracle-checked:
    the CDC state lands as one file per arrival band, then
    LakeTable.optimize_incremental z-orders it in bounded chunks — ONE
    optimistic commit per chunk (a 'z-cube', the liquid-clustering
    shape), per-file ownership in the manifest (file_refs), completed
    cubes recorded so the operation RESUMES after a crash. The declared
    output is one row per committed chunk: the scope's file intake, the
    total file count, the scope count, and the total commits actually
    made, plus the final table's row count and a 2-d box read through
    read_pruned_all ON THE MID-GENERATION REFS SNAPSHOT — so the oracle
    re-derives the chunking law (ceil(files/chunk) commits, each taking
    exactly chunk_files until exhaustion, zero rework across a
    crash/restart boundary) and the data's survival, not just the
    effect. The resume is real: scope 1 commits through one handle,
    then a FRESH LakeTable handle (nothing in memory) finishes from the
    manifest markers; any redone or skipped chunk breaks files_in /
    commits_total against the oracle's arithmetic.

    Scale notes (100 TB): this is the maintenance shape optimize()'s
    single atomic rewrite cannot be at scale — per-commit transient
    storage is bounded by one chunk, a lost executor hour loses at most
    one chunk, and every commit obeys merge's optimistic-concurrency
    rules so writers keep landing between chunks. Cross-cube z-ranges
    may overlap (cubes cluster within themselves); read_pruned_all
    still skips per file, and a later full optimize()/compact() folds
    the cubes into one globally-sorted generation when a single commit
    is affordable. Cites the reference's full-load-then-incremental
    posture (mysql_to_clickhouse_sync.py:97-116): maintenance must
    never require stopping the feed."""
    from mysql_to_clickhouse_sync_spark.streaming.cdc import (
        UPSERT as _UP,
        latest_per_key,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(*_COLS)
    )
    latest = latest_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).withColumn("vc", F.expr("CAST(floor(value * 100) AS BIGINT)"))
    log = latest.withColumn("band", F.expr("user_id % 8")).withColumn(
        OP_COL, F.lit(_UP)
    )
    umn, umx, vmn, vmx = (
        int(x)
        for x in latest.agg(
            F.min("user_id"), F.max("user_id"), F.min("vc"), F.max("vc")
        ).collect()[0]
    )
    boxes = [
        ("user_id", umn + (umx - umn) // 8, umn + (umx - umn) // 3),
        ("vc", vmn + (vmx - vmn) // 8, vmn + (vmx - vmn) // 3),
    ]
    with scratch_table(
        spark,
        keys=["user_id"],
        version_cols=["ts", "event_id"],
        retention=2,
        partition_files_by="band",
    ) as table:
        table.merge(log, batch_id=0)
        files_total = len(table.data_files())
        # scope 1 through THIS handle, then a fresh handle resumes: the
        # crash/restart boundary the manifest markers exist for
        recs = table.optimize_incremental(
            ["user_id", "vc"], chunk_files=_OPT_CHUNK_FILES, max_scopes=1
        )
        resumed = LakeTable(
            spark,
            table.path,
            keys=["user_id"],
            version_cols=["ts", "event_id"],
            retention=2,
        )
        recs += resumed.optimize_incremental(
            ["user_id", "vc"], chunk_files=_OPT_CHUNK_FILES
        )
        pruned, _tot, _read = resumed.read_pruned_all(boxes)
        box_hits = pruned.filter(
            F.col("user_id").between(*boxes[0][1:])
            & F.col("vc").between(*boxes[1][1:])
        ).count()
        rows_total = resumed.read().count()
        out = [
            (
                i + 1,
                r["files_in"],
                files_total,
                len(recs),
                len(recs),
                rows_total,
                box_hits,
            )
            for i, r in enumerate(recs)
        ]
        return spark.createDataFrame(
            out,
            "scope bigint, files_in bigint, files_total bigint,"
            " n_scopes bigint, commits_total bigint, rows_total bigint,"
            " box_hits bigint",
        )


_OPT_BUCKET_ORACLE = f"""
    {EVENTS_US_CTE}
    , st AS (
        SELECT user_id, event_id, ts, event_type, value,
               CAST(floor(value * 100) AS BIGINT) AS vc
        FROM (
            SELECT user_id, event_id, ts, event_type, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events_us WHERE ts IS NOT NULL
        ) WHERE rn = 1
    ), mx AS (
        SELECT max(ts) AS m FROM events_us WHERE ts IS NOT NULL
    )
    -- final state: the post-optimize probe merge wins for its users
    -- (newer ts under the version total order); flags are LAWS the
    -- Spark side must observe (1) or fail the hash
    SELECT user_id, event_id, ts, event_type, value, vc,
           CAST(1 AS BIGINT) AS partial_ok,
           CAST(1 AS BIGINT) AS resumed_ok,
           CAST(1 AS BIGINT) AS idempotent_ok,
           CAST(1 AS BIGINT) AS stale_ok,
           CAST(1 AS BIGINT) AS revisit_ok
    FROM st WHERE user_id % 13 <> 5
    UNION ALL
    SELECT user_id, CAST(0 AS BIGINT),
           (SELECT m FROM mx) + INTERVAL 1 SECOND,
           'optimize_probe', CAST(-1.0 AS DOUBLE), CAST(-100 AS BIGINT),
           CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT),
           CAST(1 AS BIGINT), CAST(1 AS BIGINT)
    FROM (SELECT DISTINCT user_id FROM st WHERE user_id % 13 = 5)
"""


@declare("q_lake_optimize_bucketed", oracle=_OPT_BUCKET_ORACLE, tier="P2")
def q_lake_optimize_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-BUCKET OPTIMIZE ZORDER on the bucketed layout — the engine's
    own 100 TB CDC landing shape, which round 9's optimize() refused.
    The state seeds a 4-bucket table; optimize(max_scopes=2) commits
    exactly two per-bucket rewrites (partial_ok pins the marker count);
    a FRESH handle resumes to completion from the manifest markers
    (resumed_ok); a further optimize() advances no version
    (idempotent_ok); a probe merge then rewrites SOME buckets and must
    stale exactly those buckets' markers (stale_ok — ownership moved);
    the final optimize() revisits only the drifted buckets, one commit
    each (revisit_ok). The declared rows are the final live state read
    through all of it, hash-checked against the pure-SQL fold of the
    seed plus the probe wave — the re-clustering must be semantically
    invisible at every step.

    Scale notes (100 TB): bucket-by-bucket commits make OPTIMIZE
    resumable (a crash loses at most one bucket's rewrite), bound
    transient storage to one bucket, and let concurrent
    merge_with_retry writers land between scopes under the standard
    conflict rules; marker staleness scopes the NEXT maintenance run to
    exactly the buckets the feed drifted, so steady-state re-cluster
    cost tracks the write rate, not the table size."""
    from mysql_to_clickhouse_sync_spark.streaming.cdc import (
        UPSERT as _UP,
        latest_per_key,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(*_COLS)
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]
    latest = latest_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).withColumn("vc", F.expr("CAST(floor(value * 100) AS BIGINT)"))
    zcols = ["user_id", "vc"]
    with scratch_table(
        spark,
        keys=["user_id"],
        version_cols=["ts", "event_id"],
        retention=2,
        n_buckets=4,
    ) as table:
        table.merge(latest.withColumn(OP_COL, F.lit(_UP)), batch_id=0)

        def _markers(t: LakeTable) -> tuple[dict, dict]:
            m = t.manifest(t.current_version())
            return m["buckets"], m.get("bucket_zorder") or {}

        def _current(bk: dict, mk: dict) -> set:
            return {b for b, o in bk.items() if mk.get(b, [None])[0] == o}

        v0 = table.current_version()
        v1 = table.optimize(zcols, max_scopes=2)
        bk, mk = _markers(table)
        partial_ok = int(
            v1 - v0 == min(2, len(bk))
            and len(_current(bk, mk)) == min(2, len(bk))
        )
        resumed = LakeTable(
            spark,
            table.path,
            keys=["user_id"],
            version_cols=["ts", "event_id"],
            retention=2,
            n_buckets=4,
        )
        v2 = resumed.optimize(zcols)
        bk, mk = _markers(resumed)
        resumed_ok = int(_current(bk, mk) == set(bk))
        idempotent_ok = int(resumed.optimize(zcols) == v2)
        probe = (
            latest.filter(F.col("user_id") % 13 == 5)
            .select("user_id")
            .distinct()
            .select(
                "user_id",
                F.lit(0).cast("long").alias("event_id"),
                (F.lit(mx) + F.expr("INTERVAL 1 SECOND")).alias("ts"),
                F.lit("optimize_probe").alias("event_type"),
                F.lit(-1.0).alias("value"),
                F.lit(-100).cast("long").alias("vc"),
                F.lit(_UP).alias(OP_COL),
            )
        )
        expected_stale = {
            str(r[0])
            for r in probe.select(
                F.pmod(F.hash(F.col("user_id")), F.lit(4)).cast("int")
            )
            .distinct()
            .collect()
        }
        resumed.merge(probe, batch_id=1)
        bk, mk = _markers(resumed)
        stale = set(bk) - _current(bk, mk)
        stale_ok = int(stale == expected_stale)
        v3 = resumed.optimize(zcols)
        bk, mk = _markers(resumed)
        revisit_ok = int(
            v3 - resumed.manifest(v3)["parent"] == 1
            and v3 - (v2 + 1) == len(stale)
            and _current(bk, mk) == set(bk)
        )
        out = (
            resumed.read()
            .select("user_id", "event_id", "ts", "event_type", "value", "vc")
            .withColumn("partial_ok", F.lit(partial_ok).cast("long"))
            .withColumn("resumed_ok", F.lit(resumed_ok).cast("long"))
            .withColumn("idempotent_ok", F.lit(idempotent_ok).cast("long"))
            .withColumn("stale_ok", F.lit(stale_ok).cast("long"))
            .withColumn("revisit_ok", F.lit(revisit_ok).cast("long"))
        )
        return out.localCheckpoint(eager=True)
