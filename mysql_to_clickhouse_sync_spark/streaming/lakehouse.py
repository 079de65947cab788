"""CDC stream landing in the lakehouse MERGE sink — the production path.

s_cdc_apply (streaming/declared.py) proves the MERGE ALGEBRA converges
under any micro-batch slicing, but its state lives in a driver-held
DataFrame. This stream runs the same snapshot-then-changelog pipeline
with the state where production keeps it: a sinks/merge.py `LakeTable`,
every micro-batch committed through the exactly-once foreachBatch writer
(atomic generation publish, batch-id watermark, tombstone persistence).
The declared result is the final table read back FROM STORAGE — so the
oracle hash checks the full loop: wire slices -> MERGE commits ->
manifest/pointer -> parquet -> live rows. Reference contrast: this is
the durable form of the ReplacingMergeTree target the reference assumes
on the ClickHouse side (SURVEY §1.2), with time travel the reference's
TRUNCATE-and-recopy recovery story lacks.

Scale notes: per micro-batch, one key shuffle (apply_changelog window)
plus a state-table rewrite — at 100 TB the state is key-hash-partitioned
so only touched partitions rewrite (sinks/merge.py scale notes); the
commit itself is O(1) filesystem metadata regardless of data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import (
    EVENTS_US_CTE,
    load_table,
)
from mysql_to_clickhouse_sync_spark.registry import declare
from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable, expect
from mysql_to_clickhouse_sync_spark.streaming.cdc import (
    DELETE as DELETE_OP,
    OP_COL,
    UPSERT as UPSERT_OP,
    as_state,
    latest_per_key,
)
from mysql_to_clickhouse_sync_spark.streaming.declared import (
    _CDC_APPLY_ORACLE,
    N_STREAM_FILES,
    SPLIT_TS,
    _changelog_from_events,
)
from mysql_to_clickhouse_sync_spark.streaming.driver import FileStream
from mysql_to_clickhouse_sync_spark.streaming.tuning import tuned


@declare("s_lake_merge", oracle=_CDC_APPLY_ORACLE, tier="P3")
@tuned
def s_lake_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot + binlog-replay CDC through the LakeTable MERGE sink:
    version 0 is the bulk snapshot commit, each replayed micro-batch is
    one exactly-once MERGE commit, and the declared output is the final
    version read back from parquet. Oracle-equal to s_cdc_apply — the
    storage layer must be semantically invisible."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    cols = ["user_id", "event_id", "ts", "event_type", "value"]
    snapshot = as_state(
        latest_per_key(
            events.filter(F.col("ts") < F.lit(SPLIT_TS)).select(cols),
            ["user_id"],
            [F.col("ts").desc(), F.col("event_id").desc()],
        )
    )
    changelog = _changelog_from_events(events).select(*cols, OP_COL)
    slices = [
        changelog.filter(F.col("event_id") % N_STREAM_FILES == i)
        for i in range(N_STREAM_FILES)
    ]

    with FileStream(spark) as fs:
        table = LakeTable(
            spark,
            f"{fs.workdir}/state",
            keys=["user_id"],
            version_cols=["ts", "event_id"],
            retention=N_STREAM_FILES,
        )
        table.merge(snapshot)  # version 0: the reference's bulk copy
        fs.run(slices, table.writer())
        # one commit per micro-batch landed, watermark at the last batch
        expect("lake version", N_STREAM_FILES, table.current_version())
        expect("batch watermark", N_STREAM_FILES - 1, table.last_batch())
        return table.read().localCheckpoint(eager=True)


@declare("s_lake_merge_dv", oracle=_CDC_APPLY_ORACLE, tier="P3")
@tuned
def s_lake_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s_lake_merge pipeline with SPARSE DELETE micro-batches routed
    through the DELETION-VECTOR path (writer(dv_deletes=True)): the
    all-delete batch commits O(deleted keys) bytes with zero data
    rewrite, the stream keeps flowing, and the NEXT merge batch folds
    the vectors into its rewrite — maintenance beside the stream through
    the same retry-classified commit path. Identical oracle to
    s_lake_merge: the physical delete route must be semantically
    invisible (both paths run apply_changelog under the same version
    total order, so dv tombstones still beat out-of-order older
    upserts after the fold).

    Scale notes (100 TB CDC): delete bursts (GDPR erasure sweeps,
    retention jobs) are exactly the batches where a rewrite-path commit
    costs O(touched-bucket bytes) for a few thousand keys; the dv route
    makes them O(deleted keys) while reads stay exact (apply-at-read)
    and read amplification stays bounded by the armed fold policy."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    cols = ["user_id", "event_id", "ts", "event_type", "value"]
    snapshot = as_state(
        latest_per_key(
            events.filter(F.col("ts") < F.lit(SPLIT_TS)).select(cols),
            ["user_id"],
            [F.col("ts").desc(), F.col("event_id").desc()],
        )
    )
    changelog = _changelog_from_events(events).select(*cols, OP_COL)
    # slice so the MIDDLE micro-batch is PURE deletes: convergence is
    # slicing-independent (the s_cdc_apply law), so regrouping by op is
    # as valid as regrouping by event_id — and it produces exactly the
    # delete-burst shape the dv route exists for
    ups = changelog.filter(F.col(OP_COL) == UPSERT_OP)
    slices = [
        ups.filter(F.col("event_id") % 2 == 0),
        changelog.filter(F.col(OP_COL) == DELETE_OP),
        ups.filter(F.col("event_id") % 2 == 1),
    ]

    with FileStream(spark) as fs:
        # retention = #slices keeps versions 1..3 for the routing check
        table = LakeTable(
            spark,
            f"{fs.workdir}/state",
            keys=["user_id"],
            version_cols=["ts", "event_id"],
            retention=len(slices),
        )
        table.merge(snapshot)  # version 0: the reference's bulk copy
        fs.run(slices, table.writer(dv_deletes=True))
        ops = [
            table.manifest(v)["operation"] for v in range(1, len(slices) + 1)
        ]
        if ops != ["merge", "delete-vector", "merge"]:
            raise ValueError(
                f"dv routing did not take the expected paths: {ops}"
            )
        if table.manifest(table.current_version()).get("dv"):
            raise ValueError("the post-delete merge must fold the vectors")
        return table.read().localCheckpoint(eager=True)


EVOLVE_SPLIT = "2024-01-21 00:00:00"  # the upstream ALTER lands here

_LAKE_EVOLVE_ORACLE = """
    {events_us}
    , ranked AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts >= TIMESTAMP '{split}'
                    THEN event_type END AS event_type,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events_us WHERE ts IS NOT NULL
    )
    SELECT user_id, event_id, ts, value, event_type
    FROM ranked WHERE rn = 1
""".format(split=EVOLVE_SPLIT, events_us=EVENTS_US_CTE)


@declare("s_lake_evolve", oracle=_LAKE_EVOLVE_ORACLE, tier="P3")
@tuned
def s_lake_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The upstream table gains a column MID-STREAM and the CDC feed
    keeps landing in the SAME LakeTable: generation 1 streams the
    narrow pre-ALTER schema, then — exactly as a real connector does
    after an upstream ALTER — the stream restarts with the wide schema
    (a Structured Streaming source's schema is fixed per run) and its
    commits MERGE with schema evolution: pre-drift state null-fills,
    the manifest bumps schema_version and carries the ClickHouse ALTER
    twin, and the exactly-once watermark stays monotonic ACROSS the
    restart (the second run's batch ids are offset by the committed
    watermark — restarting a connector must not replay or skip). Time
    travel keeps the narrow versions under their own schema. The
    declared output is the converged state read back from storage;
    the oracle pins event_type present only on post-ALTER winners."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    narrow_cols = ["user_id", "event_id", "ts", "value"]
    wide_cols = [*narrow_cols, "event_type"]
    narrow = as_state(
        events.filter(F.col("ts") < F.lit(EVOLVE_SPLIT)).select(*narrow_cols)
    )
    wide = as_state(
        events.filter(F.col("ts") >= F.lit(EVOLVE_SPLIT)).select(*wide_cols)
    )
    n_slices = 2  # micro-batches per wire generation

    def sliced(gen_df: DataFrame) -> list[DataFrame]:
        return [
            gen_df.filter(F.col("event_id") % n_slices == i)
            for i in range(n_slices)
        ]

    with FileStream(spark) as fs:
        table = LakeTable(
            spark,
            f"{fs.workdir}/state",
            keys=["user_id"],
            version_cols=["ts", "event_id"],
            retention=2 * n_slices,
        )
        fs.run(sliced(narrow), table.writer())
        pre_drift_version = table.current_version()
        expect(
            "pre-drift schema_version",
            0,
            table.manifest(pre_drift_version)["schema_version"],
        )
        # the ALTER lands; the connector restarts with the wide schema.
        # Batch ids restart at 0 in the new checkpoint — offset them by
        # the committed watermark so exactly-once survives the restart.
        base = table.last_batch() + 1
        fs.run(
            sliced(wide),
            lambda df, bid: table.merge(df, batch_id=bid + base),
        )
        m = table.manifest(table.current_version())
        expect("post-drift schema_version", 1, m["schema_version"])
        expect("batch watermark", base + n_slices - 1, table.last_batch())
        # time travel: the pre-drift version keeps its narrow schema
        expect(
            "event_type in the pre-drift version",
            False,
            "event_type" in table.read(version=pre_drift_version).columns,
        )
        return table.read().localCheckpoint(eager=True)


# -- streaming incremental ANN (round 8) ----------------------------------

from mysql_to_clickhouse_sync_spark.operators.ivf import (  # noqa: E402
    INC_TRAIN_MOD,
    _bulk_base,
    _bulk_cte,
    _bulk_score,
    _make_ranker,
)

ANN_STREAM_SLICES = 3  # micro-batches of post-training arrivals

_ANN_STREAM_ORACLE = f"""
    WITH {_bulk_cte(f"vec_id % {INC_TRAIN_MOD} <> {INC_TRAIN_MOD - 1}")}
    SELECT query_id, neighbor_id, cosine FROM bulk
    """


@declare("s_ann_stream", oracle=_ANN_STREAM_ORACLE, tier="P3")
@tuned
def s_ann_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE incremental ANN indexing: q_ann_incremental taken to a
    live stream. The quantizer trains once on the already-ingested
    prefix (vec_id % 4 != 3) and commits the prefix index as version
    0; later arrivals then flow in MICRO-BATCHES — each foreachBatch
    ranks only its batch's vectors under the frozen quantizer (map-
    only; the centroid arrays are a Spark broadcast) and lands one
    exactly-once LakeTable MERGE commit. Retrieval probes the
    committed union read back from storage. The law is ORDER-
    INDEPENDENT given the prefix boundary — each arrival's list
    assignment depends only on the frozen quantizer, and MERGE is
    slicing-insensitive — so the full q_ann_incremental oracle
    applies: how the arrivals were micro-batched must be invisible
    in the hash.

    Scale notes: per micro-batch cost is O(batch) ranking + one
    incremental commit; the index never rebuilds while serving. A
    restart mid-stream resumes from the committed watermark
    (tests/test_ivf_and_stream_joins.py pins restart-equivalence)."""
    from mysql_to_clickhouse_sync_spark.streaming.cdc import UPSERT, live_rows

    train_pred = F.col("vec_id") % INC_TRAIN_MOD != INC_TRAIN_MOD - 1
    base = _bulk_base(spark, sf_dir)
    cbase = base.filter(train_pred)
    ranker = _make_ranker(cbase)
    schema = "vec_id long, centroid_id long, rn long"
    arrivals = base.filter(~train_pred)

    slices = [
        arrivals.filter(
            F.expr(f"(vec_id div {INC_TRAIN_MOD}) % {ANN_STREAM_SLICES}") == i
        )
        for i in range(ANN_STREAM_SLICES)
    ]

    with FileStream(spark) as fs:
        table = LakeTable(
            spark,
            f"{fs.workdir}/ivf_index",
            keys=["vec_id", "rn"],
            version_cols=["centroid_id"],
            retention=ANN_STREAM_SLICES + 1,
        )
        # version 0: the prefix index (the "already-ingested" corpus)
        table.merge(
            cbase.mapInPandas(ranker, schema).withColumn(OP_COL, F.lit(UPSERT))
        )

        def land(batch_df: DataFrame, batch_id: int) -> None:
            ranked = batch_df.mapInPandas(ranker, schema)
            table.merge_with_retry(
                ranked.withColumn(OP_COL, F.lit(UPSERT)), batch_id=batch_id
            )

        fs.run(slices, land)
        expect("lake version", ANN_STREAM_SLICES, table.current_version())
        expect("batch watermark", ANN_STREAM_SLICES - 1, table.last_batch())
        persisted = live_rows(table.raw()).select(
            "vec_id", "centroid_id", "rn"
        )
        return _bulk_score(base, persisted).localCheckpoint(eager=True)
