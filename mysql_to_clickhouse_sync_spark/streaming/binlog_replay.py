"""End-to-end binlog replay: wire format → stream → CDC merge, full oracle.

The reference's complete north-star pipeline (BASELINE.json): bulk snapshot,
then resume from the recorded binlog offset (metadata.txt,
mysql_to_clickhouse_sync.py:175-183) and keep the sink converged. Here the
post-snapshot events are serialized to rotated Debezium envelope FILES (the
wire a replayer emits), streamed back through the custom `binlogdir` Python
DataSource (sources/binlog_datasource.py — offsets are literally
{file, pos}, the reference's metadata.txt pair), parsed, and folded onto the
snapshot with `apply_changelog` — so the declared result exercises the
custom source's offset tracking, envelope parsing, micro-batching, AND the
versioned merge in one query.

Unlike s_cdc_apply (rows-only check), this one carries a FULL DuckDB
oracle: snapshot(latest-per-key pre-split) merged with every post-split
change under (ts, event_id) versioning is relationally just "latest event
per user over all events, minus users whose latest is a post-split delete".

Determinism under disorder: micro-batch slices are keyed by event_id % N —
deliberately NOT time-ordered — so changes arrive out of order across
batches. The merge converges anyway: latest-per-key with retained
tombstones is associative/commutative over versions, which is exactly why
the oracle can ignore batching entirely.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import EVENTS_US_CTE, load_table
from mysql_to_clickhouse_sync_spark.registry import declare
from mysql_to_clickhouse_sync_spark.sources.binlog import (
    FILE_COL,
    POS_COL,
    parse_debezium,
    to_debezium_envelopes,
)
from mysql_to_clickhouse_sync_spark.sources.binlog_datasource import (
    FORMAT_NAME,
    register,
)
from mysql_to_clickhouse_sync_spark.streaming.cdc import (
    apply_changelog,
    as_state,
    latest_per_key,
    live_rows,
)
from mysql_to_clickhouse_sync_spark.streaming.tuning import tuned

SPLIT_TS = "2024-01-20 00:00:00"
N_SLICES = 3
COLS = ["event_id", "ts", "user_id", "event_type", "value"]

_ORACLE = f"""
    {EVENTS_US_CTE},
    tagged AS (
        SELECT event_id, ts, user_id, event_type, value,
               (event_type = 'error' AND ts >= TIMESTAMP '{SPLIT_TS}')
                   AS is_delete
        FROM events_us
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM tagged
    )
    SELECT event_id, ts, user_id, event_type, value
    FROM ranked WHERE rn = 1 AND NOT is_delete
"""


@declare("s_binlog_replay", oracle=_ORACLE, tier="P3")
@tuned
def s_binlog_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pre = events.filter(F.col("ts") < F.lit(SPLIT_TS)).select(COLS)
    post = events.filter(F.col("ts") >= F.lit(SPLIT_TS)).select(COLS)

    state = {
        "df": as_state(
            latest_per_key(
                pre, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
            )
        )
    }
    payload_schema = events.select(*COLS).schema

    workdir = tempfile.mkdtemp(prefix="binlog_replay_")
    in_dir = os.path.join(workdir, "feed")
    os.makedirs(in_dir)

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        state["df"] = apply_changelog(
            state["df"],
            batch_df.drop(FILE_COL, POS_COL),
            keys=["user_id"],
            version_cols=["ts", "event_id"],
        ).localCheckpoint(eager=True)

    # Round 11: serialize ALL slices in ONE partitioned write job (guide
    # §1.2 — the per-slice coalesce(1) writes scanned and enveloped the
    # post-split events once PER SLICE, 3 jobs for one pass of work).
    # repartition(N, slice) puts each slice wholly in one task, so every
    # slice=i directory holds exactly one part file; files still move into
    # the tailed directory one rotation at a time, preserving the
    # micro-batch slicing (which the oracle is independent of anyway).
    slices_dir = os.path.join(workdir, "slices")
    tagged = post.withColumn(
        "slice", (F.col("event_id") % N_SLICES).cast("int")
    )
    to_debezium_envelopes(
        tagged,
        COLS,
        F.col("event_type") == "error",
        extra_cols=("slice",),
    ).repartition(N_SLICES, "slice").write.partitionBy("slice").mode(
        "overwrite"
    ).text(slices_dir)

    def emit_rotated_file(i: int) -> None:
        # Move slice i under the binlog-style name the offsets refer to.
        d = os.path.join(slices_dir, f"slice={i}")
        dest = os.path.join(in_dir, f"binlog.{i + 1:06d}.jsonl")
        parts = (
            [f for f in os.listdir(d) if f.startswith("part-")]
            if os.path.isdir(d)
            else []
        )
        if len(parts) > 1:
            # A retried task can leave a second part file; rotating only
            # the first would drop the other's rows.
            raise RuntimeError(
                f"slice {i} has {len(parts)} part files in {d}: {sorted(parts)}"
            )
        if parts:
            os.rename(os.path.join(d, parts[0]), dest)
        else:  # empty slice: still rotate a file so the offset advances
            open(dest, "w").close()

    query = None
    try:
        register(spark)
        raw = (
            spark.readStream.format(FORMAT_NAME)
            .option("path", in_dir)
            .load()
        )
        stream = (
            parse_debezium(raw, payload_schema)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        )
        # Deliberately un-ordered slices: event_id % N interleaves time.
        for i in range(N_SLICES):
            emit_rotated_file(i)
            if query is None:
                query = stream.start()
            query.processAllAvailable()
        return live_rows(state["df"])
    finally:
        if query is not None:
            query.stop()
        shutil.rmtree(workdir, ignore_errors=True)
