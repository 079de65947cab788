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
from mysql_to_clickhouse_sync_spark.streaming.driver import FileStream
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

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        state["df"] = apply_changelog(
            state["df"],
            batch_df.drop(FILE_COL, POS_COL),
            keys=["user_id"],
            version_cols=["ts", "event_id"],
        ).localCheckpoint(eager=True)

    # Deliberately un-ordered slices: event_id % N interleaves time. Each
    # slice lands as one rotated envelope file (binlog.00000i.jsonl), the
    # name the source's {file, pos} offsets refer to.
    slices = [
        to_debezium_envelopes(
            post.filter(F.col("event_id") % N_SLICES == i),
            COLS,
            F.col("event_type") == "error",
        )
        for i in range(N_SLICES)
    ]
    register(spark)
    with FileStream(spark) as fs:
        fs.run(
            slices,
            merge,
            lambda raw: parse_debezium(raw, payload_schema),
            fmt=FORMAT_NAME,
        )
    return live_rows(state["df"])
