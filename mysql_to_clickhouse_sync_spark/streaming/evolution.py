"""CDC schema evolution: the upstream table gains a column MID-STREAM.

The reference re-derives columns per batch from dict keys
(mysql_to_clickhouse_sync.py:56), so an upstream ALTER TABLE ADD COLUMN
mid-copy silently produces ragged INSERTs. A binlog replayer hits the
same moment: envelopes serialized before the ALTER lack the new field.
The engine's contract is the Debezium-standard one — parse EVERY envelope
with the WIDEST (current) payload schema; `from_json` leaves absent
fields NULL, so pre-ALTER rows flow through the SAME versioned merge with
NULL in the new column, and the final state is exact.

The TARGET side of the same drift is sinks/ddl.py `alter_table_ddl`:
an old-vs-new StructType diff rendered as idempotent `ALTER TABLE …
ADD COLUMN IF NOT EXISTS` / safe `MODIFY COLUMN` ClickHouse DDL.
s_cdc_schema_drift emits and logs those statements before the stream
starts, so a live sink would widen the table before the first post-ALTER
insert (execution needs a live ClickHouse, which
this sandbox lacks — the statements are generated and unit-tested,
never faked).

This is the streaming twin of the batch q_schema_drift
(operators/normalize.py): there the two extracts union by name; here the
two wire generations interleave through one parser + one CDC merge, and
the FULL oracle pins the converged state (latest row per user; the new
column populated iff the winning row post-dates the ALTER).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import EVENTS_US_CTE, load_table
from mysql_to_clickhouse_sync_spark.registry import declare
from mysql_to_clickhouse_sync_spark.sinks.ddl import alter_table_ddl
from mysql_to_clickhouse_sync_spark.sources.binlog import (
    FILE_COL,
    POS_COL,
    parse_debezium,
    to_debezium_envelopes,
)
from mysql_to_clickhouse_sync_spark.streaming.cdc import (
    apply_changelog,
    as_state,
    live_rows,
)
from mysql_to_clickhouse_sync_spark.streaming.driver import FileStream
from mysql_to_clickhouse_sync_spark.streaming.tuning import tuned

_LOG = logging.getLogger(__name__)

ALTER_TS = "2024-01-20 00:00:00"  # the moment the upstream ALTER lands
_V1_COLS = ["event_id", "ts", "user_id", "event_type", "value"]
_V2_COLS = _V1_COLS + ["props"]  # post-ALTER wire carries the new column

_ORACLE = f"""
    {EVENTS_US_CTE},
    ranked AS (
        SELECT event_id, ts, user_id, event_type, value,
               CASE WHEN ts >= TIMESTAMP '{ALTER_TS}' THEN props END AS props,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events_us
    )
    SELECT event_id, ts, user_id, event_type, value, props
    FROM ranked WHERE rn = 1
"""


@declare("s_cdc_schema_drift", oracle=_ORACLE, tier="P3")
@tuned
def s_cdc_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two wire generations through one CDC pipeline: pre-ALTER envelopes
    lack `props`, post-ALTER envelopes carry it; both parse under the wide
    schema (absent field -> NULL) and merge with (ts, event_id)
    versioning. The converged state must equal the batch latest-per-user
    with props present only on post-ALTER winners."""
    events = load_table(spark, sf_dir, "events")
    v1 = events.filter(F.col("ts") < F.lit(ALTER_TS))
    v2 = events.filter(F.col("ts") >= F.lit(ALTER_TS))
    wide_schema = events.select(*_V2_COLS).schema

    state = {"df": as_state(spark.createDataFrame([], wide_schema))}

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        state["df"] = apply_changelog(
            state["df"],
            batch_df.drop(FILE_COL, POS_COL),
            keys=["user_id"],
            version_cols=["ts", "event_id"],
        ).localCheckpoint(eager=True)

    # The ALTER's target-side half: the idempotent ClickHouse DDL that
    # widens the sink table (logged here; a live deployment would execute
    # it before the first post-ALTER insert).
    for stmt in alter_table_ddl(
        events.select(*_V1_COLS).schema,
        wide_schema,
        "events_cdc",
        order_by=("user_id",),  # the CDC merge key = CH ORDER BY key
    ):
        _LOG.info("schema drift DDL: %s", stmt)
    # generation 1 on the wire WITHOUT props (pre-ALTER serializer), then
    # generation 2 carrying the new column
    generations = [
        to_debezium_envelopes(v1.select(*_V1_COLS), _V1_COLS, F.lit(False)),
        to_debezium_envelopes(v2.select(*_V2_COLS), _V2_COLS, F.lit(False)),
    ]
    with FileStream(spark) as fs:
        fs.run(
            generations,
            merge,
            lambda raw: parse_debezium(raw, wide_schema),
            fmt="text",
        )
    return live_rows(state["df"]).select(*_V2_COLS)
