"""MySQL binlog row-event envelope source (Debezium / Maxwell JSON).

The reference never tails the binlog itself — it records (file, position,
gtid) to metadata.txt under the snapshot lock
(mysql_to_clickhouse_sync.py:175-183) precisely so a binlog replayer can
resume from that offset. The standard public wire formats such a replayer
emits are the Debezium and Maxwell JSON envelopes: one JSON document per
row-change, carrying the operation, the row image(s), and the source
offset. This module parses those envelopes into the `(payload..., op)`
changelog frame that `streaming/cdc.apply_changelog` consumes, closing the
reference's snapshot→stream loop end to end.

Transports:
  * files (`read_envelope_stream`) — a directory of JSON-lines, the shape a
    replayer or a Kafka-Connect file sink lands; fully testable here.
  * Kafka (`read_envelope_kafka`) — the usual production transport; the
    spark-sql-kafka connector jar is not in this environment, so the
    reader raises a clear RuntimeError at plan time (gated, tested).

Scale notes: parsing is `from_json` inside the scan's codegen span — a pure
map, no shuffle, no Python. Envelope malformation follows the reader's
PERMISSIVE policy: a bad document yields a NULL envelope struct which
`quarantine_malformed` splits out for auditing instead of killing the
stream (the reference aborts a whole 1000-row INSERT on one bad value,
S:85-91).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from mysql_to_clickhouse_sync_spark.registry import declare
from mysql_to_clickhouse_sync_spark.streaming.cdc import DELETE, OP_COL, UPSERT

# JSON timestamp format with microsecond fidelity — Spark's writers/parsers
# default to millisecond precision, which silently truncates the fixture's
# microsecond event times (see tests/test_formats.py for the same pin).
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
# timestampNTZFormat too: NTZ columns format/parse via their own option, so
# an NTZ payload reaching this path would otherwise floor µs→ms silently
# (catalog.load_table normalizes NTZ away, but the envelope codecs must be
# safe for caller-supplied frames as well).
_JSON_OPTS = {"timestampFormat": TS_FMT, "timestampNTZFormat": TS_FMT}

# Debezium op codes: c=create, r=snapshot-read, u=update, d=delete.
_DEBEZIUM_DELETE = "d"

POS_COL = "_binlog_pos"
FILE_COL = "_binlog_file"


def debezium_envelope_schema(payload_schema: StructType) -> StructType:
    return StructType(
        [
            StructField("before", payload_schema),
            StructField("after", payload_schema),
            StructField("op", StringType()),
            StructField("ts_ms", LongType()),
            StructField(
                "source",
                StructType(
                    [
                        StructField("file", StringType()),
                        StructField("pos", LongType()),
                    ]
                ),
            ),
        ]
    )


def maxwell_envelope_schema(payload_schema: StructType) -> StructType:
    return StructType(
        [
            StructField("database", StringType()),
            StructField("table", StringType()),
            StructField("type", StringType()),
            StructField("ts", LongType()),
            StructField("xid", LongType()),
            StructField("position", StringType()),
            StructField("data", payload_schema),
        ]
    )


def parse_debezium(
    raw: DataFrame, payload_schema: StructType, raw_col: str = "value"
) -> DataFrame:
    """Debezium envelope JSON → (payload columns..., op, _binlog_file/_pos).

    Deletes carry the row image in `before` (after is null); every other op
    carries it in `after`. Unknown/missing ops map to upsert — Debezium only
    emits c/r/u/d, and treating an unrecognized code as an upsert of the
    surviving image is the lossless default.
    """
    env = debezium_envelope_schema(payload_schema)
    e = raw.select(
        F.from_json(F.col(raw_col), env, _JSON_OPTS).alias("e")
    ).select(
        F.when(F.col("e.op") == _DEBEZIUM_DELETE, F.col("e.before"))
        .otherwise(F.col("e.after"))
        .alias("row"),
        F.when(F.col("e.op") == _DEBEZIUM_DELETE, F.lit(DELETE))
        .otherwise(F.lit(UPSERT))
        .alias(OP_COL),
        F.col("e.source.file").alias(FILE_COL),
        F.col("e.source.pos").alias(POS_COL),
    )
    return e.select("row.*", OP_COL, FILE_COL, POS_COL)


def parse_maxwell(
    raw: DataFrame, payload_schema: StructType, raw_col: str = "value"
) -> DataFrame:
    """Maxwell envelope JSON → (payload columns..., op, _binlog_pos).

    Maxwell puts the full row image in `data` for every type including
    delete; `type` is insert/update/delete (bootstrap-* types are snapshot
    reads → upserts)."""
    env = maxwell_envelope_schema(payload_schema)
    e = raw.select(
        F.from_json(F.col(raw_col), env, _JSON_OPTS).alias("e")
    ).select(
        F.col("e.data").alias("row"),
        F.when(F.col("e.type") == "delete", F.lit(DELETE))
        .otherwise(F.lit(UPSERT))
        .alias(OP_COL),
        F.col("e.position").alias(FILE_COL),
        F.col("e.xid").alias(POS_COL),
    )
    return e.select("row.*", OP_COL, FILE_COL, POS_COL)


_PARSERS = {"debezium": parse_debezium, "maxwell": parse_maxwell}


def quarantine_malformed(parsed: DataFrame, key_col: str) -> tuple[DataFrame, DataFrame]:
    """Split parsed envelopes into (good, quarantined). A malformed JSON
    document parses to an all-NULL struct → NULL key; route it aside rather
    than aborting the batch (contrast S:85-91, whole-INSERT abort)."""
    good = parsed.filter(F.col(key_col).isNotNull())
    bad = parsed.filter(F.col(key_col).isNull())
    return good, bad


def read_envelope_stream(
    spark: SparkSession,
    path: str,
    payload_schema: StructType,
    fmt: str = "debezium",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream a directory of envelope JSON-lines files into a changelog."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(path)
    return _PARSERS[fmt](raw, payload_schema)


def to_debezium_envelopes(
    df: DataFrame, cols: list[str], is_delete: Column
) -> DataFrame:
    """Serialize rows to Debezium envelope JSON strings (single `value`
    column) — deletes put the row image in `before`, everything else in
    `after`. The inverse of parse_debezium; used by the declared queries to
    synthesize a binlog feed from fixture tables."""
    payload = F.struct(*cols)
    return df.select(
        F.to_json(
            F.struct(
                F.when(is_delete, payload).alias("before"),
                F.when(~is_delete, payload).alias("after"),
                F.when(is_delete, F.lit(_DEBEZIUM_DELETE))
                .otherwise(F.lit("u"))
                .alias("op"),
                F.struct(
                    F.lit("binlog.000001").alias("file"),
                    F.col(cols[0]).alias("pos"),
                ).alias("source"),
            ),
            _JSON_OPTS,
        ).alias("value")
    )


@declare(
    "q_binlog_parse",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props,
           CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
    FROM events
    """,
    tier="P0",
)
def q_binlog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the events table through the Debezium wire format: build
    the envelope each row-change would arrive as (error events = deletes,
    row image in `before`; everything else = upserts in `after`), then parse
    it back with the production parser. The oracle checks the parse is
    lossless — µs timestamps, doubles, and embedded-JSON strings included.
    Both halves are from_json/to_json inside codegen: zero shuffles."""
    from mysql_to_clickhouse_sync_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    payload_schema = events.select(*cols).schema
    envelopes = to_debezium_envelopes(
        events, cols, F.col("event_type") == "error"
    )
    return parse_debezium(envelopes, payload_schema).select(*cols, OP_COL)


def read_envelope_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    payload_schema: StructType,
    fmt: str = "debezium",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka transport for the same envelopes — requires the
    spark-sql-kafka connector on the classpath, which this environment does
    not ship; the gate turns Spark's DATA_SOURCE_NOT_FOUND into an
    actionable error instead of a classloading stack."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as exc:  # DATA_SOURCE_NOT_FOUND without the jar
        raise RuntimeError(
            "Kafka envelope source needs the spark-sql-kafka connector on "
            "the classpath (spark-submit --packages "
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>). "
            "Use read_envelope_stream for file transports."
        ) from exc
    return _PARSERS[fmt](
        raw.selectExpr("CAST(value AS STRING) AS value"), payload_schema
    )
