"""Fixture catalog: the engine's table namespace.

The reference discovers tables with ``SHOW TABLES`` and reads them over the
MySQL wire protocol (mysql_to_clickhouse_sync.py:155, :41). Here the catalog
is a directory of parquet files — one per table — which Spark reads with full
predicate pushdown / column pruning. Schemas come free from the parquet
footers, as the reference's come from MySQL's catalog (S:41-56):
``read_parquet`` hands Spark the footer schema (``footers.arrow_schema``),
so loading a table runs no schema-inference job; it falls back to Spark's
inference only where the footers cannot stand in for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.footers import arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The auto-increment-PK stand-in per table (reference `_rowid`,
# mysql_to_clickhouse_sync.py:44,163). lineitem's is non-unique; pair it with
# l_linenumber where a total order is needed.
ROWID = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


# events.ts may be parquet TIMESTAMP(NANOS) (the fixtures store MICROS).
# Spark rejects NANOS unless the legacy nanosAsLong conf reads it as bigint,
# converted to microseconds below (a no-op when the read already yields a
# timestamp). footers.arrow_schema refuses nanosecond columns, so such a
# file always takes Spark's own inference under that conf.
# Every DuckDB oracle that touches ts mirrors the µs floor with
# make_timestamp(epoch_us(ts)) so both engines see the identical value
# (see EVENTS_US_CTE in the operator modules).
_NANOS_TS_TABLES = {"events": "ts"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    # Fixtures hold naive timestamps; pin the session to UTC so results are
    # identical regardless of the caller's session defaults (TESTDATA.md).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_col = _NANOS_TS_TABLES.get(name)
    if ts_col is not None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if ts_col is not None and dict(df.dtypes).get(ts_col) == "bigint":
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    # pyspark >= 4.1 reads the fixtures' naive parquet timestamps as
    # TIMESTAMP_NTZ. NTZ breaks withWatermark (EVENT_TIME_IS_NOT_ON_TIMESTAMP
    # _TYPE), unix_millis (DATATYPE_MISMATCH), and JSON µs round-trips (NTZ
    # formats via timestampNTZFormat, not timestampFormat). Under the UTC
    # session pinned above, casting NTZ→TIMESTAMP reinterprets the same
    # wall-clock as the same instant — values are bit-identical to the
    # pre-4.1 behavior, and every downstream operator sees one timestamp
    # type. Normalize here, once, instead of per-operator.
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


# The session confs that steer Spark's parquet type mapping, at the
# defaults ``read_parquet``'s footer conversion mirrors; a session that
# changes one gets Spark's own inference.
_READER_CONFS = {
    "spark.sql.parquet.binaryAsString": "false",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the parquet
    footers instead of a one-task inference job. The footer schema is
    converted the way Spark's parquet reader maps it (naive timestamps to
    TIMESTAMP_NTZ) and made all-nullable, as Spark reports every file
    source column. Where ``footers.arrow_schema`` cannot answer, the
    conversion fails, or the session changed a ``_READER_CONFS`` default,
    Spark infers as before, so a corrupt source still fails inside Spark
    and never reads as empty."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from mysql_to_clickhouse_sync_spark.sinks.merge import _nullable

    schema = None
    if all(spark.conf.get(k, v).lower() == v for k, v in _READER_CONFS.items()):
        schema = arrow_schema(path)
    if schema is not None:
        try:
            schema = _nullable(from_arrow_schema(schema, prefer_timestamp_ntz=True))
        except (TypeError, ValueError):  # PySpark's unsupported-type errors
            schema = None
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


# Prefix for any DuckDB oracle whose result or ordering depends on events.ts:
# re-derives the events view with a µs-floored ts, matching the Spark catalog
# (DuckDB forbids a CTE shadowing the view name, hence `events_us`).
EVENTS_US_CTE = """
    WITH events_us AS (
        SELECT event_id, make_timestamp(epoch_us(ts)) AS ts,
               user_id, event_type, value, props
        FROM events
    )
"""
