"""Chunk-partitioned JDBC source — the reference's MySQL extract, Spark-first.

Reference behavior re-expressed:
  * bounds discovery: ``SELECT IFNULL(MIN(_rowid),0), IFNULL(MAX(_rowid),0)``
    (mysql_to_clickhouse_sync.py:163) — here a pushed-down JDBC aggregate.
  * chunked read: per-chunk ``WHERE _rowid >= a AND _rowid < b``
    (pagination.py:44) — here either Spark's native
    column/lowerBound/upperBound/numPartitions partitioning (Spark generates
    the same half-open predicates) or explicit `predicates` from
    plans/chunks.py when exact reference-width chunks are wanted.
  * table discovery + regex include/exclude (S:155-159) — an
    information_schema query + the same unanchored-regex filter.

No MySQL is present in the test environment, so everything network-bound is
behind build-only functions returning readers/options (unit-tested for
shape); the parquet catalog stands in for correctness tests.

Scale notes: numPartitions on a 100 TB table = total-cores-sized, not
chunk-count-sized — Spark multiplexes many key-range predicates per task is
NOT how JDBC partitioning works (1 partition = 1 query), so cap partitions
and let each cover a wider stride; the reference's 1000-row chunks would mean
millions of queries. batch_size maps to fetchsize (read) instead.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from mysql_to_clickhouse_sync_spark.plans.chunks import chunk_predicates

DEFAULT_MAX_PARTITIONS = 256


def filter_tables(
    names: list[str], include: str | None = None, exclude: str | None = None
) -> list[str]:
    """The reference's include/exclude table filter (S:158-159): keep iff
    exclude doesn't match and (no include or include matches); unanchored
    search semantics."""
    inc = re.compile(include) if include else None
    exc = re.compile(exclude) if exclude else None
    return [
        n
        for n in names
        if (exc is None or not exc.search(n))
        and (inc is None or inc.search(n))
    ]


def jdbc_bounds_query(table: str, rowid: str) -> str:
    """Pushed-down bounds aggregate (S:163 semantics incl. IFNULL-0).

    The JDBC-source twin of ``sync.footer_bounds``: against a real MySQL
    the bounds are pushed to the server and served from the PK index with
    no table scan, as the parquet source serves them from its footers.
    The result is a derived table: read it as the JDBC ``dbtable`` to get
    the ``min_id``/``max_id`` that ``read_table_chunked`` takes."""
    return (
        f"(SELECT COALESCE(MIN({rowid}), 0) AS min_id,"
        f" COALESCE(MAX({rowid}), 0) AS max_id FROM {table}) AS bounds"
    )


def jdbc_read_options(
    url: str,
    table: str,
    rowid: str,
    min_id: int,
    max_id: int,
    *,
    fetchsize: int = 1000,
    max_partitions: int = DEFAULT_MAX_PARTITIONS,
    properties: dict[str, str] | None = None,
) -> dict[str, Any]:
    """Options for a range-partitioned JDBC read. Spark generates the same
    half-open WHERE clauses the fixed reference uses (pagination.py:44); the
    reference's 1000-row batch_size maps to fetchsize, NOT to partition
    count (a 100 TB table must not become millions of queries)."""
    n_rows_estimate = max_id - min_id + 1
    num_partitions = max(1, min(max_partitions, n_rows_estimate))
    opts: dict[str, Any] = {
        "url": url,
        "dbtable": table,
        "partitionColumn": rowid,
        "lowerBound": str(min_id),
        "upperBound": str(max_id + 1),
        "numPartitions": str(num_partitions),
        "fetchsize": str(fetchsize),
    }
    if properties:
        opts.update(properties)
    return opts


def read_table_chunked(
    spark: SparkSession,
    url: str,
    table: str,
    rowid: str,
    min_id: int,
    max_id: int,
    *,
    batch_size: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Partitioned JDBC read. With batch_size set, uses explicit reference-
    width chunk predicates (exact parity with S:109-112); otherwise Spark's
    native range partitioning with a capped partition count."""
    props = dict(properties or {})
    if batch_size is not None:
        preds = chunk_predicates(rowid, min_id, max_id, batch_size)
        return spark.read.jdbc(url=url, table=table, predicates=preds, properties=props)
    opts = jdbc_read_options(
        url, table, rowid, min_id, max_id, properties=props
    )
    return spark.read.format("jdbc").options(**opts).load()
