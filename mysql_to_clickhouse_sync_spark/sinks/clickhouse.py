"""ClickHouse sink — the reference's load side, typed instead of string-built.

The reference builds one multi-row ``INSERT INTO t (cols) VALUES (...)``
string per 1000-row batch by interpolating Python values as SQL literals
(mysql_to_clickhouse_sync.py:52-91) — injection-prone (S:44/S:76) and lossy.
This sink keeps the *semantics* (batching, decimal scale via
``output_format_decimal_trailing_zeros=1`` S:77-83, NULL passthrough,
log-free fail-fast) but writes typed rows through the ClickHouse JDBC driver
or, in batch-of-batches form, through ``foreachBatch`` for streaming —
exactly the Spark recipe the reference's architecture maps to (SURVEY.md
§4.3 item 1).

No ClickHouse server or JDBC jar exists in the test environment, so
everything network-bound is build-only (options dicts + writer closures,
unit-tested for shape). The batching arithmetic itself is checked against
DuckDB by the declared query ``q_insert_batch_stats``.

Scale notes: jdbc batchsize controls rows per INSERT (the reference's
batch_size); numPartitions bounds concurrent connections (the reference's
max_workers); per-partition inserts run in parallel across executors — the
two thread pools of the reference (S:108, S:192) collapse into Spark's
scheduler.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

DEFAULT_BATCH_SIZE = 1000  # reference --batch_size (S:236)
DEFAULT_MAX_CONNECTIONS = 10  # reference --max_workers (S:237)


def clickhouse_jdbc_options(
    url: str,
    table: str,
    *,
    batch_size: int = DEFAULT_BATCH_SIZE,
    max_connections: int = DEFAULT_MAX_CONNECTIONS,
    user: str | None = None,
    password: str | None = None,
    dedup_token_value: str | None = None,
) -> dict[str, Any]:
    """JDBC writer options with the reference's tuning mapped onto Spark:
    batch_size -> batchsize (rows per INSERT), max_workers -> numPartitions
    (concurrent inserting connections). The decimal-trailing-zeros session
    setting (S:77-83) rides along in the connection params;
    dedup_token_value adds ClickHouse's insert_deduplication_token so a
    retried identical INSERT is dropped server-side (the streaming sink's
    exactly-once layer).

    Token invariant: ClickHouse dedups INSERT *blocks* by the token, not by
    content — every block after the first that carries the same token is
    silently DROPPED. A connection-level token is therefore only safe when
    the whole write is exactly one block. When dedup_token_value is set we
    enforce that on BOTH sides: client — numPartitions=1 (one connection)
    and batchsize 2^31-1 (one executeBatch => one INSERT statement);
    server — max_insert_block_size raised to 2^31-1, because the server
    re-blocks a single INSERT at max_insert_block_size rows (default ~1M)
    and each re-formed block would carry the same token, silently dropping
    every block after the first. The cost is one server-side block's worth
    of memory for the whole micro-batch — size micro-batches accordingly,
    or prefer dedup_token=False + ReplacingMergeTree(ver) for very large
    batches."""
    params = "output_format_decimal_trailing_zeros=1"
    if dedup_token_value:
        params += (
            f"&insert_deduplication_token={dedup_token_value}"
            f"&max_insert_block_size={2**31 - 1}"
        )
        batch_size = 2**31 - 1
        max_connections = 1
    opts: dict[str, Any] = {
        "url": url,
        "dbtable": table,
        "driver": "com.clickhouse.jdbc.ClickHouseDriver",
        "batchsize": str(batch_size),
        "numPartitions": str(max_connections),
        "isolationLevel": "NONE",  # ClickHouse has no transactions
        # S:77-83 — preserve decimal scale on output.
        "custom_http_params": params,
    }
    if user:
        opts["user"] = user
    if password:
        opts["password"] = password
    return opts


def write_to_clickhouse(df: DataFrame, url: str, table: str, **kw: Any) -> None:
    """Batch write. Fail-fast by design: the reference logs-and-continues on
    insert errors (S:87-89, silent data loss); here a failed partition fails
    the job and Spark retries the task."""
    opts = clickhouse_jdbc_options(url, table, **kw)
    (
        df.coalesce(int(opts["numPartitions"]))
        .write.format("jdbc")
        .options(**opts)
        .mode("append")
        .save()
    )


def foreach_batch_writer(
    url: str,
    table: str,
    *,
    dedup_token: bool = True,
    run_id: str | None = None,
    **kw: Any,
) -> Callable[[DataFrame, int], None]:
    """Streaming sink: writeStream.foreachBatch(foreach_batch_writer(...)).
    Empty micro-batches are skipped (the reference's empty-batch guard,
    S:98/S:115).

    At-least-once caveat: foreachBatch can RE-DELIVER a batch_id after a
    failure, and a plain append INSERT would duplicate it. Two layers make
    the sink effectively exactly-once on the ClickHouse side:
      * dedup_token=True sets ``insert_deduplication_token`` to
        ``{table}_{run_id}_{epoch}``; clickhouse_jdbc_options then forces
        the whole micro-batch into ONE insert block (one connection, one
        executeBatch) so the token guards exactly the data it names — a
        retried identical INSERT is dropped server-side, and no block of
        the same batch is ever dropped as collateral.
      * for upsert-shaped tables the DDL module (sinks/ddl.py) emits
        ReplacingMergeTree(ver), where replayed rows collapse on merge
        regardless of INSERT-level dedup.
    (streaming/matview.StateSink is the state-table analog: a LakeTable
    batch watermark committed with the state instead of a server token.)

    ``run_id`` is REQUIRED when dedup_token=True, and must be a stable id
    derived from the checkpoint location (e.g. its path hash). Both
    failure modes of a wrong scope are silent data corruption, so neither
    default is acceptable: epoch numbering restarts at 0 on a FRESH
    checkpoint, so a token not scoped by run would collide with a prior
    run's and DROP the new run's first batches; and a token that changes
    across driver restarts of the SAME run (e.g. a random per-writer id)
    stops matching on redelivery and DUPLICATES the replayed batch on
    plain MergeTree tables. Only the checkpoint identity distinguishes
    the two cases, and only the caller knows it.

    Note the single-block tradeoff: with dedup_token=True the micro-batch
    is written over one connection. For high-throughput streams prefer
    dedup_token=False + ReplacingMergeTree(ver) and keep the parallel
    multi-connection path."""
    if dedup_token and run_id is None:
        raise ValueError(
            "dedup_token=True requires run_id (derive it from the "
            "checkpoint location): a guessed scope silently drops or "
            "duplicates batches — see docstring"
        )

    def write(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        opts = dict(kw)
        if dedup_token:
            opts["dedup_token_value"] = f"{table}_{run_id}_{epoch}"
        write_to_clickhouse(batch_df, url, table, **opts)

    return write
