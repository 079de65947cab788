"""Parquet MERGE-INTO emulation tests: bootstrap, upsert/delete across
generations, tombstone persistence across merges, atomic-pointer layout,
and the ClickHouse foreachBatch empty-batch guard."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable


def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, minute)


LOG_SCHEMA = "k bigint, seq bigint, ts timestamp, v double, op string"


def _table(spark, path):
    return LakeTable(spark, path, ["k"], ["ts", "seq"], retention=0)


def test_merge_bootstrap_and_update(spark, tmp_path):
    path = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [(1, 1, _ts(1), 1.0, "upsert"), (2, 2, _ts(2), 2.0, "upsert")],
        LOG_SCHEMA,
    )
    out1 = _table(spark, path).merge(b1)
    assert {r.k: r.v for r in out1.collect()} == {1: 1.0, 2: 2.0}

    b2 = spark.createDataFrame(
        [(1, 3, _ts(5), 9.0, "upsert"), (2, 4, _ts(6), 0.0, "delete")],
        LOG_SCHEMA,
    )
    out2 = _table(spark, path).merge(b2)
    assert {r.k: r.v for r in out2.collect()} == {1: 9.0}
    # Reader view agrees with the merge's return value.
    assert {r.k: r.v for r in _table(spark, path).read().collect()} == {1: 9.0}


def test_tombstone_survives_generations(spark, tmp_path):
    path = str(tmp_path / "state")
    _table(spark, path).merge(
        spark.createDataFrame([(1, 1, _ts(1), 1.0, "upsert")], LOG_SCHEMA)
    )
    _table(spark, path).merge(
        spark.createDataFrame([(1, 2, _ts(8), 0.0, "delete")], LOG_SCHEMA)
    )
    # A LATER merge carrying an OLDER upsert must not revive the key —
    # the tombstone persisted across generations.
    out = _table(spark, path).merge(
        spark.createDataFrame([(1, 3, _ts(4), 5.0, "upsert")], LOG_SCHEMA)
    )
    assert out.count() == 0


def test_single_generation_retained(spark, tmp_path):
    path = str(tmp_path / "state")
    for seq in range(3):
        _table(spark, path).merge(
            spark.createDataFrame(
                [(1, seq, _ts(seq), float(seq), "upsert")], LOG_SCHEMA
            )
        )
    gens = [d for d in os.listdir(path) if d.startswith("gen-")]
    assert len(gens) == 1  # old generations retired
    with open(os.path.join(path, "_CURRENT")) as fh:
        assert fh.read().strip() == gens[0]


def test_foreach_batch_empty_guard(spark):
    from mysql_to_clickhouse_sync_spark.sinks.clickhouse import (
        foreach_batch_writer,
    )

    # A bogus URL would explode on any real write; an empty batch must
    # short-circuit before touching JDBC.
    writer = foreach_batch_writer(
        "jdbc:clickhouse://nonexistent:1/db", "t", run_id="ckpt_x"
    )
    empty = spark.createDataFrame([], "a bigint")
    writer(empty, 0)  # no exception == guard worked


def test_jdbc_options_carry_dedup_token():
    from mysql_to_clickhouse_sync_spark.sinks.clickhouse import (
        clickhouse_jdbc_options,
    )

    opts = clickhouse_jdbc_options(
        "jdbc:clickhouse://h:1/db", "t", dedup_token_value="t_batch_7"
    )
    assert "insert_deduplication_token=t_batch_7" in opts["custom_http_params"]
    assert "output_format_decimal_trailing_zeros=1" in opts["custom_http_params"]
    # ClickHouse dedups BLOCKS by token — a tokened write must be exactly
    # one insert block: one connection, one executeBatch flush, AND the
    # server must not re-block the statement at max_insert_block_size.
    assert opts["numPartitions"] == "1"
    assert opts["batchsize"] == str(2**31 - 1)
    assert f"max_insert_block_size={2**31 - 1}" in opts["custom_http_params"]
    # without a token the param must be absent (plain batch loads) and the
    # parallel multi-connection path stays in force
    plain = clickhouse_jdbc_options("jdbc:clickhouse://h:1/db", "t")
    assert "insert_deduplication_token" not in plain["custom_http_params"]
    assert plain["numPartitions"] == "10"
    assert plain["batchsize"] == "1000"


def test_foreach_batch_token_is_run_scoped(monkeypatch):
    import pytest

    from mysql_to_clickhouse_sync_spark.sinks import clickhouse as ch

    # Capture the token each write would carry instead of touching JDBC.
    tokens: list[str] = []
    monkeypatch.setattr(
        ch,
        "write_to_clickhouse",
        lambda df, url, table, **kw: tokens.append(kw["dedup_token_value"]),
    )

    class _FakeBatch:
        def isEmpty(self):
            return False

    # run_id is the only input that distinguishes "fresh checkpoint,
    # epoch reset" (tokens must differ) from "same run restarted, epoch
    # redelivered" (tokens must match) — so it is REQUIRED, not guessed.
    with pytest.raises(ValueError, match="run_id"):
        ch.foreach_batch_writer("jdbc:clickhouse://h:1/db", "t")
    # two fresh checkpoints (different run ids), both at epoch 0: no collision
    w1 = ch.foreach_batch_writer("jdbc:clickhouse://h:1/db", "t", run_id="ck1")
    w2 = ch.foreach_batch_writer("jdbc:clickhouse://h:1/db", "t", run_id="ck2")
    w1(_FakeBatch(), 0)
    w2(_FakeBatch(), 0)
    assert tokens[0] != tokens[1]
    # same run restarted (same checkpoint-derived id), epoch redelivered:
    # the token matches and ClickHouse drops the duplicate block
    w1b = ch.foreach_batch_writer("jdbc:clickhouse://h:1/db", "t", run_id="ck1")
    w1b(_FakeBatch(), 0)
    assert tokens[2] == tokens[0] == "t_ck1_0"
    # token disabled: no run_id needed, parallel path preserved
    w3 = ch.foreach_batch_writer(
        "jdbc:clickhouse://h:1/db", "t", dedup_token=False
    )
    monkeypatch.setattr(
        ch, "write_to_clickhouse",
        lambda df, url, table, **kw: tokens.append(kw.get("dedup_token_value")),
    )
    w3(_FakeBatch(), 0)
    assert tokens[3] is None


def test_bloom_pruned_read_on_string_column(spark, tmp_path):
    """read_bloom_pruned on a STRING column — the case range skipping
    cannot serve at all (string footer stats aren't pruning-safe): no
    false negatives for a present value, near-total pruning for an
    absent one, and rows identical to the unpruned read."""
    from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable

    # 6 bands x 40 rows; each band holds ONE label so pruning can bite
    rows = [
        (band * 40 + i, band, f"label_{band}", "upsert")
        for band in range(6)
        for i in range(40)
    ]
    log = spark.createDataFrame(
        rows, "k bigint, band int, label string, op string"
    )
    t = LakeTable(
        spark,
        str(tmp_path / "state"),
        keys=["k"],
        version_cols=["k"],
        retention=0,
        partition_files_by="band",
        bloom_cols=["label"],
    )
    t.merge(log, batch_id=0)

    pruned, total, nread = t.read_bloom_pruned("label", "label_3")
    got = pruned.filter("label = 'label_3'").count()
    assert got == 40  # no false negatives: every row of the value survives
    assert total == 6
    assert 1 <= nread <= 2  # its own file + at most FP headroom

    pruned, total, nread = t.read_bloom_pruned("label", "no_such_label")
    assert pruned.filter("label = 'no_such_label'").count() == 0
    assert nread <= 1  # absent key reads ~zero files


def test_bloom_pruning_survives_dv_delete(spark, tmp_path):
    """A deletion-vector commit must CARRY the manifest's file_blooms
    (stale blooms are safe — deletes only remove values, so no false
    negative is possible): before the fix, any dv delete on a
    bloom_cols table silently dropped the filters and read_bloom_pruned
    read every file until the next full merge."""
    from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable

    rows = [
        (band * 40 + i, band, f"label_{band}", 0, "upsert")
        for band in range(6)
        for i in range(40)
    ]
    log = spark.createDataFrame(
        rows, "k bigint, band int, label string, seq bigint, op string"
    )
    t = LakeTable(
        spark,
        str(tmp_path / "state"),
        keys=["k"],
        version_cols=["seq"],
        retention=0,
        partition_files_by="band",
        bloom_cols=["label"],
    )
    t.merge(log, batch_id=0)
    # delete half of band 3 through the dv path (no data rewrite)
    dels = (
        log.filter("band = 3 AND k % 2 = 0")
        .withColumn("seq", F.lit(1).cast("bigint"))
        .withColumn("op", F.lit("delete"))
    )
    t.delete(dels, batch_id=1)
    assert t.manifest(t.current_version())["operation"] == "delete-vector"
    assert t.manifest(t.current_version()).get("file_blooms")

    pruned, total, nread = t.read_bloom_pruned("label", "label_3")
    assert total == 6
    assert 1 <= nread <= 2  # pruning still bites after the dv commit
    # and the dv is applied on the pruned read: half of band 3 is gone
    assert pruned.filter("label = 'label_3'").count() == 20

    pruned, total, nread = t.read_bloom_pruned("label", "no_such_label")
    assert nread <= 1


def test_seeded_schema_equals_fresh_inference(spark, tmp_path):
    """The commit-time schema seed (round 10) must equal what a fresh
    parquet inference of the generation returns — including the
    all-nullable relaxation of nested struct/array fields — or every
    post-commit read through the memo would run under a wrong schema."""
    from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable

    log = spark.range(5).select(
        F.col("id").alias("k"),
        F.current_timestamp().alias("ts"),
        (F.col("id") * 1.5).alias("value"),
        F.array(
            F.struct(
                F.lit(1).alias("span_start"), F.lit(2).alias("span_tokens")
            )
        ).alias("spans"),
        F.col("id").cast("decimal(18,2)").alias("money"),
        F.lit("upsert").alias("op"),
    )
    t = LakeTable(
        spark, str(tmp_path / "state"), keys=["k"], version_cols=["ts"]
    )
    t.merge(log, batch_id=0)
    v = t.current_version()
    key = (None, (t._gen_dir(v),))
    assert key in t._schema_memo
    inferred = spark.read.parquet(t._gen_dir(v)).schema
    assert t._schema_memo[key] == inferred
    # and the memoized read round-trips the rows
    assert t.read().count() == 5
