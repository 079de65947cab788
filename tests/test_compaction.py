"""Compaction: many small files -> few target-sized files, atomically
published through LakeTable.compact, with identical content before and
after."""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.sinks.merge import (
    data_file_sizes,
    plan_file_count,
    scratch_table,
)
from tests.conftest import SF_DIR


def test_plan_file_count_is_bytes_based():
    assert plan_file_count(0) == 1
    assert plan_file_count(1) == 1
    assert plan_file_count(128 * 1024 * 1024) == 1
    assert plan_file_count(128 * 1024 * 1024 + 1) == 2


def test_compaction_preserves_content_and_reduces_files(spark):
    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    with scratch_table(spark, keys=["event_id"], version_cols=["event_id"]) as t:
        # Bootstrap a generation fragmented into 24 tiny files (what a
        # per-micro-batch writer leaves behind).
        state = events.withColumn("op", F.lit("upsert"))
        t._commit(
            lambda p: state.repartition(24).write.parquet(p),
            {"operation": "merge", "last_batch": None},
            expected_parent=None,
        )
        n_before = len(data_file_sizes(t._gen_dir(0)))
        assert n_before == 24
        before = {tuple(r) for r in t.read().collect()}
        # Tiny target -> deterministic small-but-fewer file count.
        v = t.compact(target_file_bytes=512 * 1024)
        assert v == 1
        n_after = len(data_file_sizes(t._gen_dir(v)))
        assert n_after < n_before, (n_before, n_after)
        assert t.manifest(v)["n_files"] == n_after
        after = {tuple(r) for r in t.read().collect()}
        assert after == before
        # Idempotent: a second compaction at the same target is a no-op.
        assert t.compact(target_file_bytes=512 * 1024) == v
        assert t.versions()[-1] == v
