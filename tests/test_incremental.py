"""Incremental sync + CDC schema evolution tests."""

from __future__ import annotations

import datetime
import json

from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.streaming.cdc import (
    apply_changelog,
    as_state,
    live_rows,
)
from mysql_to_clickhouse_sync_spark.sync import incremental_sync, snapshot_sync
from tests.conftest import SF_DIR


def test_incremental_sync_picks_up_delta(spark, tmp_path):
    out = str(tmp_path / "inc")
    # Full sync first (orders only), then fake a stale manifest: pretend the
    # last sync stopped at o_orderkey 999 so the delta is everything above.
    snapshot_sync(spark, SF_DIR, out, include="^orders$")
    mpath = f"{out}/manifest.json"
    with open(mpath) as fh:
        manifest = json.load(fh)
    full_rows = manifest["tables"][0]["rows"]
    true_max = manifest["tables"][0]["max_id"]

    manifest["tables"][0]["max_id"] = 999
    manifest["tables"][0]["rows"] = 0  # count only what incremental adds
    # Reset the sink so row accounting is observable.
    import shutil

    shutil.rmtree(manifest["tables"][0]["path"])
    spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        F.col("o_orderkey") <= 999
    ).write.parquet(manifest["tables"][0]["path"])
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)

    updated = incremental_sync(spark, SF_DIR, out)
    entry = updated["tables"][0]
    assert entry["max_id"] == true_max
    assert entry["last_delta_rows"] == full_rows - 1000  # keys 0..999 existed
    # Sink now holds the full table again.
    assert spark.read.parquet(entry["path"]).count() == full_rows

    # Second incremental run: no new rows, nothing appended.
    again = incremental_sync(spark, SF_DIR, out)
    assert again["tables"][0]["last_delta_rows"] == 0
    assert spark.read.parquet(entry["path"]).count() == full_rows


def test_failed_manifest_rewrite_keeps_the_previous_manifest(
    spark, tmp_path, monkeypatch
):
    """A serialization error that strikes after the manifest write has
    begun must leave the previous manifest.json byte-identical, and the
    next incremental_sync must resume from it (an in-place rewrite left
    a truncated manifest that blocked every later resume)."""
    import pytest

    from mysql_to_clickhouse_sync_spark import sync

    out = str(tmp_path / "inc")
    snapshot_sync(spark, SF_DIR, out, include="^orders$")
    mpath = f"{out}/manifest.json"
    with open(mpath, "rb") as fh:
        before = fh.read()

    real_resume = sync._resume_table

    def poisoned(*args, **kw):
        # the entry's last field cannot be serialized: everything before
        # it in the manifest text is already written by then
        return {**real_resume(*args, **kw), "poison": object()}

    monkeypatch.setattr(sync, "_resume_table", poisoned)
    with pytest.raises(TypeError):
        incremental_sync(spark, SF_DIR, out)
    with open(mpath, "rb") as fh:
        assert fh.read() == before

    monkeypatch.undo()
    resumed = incremental_sync(spark, SF_DIR, out)
    assert resumed["tables"] == [
        {**e, "last_delta_rows": 0} for e in json.loads(before)["tables"]
    ]
    with open(mpath) as fh:
        assert json.load(fh) == resumed


def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, minute)


def test_changelog_schema_evolution(spark):
    state = as_state(
        spark.createDataFrame(
            [(1, 10, _ts(0), 1.0)],
            "user_id bigint, event_id bigint, ts timestamp, value double",
        )
    )
    # Upstream ALTER TABLE added a column; the changelog carries it.
    evolved = spark.createDataFrame(
        [(1, 11, _ts(5), 2.0, "eu", "upsert"), (2, 20, _ts(6), 3.0, "us", "upsert")],
        "user_id bigint, event_id bigint, ts timestamp, value double,"
        " region string, op string",
    )
    out = live_rows(
        apply_changelog(
            state,
            evolved,
            ["user_id"],
            ["ts", "event_id"],
            allow_schema_evolution=True,
        )
    )
    rows = {r.user_id: r for r in out.collect()}
    assert rows[1].region == "eu"  # updated row carries the new column
    assert rows[2].region == "us"
    assert "region" in out.columns
