"""The file-stream driver (streaming/driver.py): one micro-batch per slice,
teardown on success and on failure, and no lifecycle code elsewhere."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.sources.binlog_datasource import (
    FORMAT_NAME,
    register,
)
from mysql_to_clickhouse_sync_spark.streaming.driver import FileStream

STREAMING = Path(__file__).resolve().parent.parent / (
    "mysql_to_clickhouse_sync_spark/streaming"
)
SIZES = [5, 0, 3]  # the middle slice is empty


def _slices(spark, fmt):
    out = []
    start = 0
    for n in SIZES:
        df = spark.range(start, start + n)
        if fmt != "parquet":
            df = df.select(F.to_json(F.struct("id")).alias("value"))
        out.append(df)
        start += n
    return out


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("fmt", ["parquet", "text", FORMAT_NAME])
def test_one_micro_batch_per_slice(spark, fmt):
    if fmt == FORMAT_NAME:
        register(spark)
    seen = []

    def record(df, batch_id):
        seen.append((batch_id, df.count()))

    with FileStream(spark) as fs:
        fs.run(_slices(spark, fmt), record, fmt=fmt)
        workdir = fs.workdir
    assert seen == list(enumerate(SIZES))
    assert not os.path.exists(workdir)
    assert not spark.streams.active


def test_failing_batch_propagates_and_tears_down(spark):
    before = _views(spark)

    def boom(df, batch_id):
        if batch_id == 1:
            raise ValueError("boom in batch 1")

    with pytest.raises(Exception, match="boom in batch 1"):
        with FileStream(spark) as fs:
            workdir = fs.workdir
            fs.run(_slices(spark, "parquet"), boom)
    assert not spark.streams.active
    assert not os.path.exists(workdir)
    assert _views(spark) == before


def test_memory_sink_view_is_dropped(spark):
    before = _views(spark)
    with FileStream(spark) as fs:
        out = fs.run(
            _slices(spark, "parquet"),
            "complete",
            lambda s: s.agg(F.count("*").alias("n")),
        )
        assert out.first()["n"] == sum(SIZES)
        assert len(_views(spark) - before) == 1
        workdir = fs.workdir
    assert _views(spark) == before
    assert not os.path.exists(workdir)
    assert not spark.streams.active


def test_failing_memory_sink_run_drops_its_view(spark):
    before = _views(spark)

    def bad(s):
        return s.filter(F.assert_true(F.col("id") < 3, "id too large").isNull())

    with pytest.raises(Exception, match="id too large"):
        with FileStream(spark) as fs:
            workdir = fs.workdir
            fs.run(_slices(spark, "parquet"), "append", bad)
    assert not spark.streams.active
    assert not os.path.exists(workdir)
    assert _views(spark) == before


def test_reader_outside_run_raises(spark):
    with FileStream(spark) as fs:
        with pytest.raises(RuntimeError, match="outside run"):
            fs.reader()


def test_no_lifecycle_code_outside_the_driver():
    """Only driver.py may make workdirs, start queries or drive them."""
    banned = {"mkdtemp", "writeStream", "processAllAvailable"}
    offenders = []
    for path in sorted(STREAMING.glob("*.py")):
        if path.name == "driver.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                node.attr
                if isinstance(node, ast.Attribute)
                else node.id
                if isinstance(node, ast.Name)
                else None
            )
            if name in banned:
                offenders.append(f"{path.name}:{node.lineno} {name}")
    assert not offenders, offenders
    assert not (STREAMING / "staging.py").exists()
