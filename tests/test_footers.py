"""The one parquet-metadata reader (footers.py): schema-ordered stats over
every top-level column, the pooled form, the Hive-segment parser, and no
metadata read anywhere else in the package."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from mysql_to_clickhouse_sync_spark.footers import (
    column_stats,
    column_stats_many,
    partition_values,
)

PACKAGE = Path(__file__).resolve().parent.parent / "mysql_to_clickhouse_sync_spark"


def test_every_top_level_column_in_schema_order(tmp_path):
    f = str(tmp_path / "a.parquet")
    t = pa.table(
        {
            "z": [3, 1, None],
            "name": ["b", "a", "c"],
            "vec": [[1.0], [2.0], [3.0]],
            "a": [0.5, None, None],
        }
    )
    pq.write_table(t, f, row_group_size=2)  # row group 2: a is all-NULL
    n, stats = column_stats(f)
    assert n == 3
    assert list(stats) == ["z", "name", "vec", "a"]
    assert stats["z"] == (1, 3, 1)
    assert stats["name"] is None  # string stats are not pruning-safe
    assert stats["vec"] is None  # nested: no column chunk of its own
    assert stats["a"] == (0.5, 0.5, 2)  # the all-NULL row group adds nothing


def test_pooled_form_keeps_order_and_marks_unreadable(tmp_path):
    paths = []
    for i in range(5):
        f = str(tmp_path / f"{i}.parquet")
        pq.write_table(pa.table({"x": list(range(i + 1))}), f)
        paths.append(f)
    bad = str(tmp_path / "bad.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not parquet")
    got = column_stats_many(paths[:2] + [bad] + paths[2:], ["x"])
    assert got[2] is None
    assert [g[0] for g in got[:2] + got[3:]] == [1, 2, 3, 4, 5]
    assert got == [column_stats(p, ["x"]) for p in paths[:2] + [bad] + paths[2:]]


def test_partition_values():
    rel = os.path.join("band=3", "day=x", "zc=-2", "part-0.parquet")
    assert partition_values(rel) == {"band": 3, "zc": -2}
    assert partition_values(os.path.join("band=3.parquet")) == {}


def test_no_metadata_read_outside_footers():
    """Only footers.py may open a parquet footer: no other package module
    names read_metadata, read_schema or ParquetFile, or takes
    `.metadata` of a call result."""
    banned = {"read_metadata", "read_schema", "ParquetFile"}
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "footers.py" and path.parent == PACKAGE:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                node.attr
                if isinstance(node, ast.Attribute)
                else node.id
                if isinstance(node, ast.Name)
                else None
            )
            if name in banned or (
                name == "metadata"
                and isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Call)
            ):
                rel = path.relative_to(PACKAGE)
                offenders.append(f"{rel}:{node.lineno} {name}")
    assert not offenders, offenders
