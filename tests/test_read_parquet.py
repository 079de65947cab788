"""Footer-schema table reads (catalog.read_parquet over
footers.arrow_schema): the schema handed to Spark equals the one Spark
would infer, in every case where the footers answer and in every
fallback, and a catalog table loads without running a Spark job."""

from __future__ import annotations

import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from mysql_to_clickhouse_sync_spark.catalog import TABLES, load_table, read_parquet
from mysql_to_clickhouse_sync_spark.footers import arrow_schema
from tests.conftest import SF_DIR
from tests.test_sync_pipeline import _group_jobs

FIXTURE_SFS = [
    d
    for d in (SF_DIR, SF_DIR.replace("0.001", "0.01"), SF_DIR.replace("0.001", "0.1"))
    if os.path.isdir(d)
]


def _inferred(spark, path):
    return spark.read.parquet(path).schema


_GROUPS = itertools.count()


def _jobs(spark, fn):
    return _group_jobs(spark, f"read-parquet-{next(_GROUPS)}", fn)[1]


@pytest.mark.parametrize("sf_dir", FIXTURE_SFS)
def test_catalog_tables_match_inference(spark, sf_dir):
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        assert arrow_schema(path) is not None, name
        assert read_parquet(spark, path).schema == _inferred(spark, path), name


def test_catalog_rows_match_inference(spark):
    for name in TABLES:
        path = f"{SF_DIR}/{name}.parquet"
        given, inferred = read_parquet(spark, path), spark.read.parquet(path)
        assert given.exceptAll(inferred).count() == 0, name
        assert inferred.exceptAll(given).count() == 0, name


def test_load_table_runs_no_job(spark):
    for name in TABLES:
        assert _jobs(spark, lambda: load_table(spark, SF_DIR, name).dtypes) == 0
    # the NTZ-versus-TIMESTAMP trap: events.ts stays a TIMESTAMP
    events = load_table(spark, SF_DIR, "events")
    assert events.schema["ts"].dataType == TimestampType()


def test_appended_delta_directory(spark, tmp_path):
    """The perfbench source layout: part-0 plus an appended delta file,
    both from the same table, beside Spark's hidden sidecars."""
    d = tmp_path / "orders.parquet"
    d.mkdir()
    t = pq.read_table(f"{SF_DIR}/orders.parquet")
    pq.write_table(t, d / "part-0.parquet")
    pq.write_table(t.slice(0, 15), d / "part-1-delta.parquet")
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.parquet.crc").write_bytes(b"x")
    assert arrow_schema(str(d)) is not None
    assert read_parquet(spark, str(d)).schema == _inferred(spark, str(d))
    assert _jobs(spark, lambda: read_parquet(spark, str(d))) == 0
    assert read_parquet(spark, str(d)).count() == t.num_rows + 15


# One column per type; each must read back under the footer schema exactly
# as under inference, or take the fallback (arrow_schema None).
_TYPES = {
    "i8": (pa.array([1, None], pa.int8()), True),
    "i16": (pa.array([1, 2], pa.int16()), True),
    "dec": (pa.array([1, 2], pa.decimal128(12, 2)), True),
    "ts_s": (pa.array([1, 2], pa.timestamp("s")), True),
    "ts_ms": (pa.array([1, 2], pa.timestamp("ms")), True),
    "ts_tz": (pa.array([1, 2], pa.timestamp("us", tz="Europe/Paris")), True),
    "date": (pa.array([1, 2], pa.date32()), True),
    "fsb": (pa.array([b"ab", b"cd"], pa.binary(2)), True),
    "dict": (pa.array(["a", "b"]).dictionary_encode(), True),
    "lstr": (pa.array(["a", "b"], pa.large_string()), True),
    "list": (pa.array([[1.0], [None]], pa.list_(pa.float32())), True),
    "fsl": (pa.array([[1.0, 2.0], [3.0, 4.0]], pa.list_(pa.float32(), 2)), True),
    "map": (pa.array([[("a", 1)], []], pa.map_(pa.string(), pa.int64())), True),
    "struct": (
        pa.array(
            [{"x": 1, "y": "a"}, None],
            pa.struct([("x", pa.int64()), ("y", pa.string())]),
        ),
        True,
    ),
    "uint32": (pa.array([1, 2], pa.uint32()), False),
    "uint64": (pa.array([1, 2], pa.uint64()), False),
    "duration": (pa.array([1, 2], pa.duration("s")), False),
    "null": (pa.array([None, None], pa.null()), False),
    "nested_uint": (pa.array([[1], [2]], pa.list_(pa.uint8())), False),
}


@pytest.mark.parametrize("col", sorted(_TYPES))
def test_type_mapping_matches_inference(spark, tmp_path, col):
    arr, answered = _TYPES[col]
    path = str(tmp_path / f"{col}.parquet")
    pq.write_table(pa.table({col: arr}), path)
    assert (arrow_schema(path) is not None) == answered
    assert read_parquet(spark, path).schema == _inferred(spark, path)
    assert read_parquet(spark, path).collect() == spark.read.parquet(path).collect()


def test_nanosecond_timestamps_fall_back(spark, tmp_path):
    """INT96 (Spark: TIMESTAMP) and TIMESTAMP(NANOS) (Spark: BIGINT under
    nanosAsLong, an error without it) both read as arrow timestamp[ns],
    which from_arrow_schema would map to TIMESTAMP_NTZ."""
    t = pa.table({"ts": pa.array([1_500, 2_000_000], pa.timestamp("ns"))})
    int96, nanos = str(tmp_path / "int96.parquet"), str(tmp_path / "nanos.parquet")
    pq.write_table(t, int96, use_deprecated_int96_timestamps=True)
    pq.write_table(t, nanos)
    assert arrow_schema(int96) is None and arrow_schema(nanos) is None
    assert read_parquet(spark, int96).schema == _inferred(spark, int96)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key, "false")
    try:
        spark.conf.set(key, "true")
        assert read_parquet(spark, nanos).schema == _inferred(spark, nanos)
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, nanos)
    finally:
        spark.conf.set(key, saved)


def test_disagreeing_files_fall_back(spark, tmp_path):
    base = pa.table({"id": pa.array([1, 2], pa.int64()), "v": ["a", "b"]})
    cases = {
        "type": base.set_column(0, "id", pa.array([3, 4], pa.int32())),
        "columns": base.append_column("extra", pa.array([1.0, 2.0])),
    }
    for case, other in cases.items():
        d = tmp_path / case
        d.mkdir()
        pq.write_table(base, d / "part-0.parquet")
        pq.write_table(other, d / "part-1.parquet")
        assert arrow_schema(str(d)) is None, case
        assert _jobs(spark, lambda: read_parquet(spark, str(d))) > 0, case
        assert read_parquet(spark, str(d)).schema == _inferred(spark, str(d)), case


def test_partitioned_directory_falls_back(spark, tmp_path):
    d = tmp_path / "parted"
    for k in (1, 2):
        (d / f"k={k}").mkdir(parents=True)
        pq.write_table(pa.table({"id": [k]}), d / f"k={k}" / "part-0.parquet")
    assert arrow_schema(str(d)) is None
    got = read_parquet(spark, str(d))
    assert got.schema == _inferred(spark, str(d))
    assert "k" in got.columns


def test_truncated_footer_still_raises_from_spark(spark, tmp_path):
    good = str(tmp_path / "good.parquet")
    pq.write_table(pa.table({"id": list(range(100))}), good)
    d = tmp_path / "truncated"
    d.mkdir()
    shutil.copy(good, d / "part-0.parquet")
    with open(good, "rb") as fh:
        (d / "part-1.parquet").write_bytes(fh.read()[:-12])
    assert arrow_schema(str(d)) is None
    assert arrow_schema(str(d / "part-1.parquet")) is None
    assert arrow_schema(str(tmp_path / "missing.parquet")) is None
    with pytest.raises(Exception):  # inference reads the truncated footer
        read_parquet(spark, str(d / "part-1.parquet"))
    with pytest.raises(Exception):  # inference reads part-0; the scan fails
        read_parquet(spark, str(d)).collect()


def test_non_default_reader_confs_infer(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"])}), path)
    key = "spark.sql.parquet.binaryAsString"
    saved = spark.conf.get(key, "false")
    try:
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).schema == _inferred(spark, path)
        assert read_parquet(spark, path).schema["b"].dataType.typeName() == "string"
    finally:
        spark.conf.set(key, saved)
