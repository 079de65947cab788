"""The LATERAL Python UDTF query (operators/udtf_ops.q_udtf_chunks) leaves
no session state behind: its input binds as a DataFrame argument, so no
temp view outlives the query."""

from __future__ import annotations

from mysql_to_clickhouse_sync_spark.operators.udtf_ops import (
    CHUNK_WORDS,
    q_udtf_chunks,
)
from tests.conftest import SF_DIR


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_no_temp_view_outlives_the_query(spark):
    before = _temp_views(spark)
    rows = q_udtf_chunks(spark, SF_DIR).collect()
    assert _temp_views(spark) == before
    assert rows and all(0 < r.n_words <= CHUNK_WORDS for r in rows)
