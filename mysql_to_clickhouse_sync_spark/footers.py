"""Parquet footer statistics: the package's one parquet-metadata reader.

A parquet footer records, per row group and column chunk, the min, the max
and the null count. Merged across row groups they answer MIN / MAX / COUNT
over a file without reading its data — the analog of MySQL serving the
reference's ``IFNULL(MIN(_rowid),0)`` bounds query from the primary-key
index (S:163). Every parquet metadata read of the package goes through
this module; its callers are:

* ``sync.footer_bounds`` — chunk bounds and row counts of a source table;
* ``sinks/merge._footer_minmax`` — z-order bounds of a LakeTable optimize
  scope;
* ``sinks/merge._footers`` — a LakeTable commit's per-file manifest stats
  and the column names its Bloom filters read (every column of a stage
  file, once per commit); the manifest row count and the deletion-vector
  row accounting (``LakeTable.dv_stats``) ask for no column (``cols=[]``),
  so they cost one footer read and no statistics merge;
* ``catalog.read_parquet`` — the schema of a source table
  (``arrow_schema``), so reading it runs no Spark schema-inference job.

``data_files`` is the one listing rule (the files ``spark.read.parquet``
reads under a path); ``partition_values`` (the Hive ``name=int`` path
segments) serves ``_footer_minmax`` and ``LakeTable._footer_stats``.

One trust rule holds for all of them (``_merged``): a row group whose
column is entirely NULL contributes nothing, any other row group without
usable numeric min/max makes the column untrustworthy for the file.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

# Footer reads are a few KB of I/O each; a commit that wrote thousands of
# files must not serialize thousands of round-trips in the driver.
_POOL_THREADS = 16


def data_files(path: str) -> list[str] | None:
    """The files ``spark.read.parquet(path)`` reads: the file itself, or a
    directory's files minus hidden names. None (not a plain listing) for a
    missing or empty path and for a directory with a subdirectory
    (partitions or nested output), which only Spark's file index reads
    faithfully."""
    if os.path.isfile(path):
        return [path]
    try:
        entries = [e for e in os.scandir(path) if not _hidden(e.name)]
    except OSError:
        return None
    if not entries or not all(e.is_file() for e in entries):
        return None
    return [e.path for e in entries]


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips: ``_SUCCESS``, ``.crc`` sidecars,
    in-flight ``._COPYING_`` copies (``_k=v`` is a partition, not hidden)."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def arrow_schema(path: str):
    """The pyarrow schema every data file at ``path`` shares, from the
    footers alone; None when Spark's inference is the only faithful
    answer: the path is not a plain listing (``data_files``), a footer
    cannot be read, the files disagree on schema (inference would pick
    one file's), or a column has a type that Spark maps differently from
    ``from_arrow_schema`` (``_spark_faithful``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def read(f):
        try:
            return pq.read_schema(f)
        except (OSError, pa.ArrowException):
            return None

    files = data_files(path)
    if files is None:
        return None
    first, *rest = _pooled(read, files)
    if first is None or not all(_spark_faithful(f.type) for f in first):
        return None
    if not all(s is not None and s.equals(first) for s in rest):
        return None
    return first


def _spark_faithful(t) -> bool:
    """Whether Spark's parquet reader maps arrow type ``t`` to what
    ``from_arrow_schema(..., prefer_timestamp_ntz=True)`` does. Not so:
    a nanosecond timestamp (an INT96 column, which Spark reads as
    TIMESTAMP, or TIMESTAMP(NANOS), which it reads as BIGINT under
    ``nanosAsLong`` and rejects otherwise), unsigned ints (widened by
    Spark), durations (BIGINT), NULL columns (INT) and TIME (rejected);
    every type not listed below is refused the same way."""
    import pyarrow.types as pt

    if pt.is_timestamp(t):
        return t.unit != "ns"
    if pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
        return _spark_faithful(t.value_type)
    if pt.is_map(t):
        return _spark_faithful(t.key_type) and _spark_faithful(t.item_type)
    if pt.is_struct(t):
        return all(_spark_faithful(f.type) for f in t)
    if pt.is_dictionary(t):
        return _spark_faithful(t.value_type)
    return (
        pt.is_boolean(t)
        or pt.is_signed_integer(t)
        or pt.is_float32(t)
        or pt.is_float64(t)
        or pt.is_decimal128(t)
        or pt.is_string(t)
        or pt.is_large_string(t)
        or pt.is_binary(t)
        or pt.is_large_binary(t)
        or pt.is_fixed_size_binary(t)
        or pt.is_date32(t)
    )


def column_stats(
    path: str, cols: list[str] | None = None
) -> tuple[int, dict] | None:
    """``(num_rows, {col: (lo, hi, nulls) | None})`` for the parquet file at
    ``path``, from its footer alone; None when the footer cannot be read.
    ``cols=None`` means every top-level column, in schema order.

    Each column's row-group statistics merge into the file's ``lo``/``hi``
    and its null count. ``lo``/``hi`` are None when the column holds no
    non-NULL value (every row group all-NULL, or no rows); ``nulls`` is
    None when some row group does not record its null count. A column maps
    to None when its statistics are not trustworthy: absent from the file,
    nested (a top-level struct/list/map has no column chunk of its own), a
    row group without statistics, a row group with values but no min/max
    (a writer that skipped stats), or a non-numeric type (string stats may
    be truncated by writers; bools, dates and decimals are not plain
    numbers)."""
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(path)
        if cols is None:
            cols = md.schema.to_arrow_schema().names
    except Exception:
        return None
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    return md.num_rows, {
        c: _merged(md, idx[c]) if c in idx else None for c in cols
    }


def column_stats_many(
    paths: list[str], cols: list[str] | None = None
) -> list[tuple[int, dict] | None]:
    """``column_stats`` of every path, in the order given."""
    return _pooled(lambda p: column_stats(p, cols), paths)


def _pooled(fn, paths: list[str]) -> list:
    """``[fn(p) for p in paths]`` on one thread pool (the package's only
    metadata pool; none for a single path)."""
    if len(paths) <= 1:
        return [fn(p) for p in paths]
    with ThreadPoolExecutor(min(_POOL_THREADS, len(paths))) as pool:
        return list(pool.map(fn, paths))


def partition_values(rel: str) -> dict[str, int]:
    """The integer Hive ``name=int`` segments of a relative file path (the
    directories above the file; a non-integer value is not a pruning
    bound and is skipped)."""
    out: dict[str, int] = {}
    for seg in rel.split(os.sep)[:-1]:
        name, eq, val = seg.partition("=")
        if eq:
            try:
                out[name] = int(val)
            except ValueError:
                pass
    return out


def _merged(md, i: int) -> tuple | None:
    lo = hi = None
    nulls = 0
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        try:
            st = row.column(i).statistics
            if st is None:
                return None
            mn, mx = (st.min, st.max) if st.has_min_max else (None, None)
        except Exception:
            # pyarrow raises (not None) for types it cannot extract
            # statistics for, e.g. some decimal encodings
            return None
        if nulls is not None:
            nulls = nulls + st.null_count if st.has_null_count else None
        if not st.has_min_max:
            # an all-NULL row group legitimately has no min/max and
            # contributes nothing (NULL never satisfies a range
            # predicate); anything else is a writer that skipped stats
            if st.has_null_count and st.null_count == row.num_rows:
                continue
            return None
        if isinstance(mn, bool) or not isinstance(mn, (int, float)):
            return None
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    return lo, hi, nulls
