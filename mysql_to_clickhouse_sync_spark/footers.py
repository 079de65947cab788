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
  so they cost one footer read and no statistics merge.

``partition_values`` (the Hive ``name=int`` path segments) serves
``_footer_minmax`` and ``LakeTable._footer_stats``.

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
    """``column_stats`` of every path, in the order given, read on one
    thread pool (the package's only metadata pool)."""
    if len(paths) <= 1:
        return [column_stats(p, cols) for p in paths]
    with ThreadPoolExecutor(min(_POOL_THREADS, len(paths))) as pool:
        return list(pool.map(lambda p: column_stats(p, cols), paths))


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
