"""Parquet footer statistics: the package's one metadata-only column reader.

A parquet footer records, per row group and column chunk, the min, the max
and the null count. Merged across row groups they answer MIN / MAX / COUNT
over a file without reading its data — the analog of MySQL serving the
reference's ``IFNULL(MIN(_rowid),0)`` bounds query from the primary-key
index (S:163). Two callers share this reader: ``sync.table_bounds`` (chunk
bounds and row counts of a source table) and ``sinks/merge._footer_minmax``
(z-order bounds of a LakeTable optimize scope).
"""

from __future__ import annotations


def column_stats(path: str, cols: list[str]) -> tuple[int, dict] | None:
    """``(num_rows, {col: (lo, hi, nulls) | None})`` for the parquet file at
    ``path``, from its footer alone; None when the footer cannot be read.

    Each column's row-group statistics merge into the file's ``lo``/``hi``
    and its null count. ``lo``/``hi`` are None when the column holds no
    non-NULL value (every row group all-NULL, or no rows); ``nulls`` is
    None when some row group does not record its null count. A column maps
    to None when its statistics are not trustworthy: absent from the file,
    a row group without statistics, a row group with values but no min/max
    (a writer that skipped stats), or a non-numeric type (string stats may
    be truncated by writers; bools, dates and decimals are not plain
    numbers)."""
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(path)
    except Exception:
        return None
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    return md.num_rows, {c: _merged(md, idx[c]) if c in idx else None for c in cols}


def _merged(md, i: int) -> tuple | None:
    lo = hi = None
    nulls = 0
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        try:
            st = row.column(i).statistics
        except Exception:
            # pyarrow raises (not None) for stat-less types
            return None
        if st is None:
            return None
        if nulls is not None:
            nulls = nulls + st.null_count if st.has_null_count else None
        if not st.has_min_max:
            # an all-NULL row group legitimately has no min/max and
            # contributes nothing; anything else is a writer that skipped
            # stats
            if st.has_null_count and st.null_count == row.num_rows:
                continue
            return None
        if isinstance(st.min, bool) or not isinstance(st.min, (int, float)):
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi, nulls
