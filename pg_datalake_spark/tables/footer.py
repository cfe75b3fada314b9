"""Per-column bounds from a parquet footer, aggregated over row groups
on the driver: no data page is read. Shared by the LakeTable write path
(``format.py``) and the Iceberg manifest writer (``iceberg_external.py``)."""

from __future__ import annotations

import math


def _order(v) -> tuple:
    """Sort key of one raw stats value in Spark's order, which is also
    the order parquet-java writes float stats in: NaN above every
    number, -0.0 below 0.0."""
    if isinstance(v, float):
        if math.isnan(v):
            return (1, 0.0, 0.0)
        return (0, v, math.copysign(1.0, v))
    return (0, v, 0.0)


def column_bounds(md) -> dict[str, tuple]:
    """``{column: (ColumnSchema, bounds)}`` for the top-level primitive
    columns of a ``pyarrow.parquet.FileMetaData``. ``bounds`` is
    ``(min, max, null_count)`` over every row group, with raw physical
    values (``Statistics.min_raw``); min and max are None when every
    value is null. ``bounds`` is None when a row group holding a
    non-null value carries no min/max or no null count, so the footer
    has no exact answer for the column."""
    out: dict[str, tuple] = {}
    for j in range(md.num_columns):
        col = md.schema.column(j)
        if col.max_definition_level > 1 or col.max_repetition_level > 0:
            continue  # a leaf of a nested column
        lo = hi = None
        nulls = 0
        for g in range(md.num_row_groups):
            chunk = md.row_group(g).column(j)
            st = chunk.statistics
            if st is None or not st.has_null_count:
                break
            nulls += st.null_count
            if st.null_count == chunk.num_values:
                continue  # every value of this row group is null
            if not st.has_min_max:
                break
            if lo is None or _order(st.min_raw) < _order(lo):
                lo = st.min_raw
            if hi is None or _order(st.max_raw) > _order(hi):
                hi = st.max_raw
        else:
            out[col.path] = (col, (lo, hi, nulls))
            continue
        out[col.path] = (col, None)
    return out
