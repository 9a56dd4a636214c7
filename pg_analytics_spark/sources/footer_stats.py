"""Shared parquet-footer stats walk for the native lakehouse writers.

Both the Delta writer (add-action ``stats`` JSON) and the Iceberg
writer (Appendix-D ``lower_bounds``/``upper_bounds``) need per-column
[min, max] over all row groups of a freshly-written file; only the
output ENCODING differs.  One walk, two encoders.  Delta also takes
its ``nullCount`` from here.

Arrow leaves NaN out of a float column's footer min/max (a column
holding ``[1.0, NaN, 3.0]`` records [1.0, 3.0]), and Spark's Parquet
filter pushdown trusts those bounds.  So the native writers write no
footer statistics for floating-point columns
(``arrow_part.stat_columns``), and a top-level float column's null
count and [min, max] come from its VALUES instead: no bound when it
holds a NaN.  A foreign file's NaN-blind float footer stats are
ignored the same way.
"""

from __future__ import annotations


def footer_stats(path: str) -> tuple[dict[str, tuple], dict[str, int], int]:
    """({column: (lo, hi)}, {column: null count}, num_rows) from a
    parquet footer.  Bounds are keyed by ``path_in_schema``; null
    counts cover the top-level primitive columns only (a nested leaf's
    count mixes its parents' nulls in).

    A column appears in either map only when EVERY row group carries
    that statistic (a partial bound is not a bound).  Top-level float
    and double columns are read to compute theirs (see the module
    docstring).  Raises on an unreadable footer — callers choose
    whether stats are optional."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    flat = {
        f.name for f in pf.schema_arrow if not pa.types.is_nested(f.type)
    }
    col_idx: dict[str, int] = {}
    if md.num_row_groups:
        rg0 = md.row_group(0)
        for i in range(rg0.num_columns):
            col_idx[rg0.column(i).path_in_schema] = i
    bounds: dict[str, tuple] = {}
    nulls: dict[str, int] = {}
    for name, ci in col_idx.items():
        stats = [
            md.row_group(rg).column(ci).statistics
            for rg in range(md.num_row_groups)
        ]
        if name in flat and all(
            st is not None and st.has_null_count for st in stats
        ):
            nulls[name] = sum(st.null_count for st in stats)
        if all(st is not None and st.has_min_max for st in stats):
            bounds[name] = (
                min(st.min for st in stats), max(st.max for st in stats)
            )
    floats = [
        f.name
        for f in pf.schema_arrow
        if pa.types.is_float32(f.type) or pa.types.is_float64(f.type)
    ]
    values = pf.read(columns=floats) if floats else None
    for name in floats:
        col = values.column(name)
        nulls[name] = col.null_count
        bounds.pop(name, None)
        mm = pc.min_max(col).as_py()
        if mm["min"] is not None and not pc.any(pc.is_nan(col)).as_py():
            bounds[name] = (mm["min"], mm["max"])
    return bounds, nulls, md.num_rows
