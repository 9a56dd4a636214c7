"""Roaring-bitmap secondary index over parquet files.

The classic OLAP bitmap index (Postgres bitmap scans, ORC/Pinot
bitmap indexes), re-expressed for immutable parquet at Spark scale:
for each low-cardinality indexed expression, each DATA FILE stores
one roaring bitmap of matching ``_metadata.row_index`` positions per
distinct value.  A multi-predicate probe then runs entirely on the
index — OR within a column's value list, AND across columns — and
touches the data in exactly two bounded ways:

* **count queries answer from the index alone** (sum of intersected
  cardinalities; zero data bytes read);
* **row retrieval reads ONLY files whose intersected bitmap is
  non-empty** (file-level pruning like a zone map, but EXACT — a
  bitmap can't false-positive) and anti^H^H semi-joins the selected
  (file, position) pairs against the pruned scan.

Scale: the index build is one shuffle of (file, column, value) groups
— positions are collected per group, which is bounded by rows-per-
file-per-value (the operator is FOR low-cardinality columns; a
high-cardinality column would make the index data-sized and should
use zone maps / z-order instead, see operators/zorder.py).  Encoding
runs in Arrow batches on executors; the probe plans the bitmap
algebra per file in parallel and never collects corpus-scale data.
The roaring codec is the same public-format implementation the Delta
deletion-vector path round-trips (sources/delta_dv.py).

Reference scope: the reference's DuckDB core uses zone maps + its own
compressed bitmaps internally; an explicit buildable bitmap index is
additive parity-plus for the 100 TB training-data use case (repeated
filtered sweeps over a frozen corpus).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_analytics_spark.errors import UnsupportedFormat

#: repo root, pickled BY VALUE into executor closures (the round-8
#: driver-sim rule: a vanilla driver's workers lack the driver's
#: sys.path — see sources/arrow_part._REPO_ROOT).
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_INDEX_SCHEMA = (
    "file string, col string, value string, card long, blob binary"
)


def _file_expr() -> F.Column:
    return F.regexp_replace(
        F.col("_metadata.file_path"), "^file:/+", "/"
    ).alias("_file")


def build_bitmap_index(
    spark: SparkSession,
    table_path: str,
    cols: dict[str, str],
    index_dir: str,
) -> dict:
    """Build the index sidecar for ``table_path`` (a parquet
    directory/file) at ``index_dir``.

    ``cols``: index name → SQL expression over the table's columns
    (a plain column name indexes the column; an expression like
    ``user_id % 8`` indexes the derived value — probes must use the
    same name).  Values index as their STRING form (NULL rows are
    not indexed; IS NULL probes belong to zone maps).
    Returns {"files": n_data_files, "entries": n_bitmap_rows}.
    """
    if not cols:
        raise UnsupportedFormat("build_bitmap_index: no columns given")
    scan = spark.read.parquet(table_path).select(
        _file_expr(),
        F.col("_metadata.row_index").cast("long").alias("_pos"),
        *[
            F.expr(expr).cast("string").alias(name)
            for name, expr in cols.items()
        ],
    )
    stack_args = ", ".join(
        f"'{name}', `{name}`" for name in cols
    )
    stacked = scan.selectExpr(
        "_file",
        "_pos",
        f"stack({len(cols)}, {stack_args}) AS (col, value)",
    ).filter(F.col("value").isNotNull())
    grouped = stacked.groupBy("_file", "col", "value").agg(
        F.sort_array(F.collect_list("_pos")).alias("positions")
    )

    repo_root = _REPO_ROOT

    def _encode(batches):
        import sys

        if repo_root not in sys.path:  # vanilla-driver worker fallback
            sys.path.insert(0, repo_root)
        import pyarrow as pa

        from pg_analytics_spark.sources.delta_dv import (
            encode_roaring_array,
        )

        for b in batches:
            d = b.to_pydict()
            out = {
                "file": d["_file"],
                "col": d["col"],
                "value": d["value"],
                "card": [len(p) for p in d["positions"]],
                "blob": [
                    encode_roaring_array([int(x) for x in p])
                    for p in d["positions"]
                ],
            }
            yield pa.RecordBatch.from_pydict(out)

    encoded = grouped.mapInArrow(_encode, _INDEX_SCHEMA)
    encoded.write.mode("overwrite").parquet(index_dir)
    import glob as _glob

    n_files = len(
        _glob.glob(os.path.join(table_path, "*.parquet"))
    ) or (1 if os.path.isfile(table_path) else 0)
    n_entries = spark.read.parquet(index_dir).count()
    return {"files": n_files, "entries": n_entries}


def _intersect_per_file(index: DataFrame, preds: dict) -> DataFrame:
    """(file, card, blob) of the per-file AND of the predicates —
    OR (bitmap union) within a column's value list first.  Files
    missing ANY predicate column contribute nothing (zero matches
    there); the bitmap algebra runs in Arrow batches per file."""
    n_cols = len(preds)
    conds = None
    for col, vals in preds.items():
        vlist = [str(v) for v in (vals if isinstance(vals, list) else [vals])]
        c = (F.col("col") == col) & F.col("value").isin(vlist)
        conds = c if conds is None else (conds | c)
    hits = index.filter(conds)

    repo_root = _REPO_ROOT

    def _combine(key, pdf):
        import sys

        if repo_root not in sys.path:
            sys.path.insert(0, repo_root)
        import pandas as pd

        from pg_analytics_spark.sources.delta_dv import (
            decode_roaring_array,
            encode_roaring_array,
        )

        per_col: dict[str, set] = {}
        for _, row in pdf.iterrows():
            per_col.setdefault(row["col"], set()).update(
                decode_roaring_array(bytes(row["blob"]))
            )
        if len(per_col) < n_cols:  # some predicate column absent here
            return pd.DataFrame(
                {"file": [], "card": [], "blob": []}
            ).astype({"file": str, "card": "int64", "blob": object})
        sets = sorted(per_col.values(), key=len)
        acc = sets[0]
        for s in sets[1:]:
            acc = acc & s
            if not acc:
                break
        if not acc:
            return pd.DataFrame(
                {"file": [], "card": [], "blob": []}
            ).astype({"file": str, "card": "int64", "blob": object})
        return pd.DataFrame(
            {
                "file": [key[0]],
                "card": [len(acc)],
                "blob": [encode_roaring_array(sorted(acc))],
            }
        )

    return hits.groupBy("file").applyInPandas(
        _combine, "file string, card long, blob binary"
    )


def bitmap_probe_count(
    spark: SparkSession, index_dir: str, preds: dict
) -> DataFrame:
    """COUNT(*) for the conjunction, answered from the INDEX ALONE —
    no data file is opened.  One row: (n_rows, n_files) where n_files
    is how many data files contain at least one match (the retrieval
    path's exact read set)."""
    index = spark.read.parquet(index_dir)
    per_file = _intersect_per_file(index, preds)
    return per_file.agg(
        F.coalesce(F.sum("card"), F.lit(0)).alias("n_rows"),
        F.count(F.lit(1)).alias("n_files"),
    )


def bitmap_probe_rows(
    spark: SparkSession,
    index_dir: str,
    preds: dict,
    columns: list[str] | None = None,
) -> DataFrame:
    """Retrieve the matching ROWS: decode the per-file intersected
    bitmaps to (file, position) pairs, scan ONLY the files that
    contain matches, and semi-join on the physical coordinates.  The
    scan's file list comes from the index — a predicate matching 1%%
    of files reads 1%% of files, exactly (zone maps prune
    approximately; bitmaps prune exactly)."""
    index = spark.read.parquet(index_dir)
    per_file = _intersect_per_file(index, preds)

    repo_root = _REPO_ROOT

    def _explode(batches):
        import sys

        if repo_root not in sys.path:
            sys.path.insert(0, repo_root)
        import pyarrow as pa

        from pg_analytics_spark.sources.delta_dv import (
            decode_roaring_array,
        )

        for b in batches:
            d = b.to_pydict()
            files, poss = [], []
            for f, blob in zip(d["file"], d["blob"]):
                for p in decode_roaring_array(bytes(blob)):
                    files.append(f)
                    poss.append(p)
            yield pa.RecordBatch.from_pydict(
                {"_file": files, "_pos": poss}
            )

    pairs = per_file.mapInArrow(_explode, "_file string, _pos long")
    # the probe's exact read set — driver-sized: one row per MATCHED
    # file (the same order of metadata work a manifest prune does)
    matched_files = [r["file"] for r in per_file.select("file").collect()]
    if not matched_files:
        # zero matches is a normal query outcome (r9 ADVICE), not an
        # error: return an empty frame with the data schema, read from
        # one indexed file's footer. Only a missing/empty index stays
        # loud.
        any_file = [
            r["file"] for r in index.select("file").limit(1).collect()
        ]
        if not any_file:
            raise UnsupportedFormat(
                f"bitmap_probe_rows: index at {index_dir} is empty"
            )
        empty = spark.createDataFrame(
            [], spark.read.parquet(any_file[0]).schema
        )
        return empty.select(*columns) if columns else empty
    scan = spark.read.parquet(*sorted(matched_files)).select(
        "*",
        _file_expr(),
        F.col("_metadata.row_index").cast("long").alias("_pos"),
    )
    out = scan.join(pairs, ["_file", "_pos"], "left_semi").drop(
        "_file", "_pos"
    )
    return out.select(*columns) if columns else out
