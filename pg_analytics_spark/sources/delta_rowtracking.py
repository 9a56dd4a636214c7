"""Delta ROW TRACKING — stable row identities that survive rewrites.

Public-protocol surface (Delta PROTOCOL.md "Row Tracking": writer
feature ``rowTracking`` + its dependency ``domainMetadata``; table
property ``delta.enableRowTracking``).  The reference exposes Delta
through DuckDB's delta scan (reference src/duckdb/delta.rs) and does
not surface row ids — this is additive parity-plus for the 100 TB
curation path, where a stable per-row identity is what makes
incremental annotation / lineage joins possible without a natural key.

Spec shape mirrored here:

* every ``add`` on an enabled table carries ``baseRowId`` and
  ``defaultRowCommitVersion``;
* the FRESH (default) row id of a row is ``baseRowId + its physical
  position in the file``; its fresh commit version is the add's
  ``defaultRowCommitVersion``;
* the table-wide row-id high-water mark rides a ``domainMetadata``
  action, domain ``delta.rowTracking``, configuration JSON
  ``{"rowIdHighWaterMark": N}`` — fresh ids are allocated strictly
  above it, so ids are unique across the table's whole history;
* rewrites PRESERVE identities by materializing them into hidden
  physical columns (names minted at creation into the table
  configuration, keys ``delta.rowTracking.materializedRowIdColumnName``
  and ``delta.rowTracking.materializedRowCommitVersionColumnName``).
  A non-NULL materialized value overrides the fresh default; the
  columns never appear in the table schema, and the normal read path
  (delta._scan_files) does not read them.

Scale shape: id assignment is O(add actions) driver-side arithmetic
off footer ``numRecords`` (already computed for stats); the read path
adds one broadcast join of a file→(baseRowId, version) map — metadata-
sized — plus the parquet reader's free ``_metadata.row_index``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.types import local_frame

#: domainMetadata domain name the spec reserves for row tracking.
ROW_TRACKING_DOMAIN = "delta.rowTracking"

#: table-configuration keys (public property names).
PROP_ENABLE = "delta.enableRowTracking"
PROP_MAT_ID = "delta.rowTracking.materializedRowIdColumnName"
PROP_MAT_VER = "delta.rowTracking.materializedRowCommitVersionColumnName"


def row_tracking_enabled(meta_like: dict | None) -> bool:
    cfg = (meta_like or {}).get("configuration") or {}
    return str(cfg.get(PROP_ENABLE, "")).lower() == "true"


def materialized_cols(meta_like: dict) -> tuple[str, str]:
    """The hidden physical column names a rewrite materializes
    preserved identities into (minted at creation)."""
    cfg = (meta_like or {}).get("configuration") or {}
    id_col, ver_col = cfg.get(PROP_MAT_ID), cfg.get(PROP_MAT_VER)
    if not id_col or not ver_col:
        raise UnsupportedFormat(
            "row-tracking table has no materialized column names in its "
            "configuration — was it created by this writer?"
        )
    return id_col, ver_col


def _domain_rows_from_checkpoint(cp_paths: list[str]) -> dict[str, dict]:
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for cp in cp_paths:
        t = pq.read_table(cp)
        if "domainMetadata" not in t.column_names:
            continue
        for row in t.column("domainMetadata").to_pylist():
            if row and row.get("domain"):
                out[row["domain"]] = row
    return out


def live_domain_metadata(log_dir: str) -> dict[str, dict]:
    """domain → newest domainMetadata action, replayed from the newest
    checkpoint (when present) plus every JSON commit after it — the
    same replay-base rule as the main log reader.  ``removed`` domains
    drop out."""
    out: dict[str, dict] = {}
    if not os.path.isdir(log_dir):
        return out
    base = -1
    last_cp = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(last_cp):
        try:
            with open(last_cp) as fh:
                base = int(json.load(fh)["version"])
            out.update(
                _domain_rows_from_checkpoint(
                    [os.path.join(log_dir, f"{base:020d}.checkpoint.parquet")]
                )
            )
        except Exception:
            base = -1
            out = {}
    for name in sorted(os.listdir(log_dir)):
        if not (name.endswith(".json") and name[:20].isdigit()):
            continue
        if int(name[:20]) <= base:
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                dm = a.get("domainMetadata")
                if dm and dm.get("domain"):
                    out[dm["domain"]] = dm
    return {d: m for d, m in out.items() if not m.get("removed")}


def row_id_high_watermark(log_dir: str) -> int:
    """The table's current row-id high-water mark (-1 before any ids
    were allocated)."""
    dm = live_domain_metadata(log_dir).get(ROW_TRACKING_DOMAIN)
    if not dm:
        return -1
    try:
        return int(json.loads(dm.get("configuration") or "{}").get(
            "rowIdHighWaterMark", -1
        ))
    except Exception:
        return -1


def assign_fresh_row_ids(
    log_dir: str, adds: list[dict], version: int
) -> dict:
    """Stamp ``baseRowId`` + ``defaultRowCommitVersion`` onto every
    staged add (IN PLACE, sorted by path so assignment is
    deterministic) and return the domainMetadata action carrying the
    advanced high-water mark.  Requires footer stats (numRecords) on
    every add — this writer always computes them; a statless add is
    refused rather than guessed."""
    hwm = row_id_high_watermark(log_dir)
    for entry in sorted(adds, key=lambda e: e["add"]["path"]):
        add = entry["add"]
        stats = add.get("stats")
        n = None
        if stats:
            try:
                n = int(json.loads(stats)["numRecords"])
            except Exception:
                n = None
        if n is None:
            raise UnsupportedFormat(
                f"row tracking needs numRecords for {add['path']} and "
                "the parquet footer gave none — cannot allocate row ids"
            )
        add["baseRowId"] = hwm + 1
        add["defaultRowCommitVersion"] = version
        hwm += n
    return {
        "domainMetadata": {
            "domain": ROW_TRACKING_DOMAIN,
            "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
            "removed": False,
        }
    }


def strip_hidden_stats(adds: list[dict], hidden: tuple[str, str]) -> None:
    """Remove the materialized columns from each add's stats min/max
    maps (delta-spark stats only table-schema columns; the hidden
    identity columns must not leak into data skipping)."""
    for entry in adds:
        add = entry["add"]
        if not add.get("stats"):
            continue
        try:
            s = json.loads(add["stats"])
        except Exception:
            continue
        for key in ("minValues", "maxValues", "nullCount"):
            m = s.get(key)
            if isinstance(m, dict):
                for h in hidden:
                    m.pop(h, None)
        add["stats"] = json.dumps(s)


def attach_current_ids(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    prev_active: dict,
    meta: dict,
    *,
    file_col: str = "_tfile",
    pos_col: str = "_tpos",
) -> DataFrame:
    """Attach ``_rt_id`` / ``_rt_ver`` (each row's CURRENT identity)
    to a target scan that already carries the file path + physical
    position coordinates, then drop the raw hidden columns.  One
    broadcast join of a file→(baseRowId, defaultRowCommitVersion)
    map — metadata-sized.  Shared by UPDATE/DELETE/MERGE so the
    preservation arithmetic cannot drift between DML paths."""
    from pg_analytics_spark.sources.delta import _abs_file

    mat_id, mat_ver = materialized_cols(meta)
    base_rows = []
    for a in prev_active.values():
        if a.get("baseRowId") is None:
            raise UnsupportedFormat(
                f"row-tracking table has active file {a['path']} "
                "without baseRowId — foreign writer?"
            )
        base_rows.append(
            (
                _abs_file(table_path, a["path"]),
                int(a["baseRowId"]),
                int(a["defaultRowCommitVersion"]),
            )
        )
    if not base_rows:
        return (
            df.withColumn("_rt_id", F.lit(None).cast("long"))
            .withColumn("_rt_ver", F.lit(None).cast("long"))
            .drop(mat_id, mat_ver)
        )
    base_df = local_frame(
        spark, base_rows, f"{file_col} string, _rt_base long, _rt_defver long"
    )
    return (
        df.join(F.broadcast(base_df), file_col, "left")
        .withColumn(
            "_rt_id",
            F.coalesce(
                F.col(mat_id).cast("long"),
                F.col("_rt_base") + F.col(pos_col),
            ),
        )
        .withColumn(
            "_rt_ver",
            F.coalesce(F.col(mat_ver).cast("long"), F.col("_rt_defver")),
        )
        .drop(mat_id, mat_ver, "_rt_base", "_rt_defver")
    )


def with_current_row_ids(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
) -> DataFrame:
    """The table with two extra columns ``_row_id`` and
    ``_row_commit_version`` — materialized values when a rewrite
    preserved them, fresh ``baseRowId + position`` defaults otherwise.
    DV-deleted rows are (as always) invisible; surviving rows keep
    their physical positions, exactly the spec's fresh-id coordinate.
    """
    from pg_analytics_spark.sources.delta import _load_via_log, _replay_log

    log_dir = os.path.join(table_path, "_delta_log")
    active, meta = _replay_log(log_dir, version=version)
    if meta is None:
        raise UnsupportedFormat(f"not a Delta table: {table_path}")
    if not row_tracking_enabled(meta):
        raise UnsupportedFormat(
            f"row tracking is not enabled on {table_path} "
            f"(set {PROP_ENABLE}=true at creation)"
        )
    id_col, ver_col = materialized_cols(meta)
    df = _load_via_log(
        spark, table_path, version=version, keep_meta=True,
        keep_phys=[id_col, ver_col],
    )
    if "_dv_file" not in df.columns:  # empty table: typed empty frame
        return df.select(
            "*",
            F.lit(None).cast("long").alias("_row_id"),
            F.lit(None).cast("long").alias("_row_commit_version"),
        ).drop(id_col, ver_col)
    out = attach_current_ids(
        spark, table_path, df, active, meta,
        file_col="_dv_file", pos_col="_dv_pos",
    )
    keep = [
        c for c in out.columns
        if c not in ("_dv_file", "_dv_pos", "_rt_id", "_rt_ver")
    ]
    return out.select(
        *keep,
        F.col("_rt_id").alias("_row_id"),
        F.col("_rt_ver").alias("_row_commit_version"),
    )
