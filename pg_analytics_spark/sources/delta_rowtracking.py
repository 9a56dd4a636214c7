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

Every input comes from the one ``delta.Snapshot`` the statement read:
the high-water mark from its live ``domains``, each file's baseRowId
from its ``active`` adds; nothing here walks the log itself.  A
high-water mark that cannot be read raises UnsupportedFormat instead
of restarting ids from 0.

Scale shape: id assignment is O(add actions) driver-side arithmetic
off footer ``numRecords`` (already computed for stats); the read path
adds one broadcast join of a file→(baseRowId, version) map — metadata-
sized — plus the parquet reader's free ``_metadata.row_index``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources.delta import (
    Snapshot,
    _abs_file,
    _load_via_log,
    snapshot,
)
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


def row_id_high_watermark(snap: Snapshot | None) -> int:
    """The table's row-id high-water mark in ``snap`` (-1 before any
    ids were allocated, and for a table being created).  A mark that
    cannot be read raises: guessing one would re-issue row ids."""
    dm = None if snap is None else snap.domains.get(ROW_TRACKING_DOMAIN)
    if not dm:
        return -1
    try:
        return int(json.loads(dm["configuration"])["rowIdHighWaterMark"])
    except (KeyError, TypeError, ValueError) as exc:
        raise UnsupportedFormat(
            f"Delta table {snap.path}: unreadable row-id high-water mark "
            f"in its {ROW_TRACKING_DOMAIN} domainMetadata "
            f"({dm.get('configuration')!r}: {exc!r}) — refusing to "
            "allocate row ids"
        ) from None


def assign_fresh_row_ids(
    snap: Snapshot | None, adds: list[dict], version: int
) -> dict:
    """Stamp ``baseRowId`` + ``defaultRowCommitVersion`` onto every
    staged add of the commit at ``version`` against ``snap`` (None
    when it creates the table) — IN PLACE, sorted by path so
    assignment is deterministic — and return the domainMetadata
    action carrying the advanced high-water mark.  Requires footer
    stats (numRecords) on every add — this writer always computes
    them; a statless add is refused rather than guessed."""
    hwm = row_id_high_watermark(snap)
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
    identity columns must not leak into data skipping).  The stats
    are this commit's own, so stats that do not parse raise."""
    for entry in adds:
        add = entry["add"]
        if not add.get("stats"):
            continue
        s = json.loads(add["stats"])
        for key in ("minValues", "maxValues", "nullCount"):
            m = s.get(key)
            if isinstance(m, dict):
                for h in hidden:
                    m.pop(h, None)
        add["stats"] = json.dumps(s)


def attach_current_ids(
    spark: SparkSession,
    snap: Snapshot,
    df: DataFrame,
    *,
    file_col: str = "_tfile",
    pos_col: str = "_tpos",
) -> DataFrame:
    """Attach ``_rt_id`` / ``_rt_ver`` (each row's CURRENT identity)
    to a scan of ``snap`` that already carries the file path +
    physical position coordinates, then drop the raw hidden columns.
    One broadcast join of a file→(baseRowId, defaultRowCommitVersion)
    map — metadata-sized.  Shared by UPDATE/DELETE/MERGE so the
    preservation arithmetic cannot drift between DML paths."""
    mat_id, mat_ver = materialized_cols(snap.metadata)
    base_rows = []
    for a in snap.active.values():
        if a.get("baseRowId") is None:
            raise UnsupportedFormat(
                f"row-tracking table has active file {a['path']} "
                "without baseRowId — foreign writer?"
            )
        base_rows.append(
            (
                _abs_file(snap.path, a["path"]),
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
    """:func:`row_ids_of` the table at ``version`` (latest by
    default)."""
    return row_ids_of(spark, snapshot(table_path, version))


def row_ids_of(spark: SparkSession, snap: Snapshot) -> DataFrame:
    """The snapshot with two extra columns ``_row_id`` and
    ``_row_commit_version`` — materialized values when a rewrite
    preserved them, fresh ``baseRowId + position`` defaults otherwise.
    DV-deleted rows are (as always) invisible; surviving rows keep
    their physical positions, exactly the spec's fresh-id coordinate.
    """
    if not row_tracking_enabled(snap.metadata):
        raise UnsupportedFormat(
            f"row tracking is not enabled on {snap.path} "
            f"(set {PROP_ENABLE}=true at creation)"
        )
    id_col, ver_col = materialized_cols(snap.metadata)
    df = _load_via_log(
        spark, snap, keep_meta=True, keep_phys=[id_col, ver_col]
    )
    if "_dv_file" not in df.columns:  # empty table: typed empty frame
        return df.select(
            "*",
            F.lit(None).cast("long").alias("_row_id"),
            F.lit(None).cast("long").alias("_row_commit_version"),
        ).drop(id_col, ver_col)
    out = attach_current_ids(
        spark, snap, df, file_col="_dv_file", pos_col="_dv_pos"
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
