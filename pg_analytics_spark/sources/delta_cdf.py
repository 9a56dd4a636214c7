"""Delta Change Data Feed READER — ``table_changes(t, v_lo, v_hi)``.

Delta protocol "Change Data Files": when a table has
``delta.enableChangeDataFeed`` set, DML commits carry ``cdc`` actions
naming parquet files under ``_change_data/`` whose schema is the
table's plus ``_change_type`` ('insert' | 'delete' |
'update_preimage' | 'update_postimage').  Reading the feed for a
version range then works per commit:

* a commit WITH cdc actions is described exactly by those files
  (adds/removes in the same commit are ignored for CDF purposes —
  they restate the same change at file granularity);
* a commit with ONLY dataChange adds synthesizes 'insert' rows from
  the added files (the spec's allowance — appends need no cdc);
* a pure-remove commit (truncate) synthesizes 'delete' rows by
  reading the REMOVED files (still on disk until vacuum);
* an overwrite (operation WRITE with removes+adds) synthesizes
  'delete' for every removed file's rows plus 'insert' for the new —
  the logical-replace semantics;
* any OTHER remove+add commit without cdc (UPDATE/DELETE/MERGE made
  while CDF was off) is REFUSED loudly — synthesizing row-level
  changes from file-level actions would be wrong for partial-file
  rewrites, which is exactly why the protocol has cdc files.

Output: the table's CURRENT columns + ``_change_type``,
``_commit_version``, ``_commit_timestamp`` — delta-spark's
``table_changes`` shape.  Every per-version read is the snapshot
reader's own scan (sources/delta.py::_scan_files) under the latest
``delta.snapshot``'s schema and column mapping, so feeds survive
ALTER TABLE renames; that one snapshot also bounds the version range.

Reference scope: the reference reads Delta snapshots only
(src/duckdb/delta.rs); CDF is additive parity-plus mirroring
delta-spark's readChangeFeed surface.

Scale: one driver pass over the range's commit JSONs (metadata-sized)
plans the read; row work is one distributed scan per (commit, action
kind) — O(changed data), the point of CDF vs snapshot-diffing.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources.delta import (
    _COMMIT_FILE,
    _abs_file,
    _commit_info,
    _decode_log_path,
    _scan_files,
    snapshot,
)
from pg_analytics_spark.sources.delta_write import (
    _cdf_enabled,
    _partition_values,
)
from pg_analytics_spark.types import local_frame


def _commit_actions(log_dir: str, version: int) -> list[dict] | None:
    p = os.path.join(log_dir, f"{version:020d}.json")
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _version_at_timestamp(log_dir: str, ts: str, side: str) -> int:
    """delta-spark's timestamp-bound resolution: start side → the
    EARLIEST version committed at-or-after ``ts``; end side → the
    LATEST version committed at-or-before.  Loud when no commit
    qualifies."""
    import datetime as _dt

    ts_ms = int(_dt.datetime.fromisoformat(ts).timestamp() * 1000)
    stamped = [
        (v, _commit_info(log_dir, v)[0])
        for v in sorted(
            int(m.group(1))
            for m in map(_COMMIT_FILE.match, os.listdir(log_dir))
            if m
        )
    ]
    if side == "start":
        ok = [v for v, t in stamped if t >= ts_ms]
        if not ok:
            raise UnsupportedFormat(
                f"table_changes: no commit at or after {ts!r}"
            )
        return min(ok)
    ok = [v for v, t in stamped if t <= ts_ms]
    if not ok:
        raise UnsupportedFormat(
            f"table_changes: no commit at or before {ts!r}"
        )
    return max(ok)


def read_table_changes(
    spark: SparkSession,
    path: str,
    start_version: int | str,
    end_version: int | str | None = None,
) -> DataFrame:
    """The change feed for commits ``start_version..end_version``
    (inclusive; end defaults to the latest commit).  Either bound may
    be an ISO timestamp STRING instead of a version number —
    delta-spark's startingTimestamp/endingTimestamp forms: a start
    timestamp resolves to the earliest commit at-or-after it, an end
    timestamp to the latest at-or-before."""
    # the latest snapshot drives the output schema + column mapping
    snap = snapshot(path)
    log_dir, latest = snap.log_dir, snap.version
    if isinstance(start_version, str):
        start_version = _version_at_timestamp(log_dir, start_version, "start")
    if isinstance(end_version, str):
        end_version = _version_at_timestamp(log_dir, end_version, "end")
    if end_version is None:
        end_version = latest
    if not (0 <= start_version <= end_version <= latest):
        raise UnsupportedFormat(
            f"table_changes: bad version range {start_version}.."
            f"{end_version} (latest is {latest})"
        )
    if not _cdf_enabled(snap):
        raise UnsupportedFormat(
            "table_changes: delta.enableChangeDataFeed is not set on "
            f"{path} — ALTER TABLE … SET TBLPROPERTIES "
            "('delta.enableChangeDataFeed' = 'true') first"
        )
    part_cols, phys_of = snap.part_cols, snap.phys_of
    data_cols = [c for c in snap.schema.names if c not in part_cols]
    change_types = {"add": "insert", "remove": "delete"}
    change_type = T.StructField("_change_type", T.StringType())

    pieces: list[DataFrame] = []

    def _files_piece(
        actions: list[dict], kind: str, version: int, ts: int
    ) -> None:
        """One scan per (version, action kind): the named files with
        partition values from the actions, under the current schema.
        cdc files carry their own ``_change_type`` column."""
        files = []
        for a in actions:
            rec = a[kind]
            pv = rec.get("partitionValues") or {}
            if not pv and part_cols:
                # remove actions minted by truncate/overwrite carry no
                # partitionValues (r9 ADVICE), and the staged data
                # files don't contain partition columns — recover the
                # values from the hive directories in the file path
                pv = _partition_values(_decode_log_path(rec["path"]))
            key = tuple(pv.get(phys_of.get(c, c)) for c in part_cols)
            files.append((_abs_file(path, rec["path"]), key))
        if kind == "cdc":
            extra, ct = [change_type], F.col("_change_type")
        else:
            extra, ct = (), F.lit(change_types[kind])
        df = _scan_files(spark, snap, files, extra=extra)
        pieces.append(
            df.select(
                *data_cols,
                ct.alias("_cdf_ct"),
                F.lit(version).cast("long").alias("_cdf_v"),
                F.lit(ts).cast("long").alias("_cdf_ts"),
                *part_cols,
            )
        )

    for v in range(start_version, end_version + 1):
        actions = _commit_actions(log_dir, v)
        if actions is None:
            raise UnsupportedFormat(
                f"table_changes: commit {v} was cleaned up after "
                "checkpointing — the change feed for it is gone"
            )
        ts, ci = _commit_info(log_dir, v, actions)
        op = str(ci.get("operation") or "")
        cdc = [a for a in actions if "cdc" in a]
        adds = [
            a
            for a in actions
            if "add" in a and a["add"].get("dataChange", True)
        ]
        removes = [
            a
            for a in actions
            if "remove" in a and a["remove"].get("dataChange", True)
        ]
        if cdc:
            # the cdc files carry their own _change_type column
            _files_piece(cdc, "cdc", v, ts)
            continue
        if removes and adds and op.upper() not in ("WRITE", "CREATE"):
            raise UnsupportedFormat(
                f"table_changes: commit {v} ({op or 'unknown op'}) "
                "rewrote files without cdc actions — it was written "
                "while CDF was off (or by an operation without CDF "
                "support); row-level changes for it cannot be "
                "synthesized from file actions"
            )
        if adds:
            _files_piece(adds, "add", v, ts)
        if removes:
            missing = [
                a
                for a in removes
                if not os.path.isfile(_abs_file(path, a["remove"]["path"]))
            ]
            if missing:
                raise UnsupportedFormat(
                    f"table_changes: commit {v} removed files that "
                    "were since vacuumed — delete images cannot be "
                    "synthesized"
                )
            _files_piece(removes, "remove", v, ts)

    if not pieces:
        schema = T.StructType(
            [
                T.StructField(f.name, f.dataType, True)
                for f in snap.schema.fields
            ]
            + [
                T.StructField("_change_type", T.StringType(), True),
                T.StructField("_commit_version", T.LongType(), True),
                T.StructField("_commit_timestamp", T.LongType(), True),
            ]
        )
        return local_frame(spark, [], schema)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.withColumnsRenamed(
        {
            "_cdf_ct": "_change_type",
            "_cdf_v": "_commit_version",
            "_cdf_ts": "_commit_timestamp",
        }
    )
