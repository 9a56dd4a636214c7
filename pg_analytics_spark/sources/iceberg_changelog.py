"""Iceberg CHANGELOG scan — per-snapshot insert/delete row images.

Iceberg has no change-data files; the changelog is DERIVED from what
each snapshot did to the manifest graph (the same derivation Spark's
Iceberg `create_changelog_view` procedure performs):

* data-manifest entries with status ADDED (1) in manifests NEW at the
  snapshot → **insert** images (an UPDATE's post-images arrive this
  way: merge-on-read UPDATE stages exactly the updated rows);
* position-delete files NEW at the snapshot → **delete** images by
  (file, row_index) join against the PARENT-visible rows;
* equality-delete files NEW at the snapshot → delete images by
  null-safe key match against parent-visible rows (an eq delete's
  sequence number exceeds every parent data file's, so the spec's
  strict seq rule reduces to plain matching here — its own
  same-snapshot data files are untouched, the upsert contract);
* data manifests DROPPED from the parent's list (logical replace /
  overwrite) → delete images of their still-visible rows;
* snapshots whose summary operation is ``replace`` (compaction) are
  SKIPPED — a physical rewrite is not a logical change.

Rows conform to the CURRENT schema through the same field-id /
name-mapping resolution as the main reader, so the feed survives
ALTER TABLE renames.  Output: table columns + ``_change_type``
('insert' | 'delete'), ``_sequence_number``, ``_snapshot_id`` —
snapshot ids are random, so ranges and ordering use SEQUENCE numbers.

Reference scope: the reference reads Iceberg snapshots only
(src/duckdb/iceberg.rs); the changelog mirrors the Iceberg runtime's
changelog-scan surface as additive parity-plus — the MoR twin of the
Delta CDF reader (sources/delta_cdf.py).

Scale: planning is one driver pass over the range's manifest lists
(metadata-sized); row work is one distributed scan per changed file
group — O(changed data) plus one parent-visibility scan per snapshot
that deletes rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.types import local_frame


def iceberg_changelog(
    spark: SparkSession,
    path: str,
    from_seq: int | None = None,
    to_seq: int | None = None,
) -> DataFrame:
    """Change rows for snapshots with sequence number in
    ``from_seq..to_seq`` (inclusive; defaults = full history)."""
    from pg_analytics_spark.sources.avro import read_container
    from pg_analytics_spark.sources.iceberg import (
        _current_fields,
        _ice_to_spark_type,
        _pos_deletes,
        _read_footer_schema,
        _scan_files,
    )
    from pg_analytics_spark.sources.iceberg_write import (
        _adoption_projection,
        _conform_eq_delete_names,
        _latest_metadata,
        _scan_snapshot_files,
        _visible_target,
    )

    meta_dir = os.path.join(path, "metadata")
    _v, meta = _latest_metadata(meta_dir)
    if meta is None:
        raise UnsupportedFormat(f"no Iceberg table at {path}")
    snaps = sorted(
        meta.get("snapshots", []),
        key=lambda s: int(s.get("sequence-number", 0)),
    )
    if not snaps:
        raise UnsupportedFormat(f"iceberg_changelog: no snapshots at {path}")
    lo = int(from_seq) if from_seq is not None else 0
    hi = (
        int(to_seq)
        if to_seq is not None
        else int(snaps[-1].get("sequence-number", 0))
    )

    def _mf_entries(snap) -> list[dict]:
        _s, lst = read_container(snap["manifest-list"])
        return list(lst)

    def _tag(df: DataFrame, ct: str, seq: int, sid: int) -> DataFrame:
        return df.select(
            *[f["name"] for f in _current_fields(meta)],
            F.lit(ct).alias("_change_type"),
            F.lit(seq).cast("long").alias("_sequence_number"),
            F.lit(sid).cast("long").alias("_snapshot_id"),
        )

    pieces: list[DataFrame] = []
    for idx, snap in enumerate(snaps):
        seq = int(snap.get("sequence-number", 0))
        if not (lo <= seq <= hi):
            continue
        op = str((snap.get("summary") or {}).get("operation", "append"))
        if op == "replace":
            continue  # compaction: physical reorg, no logical change
        sid = int(snap["snapshot-id"])
        cur = _mf_entries(snap)
        parent = snaps[idx - 1] if idx > 0 else None
        par = _mf_entries(parent) if parent is not None else []
        par_paths = {m["manifest_path"] for m in par}
        cur_paths = {m["manifest_path"] for m in cur}

        # inserts: ADDED data entries in manifests new at this snapshot
        ins_files: list[str] = []
        pos_files: list[str] = []
        eq_files: list[str] = []
        dv_new: list[tuple[str, int, int, str]] = []  # v3 DVs
        for m in cur:
            if m["manifest_path"] in par_paths:
                continue
            _s2, entries = read_container(m["manifest_path"])
            for e in entries:
                if e.get("status", 0) != 1:
                    continue  # EXISTING carries / DELETED tombstones
                rec = e["data_file"]
                if m.get("content", 0) == 1:
                    if str(rec.get("file_format", "")).upper() == "PUFFIN":
                        dv_new.append(
                            (
                                rec["file_path"],
                                int(rec.get("content_offset") or 0),
                                int(rec.get("content_size_in_bytes") or 0),
                                rec["referenced_data_file"],
                            )
                        )
                    elif rec.get("content", 1) == 2:
                        eq_files.append(rec["file_path"])
                    else:
                        pos_files.append(rec["file_path"])
                else:
                    ins_files.append(rec["file_path"])
        if ins_files:
            df = _scan_files(spark, sorted(ins_files), meta)
            pieces.append(_tag(df, "insert", seq, sid))

        # deletes need the PARENT-visible relation
        removed_live: list[str] = []
        for m in par:
            if m["manifest_path"] in cur_paths or m.get("content", 0) == 1:
                continue
            _s2, entries = read_container(m["manifest_path"])
            removed_live.extend(
                e["data_file"]["file_path"]
                for e in entries
                if e.get("status", 0) != 2
            )
        if (
            pos_files or eq_files or dv_new or removed_live
        ) and parent is not None:
            data_seq, p_pos, p_eq, p_dvs = _scan_snapshot_files(
                par, with_dvs=True
            )
            if data_seq:
                pv = _visible_target(
                    spark,
                    data_seq,
                    p_pos,
                    p_eq,
                    meta=meta,
                    part_proj=_adoption_projection(meta, par),
                    dv_entries=p_dvs,
                )
                if dv_new:
                    # v3 DV delete images: positions newly covered at
                    # this snapshot = (new DV) − (parent's DV for the
                    # same file) — parent-covered rows were already
                    # invisible and must not re-report
                    from pg_analytics_spark.sources.iceberg_dv import (
                        dv_positions_map,
                    )

                    old_map = dv_positions_map(
                        [(e[0], e[1], e[2], e[3]) for e in p_dvs]
                    )
                    pairs_rows = []
                    for ref, positions in dv_positions_map(
                        dv_new
                    ).items():
                        old = set(old_map.get(ref, []))
                        pairs_rows.extend(
                            (ref, int(p))
                            for p in positions
                            if int(p) not in old
                        )
                    if pairs_rows:
                        dvdf = local_frame(
                            spark, pairs_rows, "_ifile string, _ipos long"
                        )
                        pieces.append(
                            _tag(
                                pv.join(
                                    F.broadcast(dvdf),
                                    ["_ifile", "_ipos"],
                                    "left_semi",
                                ),
                                "delete",
                                seq,
                                sid,
                            )
                        )
                if removed_live:
                    keys = [
                        os.path.abspath(p) for p in sorted(removed_live)
                    ]
                    pieces.append(
                        _tag(
                            pv.filter(F.col("_ifile").isin(keys)),
                            "delete",
                            seq,
                            sid,
                        )
                    )
                if pos_files:
                    pairs = _pos_deletes(spark, pos_files, "path")
                    pieces.append(
                        _tag(
                            pv.join(pairs, ["_ifile", "_ipos"], "left_semi"),
                            "delete",
                            seq,
                            sid,
                        )
                    )
                for dpath in sorted(eq_files):
                    x = _conform_eq_delete_names(
                        _read_footer_schema(spark, dpath), meta
                    ).alias("x")
                    d = pv.alias("d")
                    cond = None
                    for c in x.columns:
                        cl = F.col(f"d.{c}").eqNullSafe(F.col(f"x.{c}"))
                        cond = cl if cond is None else (cond & cl)
                    pieces.append(
                        _tag(
                            d.join(x, cond, "left_semi"), "delete", seq, sid
                        )
                    )

    if not pieces:
        ddl = ", ".join(
            f"`{f['name']}` {_ice_to_spark_type(f.get('type')) or 'string'}"
            for f in _current_fields(meta)
        )
        ddl += (
            ", `_change_type` string, `_sequence_number` bigint, "
            "`_snapshot_id` bigint"
        )
        return local_frame(spark, [], ddl)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
