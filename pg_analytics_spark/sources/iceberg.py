"""Iceberg source — reference src/duckdb/iceberg.rs:48-89.

The reference registers ``iceberg_scan(path, allow_moved_paths, …)``
with a lazy ``INSTALL/LOAD iceberg`` (src/duckdb/connection.rs:130-142).
Spark's native integration is the iceberg-spark-runtime catalog; when
that is absent (this environment), a built-in MINIMAL metadata reader
takes over, mirroring the Delta fallback (delta.py): it replays the
public Iceberg table format (spec: https://iceberg.apache.org/spec/)
driver-side —

  table/metadata/v*.metadata.json  (or version-hint.text)
    → current snapshot → manifest list (Avro, sources/avro.py)
    → manifests (Avro) → live parquet data files
    → spark.read.schema(S).parquet(*files)   (_scan_files)

where ``S`` is the schema the files' parquet footer declares, read on
the driver (``parquet.footer_schema``): the schema comes from metadata
and the scan reads only data, so no Spark schema-inference job runs.

Supported: format v1 and v2 append/overwrite tables, multiple
snapshots (current via current-snapshot-id; ``snapshot_id`` and
``as_of_timestamp_ms`` time travel via the snapshot log),
schema evolution (files grouped by physical schema and conformed to
the current metadata schema — adds surface as typed NULLs,
primitives cast to the declared type; top-level RENAMES resolve via
the parquet footers' field_id annotations, the spec's "columns are
resolved by field id" rule — name matching applies only to files
written without ids; nested-field renames remain out of scope, the
runtime handles those), transform-aware manifest partition
pruning (``partition_filter``, sources/iceberg_prune.py),
deflate-compressed metadata avro, ``allow_moved_paths`` (the
reference's option,
iceberg.rs:52-56: resolve absolute file paths relative to the moved
table root), and v2 row-level deletes, both kinds:

* POSITIONAL: delete parquet files (file_path, pos per spec
  §position-delete-files) anti-join the scan on (file, row position)
  via Spark's parquet ``_metadata.row_index``.
* EQUALITY: delete parquet rows anti-join the scan on the delete
  file's own columns, restricted by the spec's sequence rule — an
  equality delete with data sequence number S applies only to data
  files with sequence number < S (positional deletes use ≤ and name
  files explicitly, so they need no sequence check).  Sequence
  numbers come from the manifest-list entries (inherited by their
  entries when not explicit).

Both are fully distributed merge-on-read; AQE broadcasts the delete
side when it is small (the common case).

Scale note: like delta-spark/iceberg-runtime snapshot resolution, the
replay is driver-side KB-scale metadata work; the data read is a plain
parquet scan over the live files, so pushdown/pruning apply as usual.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_analytics_spark.errors import MissingDependency, fallback_warning
from pg_analytics_spark.sources.base import apply_common
from pg_analytics_spark.sources.avro import read_container
from pg_analytics_spark.sources.parquet import footer_schema, infer_flags
from pg_analytics_spark.sources.iceberg_prune import (
    file_bounds_may_match,
    file_may_match,
    parse_partition_filter,
    schema_field_types,
    spec_fields_for,
)
from pg_analytics_spark.types import local_frame


#: Tri-state memo for "is the iceberg-spark runtime installed?" —
#: same contract as delta._NATIVE_DELTA_FORMAT (r14: skip the failing
#: format probe's py4j exception round trip on every table load).
_NATIVE_ICEBERG_FORMAT: bool | None = None


def load(spark: SparkSession, files: list[str], opts: dict) -> DataFrame:
    if len(files) != 1:
        raise MissingDependency("iceberg source takes exactly one table path")
    for k in ("metadata_compression_codec", "skip_schema_inference"):
        if k in opts:
            fallback_warning(f"iceberg option {k} handled by the Spark catalog; ignored")
    snapshot_id = opts.get("snapshot_id")
    as_of = opts.get("as_of_timestamp_ms")
    ref = opts.get("ref")
    if ref is not None:
        # named ref (tag/branch, v2 `refs` map) → its pinned snapshot
        meta_file = _latest_metadata_file(files[0])
        with open(meta_file) as fh:
            refs = (json.load(fh).get("refs") or {})
        if str(ref) not in refs:
            raise MissingDependency(
                f"iceberg ref {ref!r} not found (have: "
                f"{sorted(refs) or 'none'})"
            )
        snapshot_id = refs[str(ref)]["snapshot-id"]
    pfilter = parse_partition_filter(opts.get("partition_filter"))
    global _NATIVE_ICEBERG_FORMAT
    try:
        if _NATIVE_ICEBERG_FORMAT is False:
            raise MissingDependency("iceberg runtime absent (memoized)")
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", int(snapshot_id))
        if as_of is not None:
            reader = reader.option("as-of-timestamp", int(as_of))
        df = reader.load(files[0])
        df = _apply_row_predicate(df, pfilter)
        _NATIVE_ICEBERG_FORMAT = True
    except Exception as exc:
        # memoize only the FORMAT being absent (see delta.load: the
        # jar set is fixed at session start, so one failed probe is
        # definitive); real read errors stay un-memoized
        if _NATIVE_ICEBERG_FORMAT is None:
            msg = str(exc)
            if "DATA_SOURCE_NOT_FOUND" in msg or "ClassNotFoundException" in msg:
                _NATIVE_ICEBERG_FORMAT = False
        df = _load_via_metadata(
            spark,
            files[0],
            allow_moved_paths=str(opts.get("allow_moved_paths", "false")).lower()
            in ("true", "1"),
            snapshot_id=None if snapshot_id is None else int(snapshot_id),
            as_of_timestamp_ms=None if as_of is None else int(as_of),
            partition_filter=pfilter,
        )
    return apply_common(df, opts)


def _apply_row_predicate(df: DataFrame, predicate: list | None) -> DataFrame:
    """partition_filter is a predicate on SOURCE columns; after the
    (may-match) file pruning, re-apply it to rows so the result is
    exact.  Catalyst then pushes these conjuncts into the parquet scan
    as usual — the manifest pruning only saved opening the files."""
    if not predicate:
        return df
    cond = None
    for col, op, val in predicate:
        if col not in df.columns:
            continue
        c = F.col(col)
        if op == "in":
            term = c.isin(list(val))
        elif op == "=":
            term = c == F.lit(val)
        elif op == "<":
            term = c < F.lit(val)
        elif op == "<=":
            term = c <= F.lit(val)
        elif op == ">":
            term = c > F.lit(val)
        else:
            term = c >= F.lit(val)
        cond = term if cond is None else cond & term
    return df if cond is None else df.filter(cond)


# ------------------------------------------------------------------ #
# Minimal metadata replay (public Iceberg table spec)
# ------------------------------------------------------------------ #


def _latest_metadata_file(table_path: str) -> str:
    meta_dir = os.path.join(table_path, "metadata")
    if not os.path.isdir(meta_dir):
        raise MissingDependency(
            f"not an Iceberg table (no metadata dir): {table_path}"
        )
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.isfile(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        cand = os.path.join(meta_dir, f"v{v}.metadata.json")
        if os.path.isfile(cand):
            return cand
    metas = sorted(
        f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")
    )
    if not metas:
        raise MissingDependency(f"no *.metadata.json under {meta_dir}")
    return os.path.join(meta_dir, metas[-1])


def _resolve(path: str, table_path: str, allow_moved: bool) -> str:
    """Map a file URI from the metadata to a local path; with
    allow_moved_paths, re-root absolute paths that no longer exist under
    the current table location (reference iceberg.rs:52-56 semantics)."""
    p = path
    if p.startswith("file:"):
        p = p[5:]
    if os.path.exists(p):
        return p
    if allow_moved:
        # take the suffix starting at the last known table-dir marker
        for marker in ("/metadata/", "/data/"):
            if marker in p:
                return os.path.join(
                    table_path, p[p.index(marker) + 1 :]
                )
    return p


def _snapshot_at(meta: dict, ts_ms: int) -> int:
    """Latest snapshot whose commit timestamp is <= ts_ms, per the
    snapshot-log (falling back to snapshots' own timestamp-ms)."""
    log = meta.get("snapshot-log") or [
        {"timestamp-ms": s.get("timestamp-ms"), "snapshot-id": s["snapshot-id"]}
        for s in (meta.get("snapshots") or [])
        if s.get("timestamp-ms") is not None
    ]
    eligible = [e for e in log if e.get("timestamp-ms") is not None and e["timestamp-ms"] <= ts_ms]
    if not eligible:
        raise MissingDependency(
            f"no Iceberg snapshot at or before timestamp {ts_ms}"
        )
    return max(eligible, key=lambda e: e["timestamp-ms"])["snapshot-id"]


def plan_snapshot(
    table_path: str,
    meta: dict,
    snap: dict,
    allow_moved_paths: bool = False,
    partition_filter: list | None = None,
) -> tuple[
    dict[str, int],
    list[str],
    list[tuple[str, int]],
    dict[str, dict[str, Any]],
    int,
    list[tuple[str, int, int, str]],
]:
    """Pure-Python (no Spark) file plan for one snapshot: walk the
    manifest list and return ``(data_files path→sequence-number,
    pos_delete_files, eq_delete_files (path, seq), part_proj
    path→identity-partition constants for adopted tables, pruned
    count, dv_entries [(puffin_path, content_offset, content_size,
    referenced_data_file)] — v3 deletion vectors)``.  Shared by the
    DataFrame reader and the iceberg_native DataSource (whose
    planning runs in Spark's data-source worker, where no
    SparkContext exists)."""
    adopted = (meta.get("properties") or {}).get(
        "adoption.contains-foreign-files"
    ) == "true"
    part_proj: dict[str, dict[str, Any]] = {}
    manifest_list = _resolve(
        snap["manifest-list"], table_path, allow_moved_paths
    )
    _, manifests = read_container(manifest_list)
    types, names = schema_field_types(meta)
    pruned = 0
    data_files: dict[str, int] = {}  # path → sequence number
    pos_delete_files: list[str] = []
    eq_delete_files: list[tuple[str, int]] = []  # (path, sequence number)
    dv_entries: list[tuple[str, int, int, str]] = []  # v3 DVs
    for m in manifests:
        mpath = _resolve(m["manifest_path"], table_path, allow_moved_paths)
        _, entries = read_container(mpath)
        is_delete_manifest = m.get("content", 0) == 1
        m_seq = m.get("sequence_number") or 0
        spec_fields = spec_fields_for(
            meta, m.get("partition_spec_id", 0), names
        )
        for e in entries:
            # manifest-entry status: 0=EXISTING, 1=ADDED, 2=DELETED
            if e.get("status", 0) == 2:
                continue
            df_rec = e["data_file"]
            fmt = str(df_rec.get("file_format", "PARQUET")).upper()
            path = _resolve(df_rec["file_path"], table_path, allow_moved_paths)
            seq = e.get("sequence_number")
            seq = m_seq if seq is None else seq
            if is_delete_manifest and fmt == "PUFFIN":
                # v3 DELETION VECTOR: a content=1 entry whose payload
                # is a deletion-vector-v1 blob inside a Puffin file,
                # scoped to exactly one referenced data file
                dv_entries.append(
                    (
                        path,
                        int(df_rec.get("content_offset") or 0),
                        int(df_rec.get("content_size_in_bytes") or 0),
                        _resolve(
                            df_rec["referenced_data_file"],
                            table_path,
                            allow_moved_paths,
                        ),
                    )
                )
                continue
            if fmt != "PARQUET":
                raise MissingDependency(
                    f"iceberg fallback reads parquet data files only, got {fmt}"
                )
            if is_delete_manifest:
                # data_file.content: 1=position deletes, 2=equality deletes
                if df_rec.get("content", 1) == 2:
                    eq_delete_files.append((path, int(seq)))
                else:
                    pos_delete_files.append(path)
            else:
                # transform-aware manifest pruning (may-match superset;
                # the residual row predicate restores exactness below)
                if partition_filter and not file_may_match(
                    e["data_file"].get("partition"),
                    spec_fields,
                    types,
                    partition_filter,
                ):
                    pruned += 1
                    continue
                # column-bounds data skipping (data_file.lower_bounds/
                # upper_bounds, Appendix-D values) — same may-match
                # contract, same residual predicate for exactness
                if partition_filter and not file_bounds_may_match(
                    e["data_file"],
                    {n: i for i, n in names.items()},
                    types,
                    partition_filter,
                ):
                    pruned += 1
                    continue
                if adopted and spec_fields:
                    vals = _identity_tuple_values(
                        e["data_file"].get("partition"), spec_fields, types
                    )
                    if vals:
                        part_proj[path] = vals
                data_files[path] = int(seq)
    return (
        data_files,
        pos_delete_files,
        eq_delete_files,
        part_proj,
        pruned,
        dv_entries,
    )


def _load_via_metadata(
    spark: SparkSession,
    table_path: str,
    allow_moved_paths: bool = False,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    partition_filter: list | None = None,
) -> DataFrame:
    meta_file = _latest_metadata_file(table_path)
    with open(meta_file) as fh:
        meta: dict[str, Any] = json.load(fh)
    # time travel: an explicit snapshot_id overrides the current one;
    # as_of_timestamp_ms resolves through the snapshot log
    snap_id = (
        snapshot_id
        if snapshot_id is not None
        else _snapshot_at(meta, as_of_timestamp_ms)
        if as_of_timestamp_ms is not None
        else meta.get("current-snapshot-id")
    )
    snapshots = meta.get("snapshots") or []
    if snap_id is None or snap_id == -1 or not snapshots:
        raise MissingDependency(
            f"Iceberg table has no current snapshot: {table_path}"
        )
    snap = next(
        (s for s in snapshots if s.get("snapshot-id") == snap_id), None
    )
    if snap is None:
        raise MissingDependency(
            f"current snapshot {snap_id} not in metadata: {meta_file}"
        )
    (
        data_files,
        pos_delete_files,
        eq_delete_files,
        part_proj,
        pruned,
        dv_entries,
    ) = plan_snapshot(
        table_path,
        meta,
        snap,
        allow_moved_paths=allow_moved_paths,
        partition_filter=partition_filter,
    )
    if partition_filter and not data_files:
        # every file pruned: an empty relation with the table's schema
        # still needs the schema — read zero rows of any pruned file is
        # impossible, so surface the situation clearly instead
        raise MissingDependency(
            "partition_filter pruned every data file; relax the filter"
        )
    if not data_files:
        raise MissingDependency(
            f"Iceberg snapshot {snap_id} has no live data files"
        )
    if not (pos_delete_files or eq_delete_files or dv_entries):
        return _apply_row_predicate(
            _scan_files(
                spark, sorted(data_files), meta, part_proj=part_proj or None
            ),
            partition_filter,
        )
    return _apply_row_predicate(
        _apply_row_deletes(
            spark,
            data_files,
            pos_delete_files,
            eq_delete_files,
            meta,
            part_proj=part_proj or None,
            dv_entries=dv_entries,
        ),
        partition_filter,
    )


def _identity_tuple_values(
    partition: dict | None, spec_fields: list[dict], types: dict[int, str]
) -> dict[str, Any]:
    """{source column name → typed python value} for the IDENTITY
    fields of a manifest entry's partition tuple — the constants the
    reader projects onto adopted data files (spec §column-projection:
    "Return the value from partition metadata if an Identity partition
    spec field exists for the field").  Date tuples are stored as
    epoch days (Appendix-A avro encoding); everything else rides its
    natural python type."""
    if partition is None:
        return {}
    import datetime as dt

    out: dict[str, Any] = {}
    for f in spec_fields:
        if f.get("transform", "identity") != "identity":
            continue
        src = f.get("_source_name")
        pname = f.get("name")
        if not src or pname not in partition:
            continue
        v = partition[pname]
        if v is not None and types.get(f.get("source-id")) == "date":
            v = dt.date(1970, 1, 1) + dt.timedelta(days=int(v))
        out[src] = v
    return out


def _delete_key(col) -> Column:
    """Join key for row deletes: the path suffix from the table's
    data/ dir, scheme-normalized — delete files record the path as
    WRITTEN in metadata, while _metadata.file_path is the resolved local
    URI, and allow_moved_paths may have re-rooted one but not the other."""
    c = F.regexp_replace(col, "^file:/+", "/")
    return F.regexp_replace(c, r"^.*/(?=data/)", "")


def _delete_key_py(path: str) -> str:
    import re

    p = re.sub("^file:/+", "/", path)
    i = p.rfind("/data/")
    return p[i + 1 :] if i >= 0 else p


#: The columns a scan's row coordinates may add (:func:`_coords`).
_COORD_COLS = ("_ice_file", "_ice_pos", "_ifile", "_ipos")


def _coords(coords: str, path: Column, pos: Column) -> list[Column]:
    """A row's (file, position) coordinates, in one of two keyings:
    ``"key"``, the reader's (``_ice_file``: the path from ``data/`` on,
    see :func:`_delete_key`; ``_ice_pos``), or ``"path"``, the
    writers' (``_ifile``: the absolute path without its scheme;
    ``_ipos``)."""
    if coords == "key":
        file_col = _delete_key(path).alias("_ice_file")
        return [file_col, pos.cast("long").alias("_ice_pos")]
    file_col = F.regexp_replace(path, "^file:/+", "/").alias("_ifile")
    return [file_col, pos.cast("long").alias("_ipos")]


def _pos_deletes(spark: SparkSession, paths: list[str], coords: str) -> DataFrame:
    """The (file, position) pairs of position-delete files, read under
    the spec's fixed ``file_path string, pos long`` schema
    (§position-delete-files) and keyed as :func:`_coords`."""
    return (
        spark.read.schema("file_path string, pos long")
        .parquet(*sorted(set(paths)))
        .select(*_coords(coords, F.col("file_path"), F.col("pos")))
    )


def _read_footer_schema(spark: SparkSession, path: str) -> DataFrame:
    """One parquet file (an equality-delete file) read under the schema
    its footer declares."""
    schema = footer_schema(path, infer_flags(spark))
    return spark.read.schema(schema).parquet(path)


def _apply_row_deletes(
    spark: SparkSession,
    data_files: dict[str, int],
    pos_delete_files: list[str],
    eq_delete_files: list[tuple[str, int]],
    meta: dict,
    part_proj: dict[str, dict[str, Any]] | None = None,
    dv_entries: list[tuple[str, int, int, str]] | None = None,
) -> DataFrame:
    """Merge-on-read: positional deletes anti-join on (file,
    _metadata.row_index); v3 DELETION VECTORS decode their roaring
    blobs (KB-scale, driver-side) into the same (file, pos) anti-join
    side; equality deletes anti-join on the delete file's own columns
    (null-safe, per spec), applied only to data files whose sequence
    number is BELOW the delete's.  Everything is a distributed join —
    no driver-side row state; AQE broadcasts small delete sides."""
    data = _scan_files(
        spark, sorted(data_files), meta, coords="key", part_proj=part_proj
    )
    if pos_delete_files:
        data = data.join(
            _pos_deletes(spark, pos_delete_files, "key"),
            ["_ice_file", "_ice_pos"],
            "left_anti",
        )
    if dv_entries:
        from pg_analytics_spark.sources.iceberg_dv import dv_positions_map

        rows = [
            (_delete_key_py(ref), int(pos))
            for ref, positions in dv_positions_map(dv_entries).items()
            for pos in positions
        ]
        if rows:
            dvdf = local_frame(spark, rows, "_ice_file string, _ice_pos long")
            data = data.join(
                F.broadcast(dvdf), ["_ice_file", "_ice_pos"], "left_anti"
            )
    if eq_delete_files:
        seq_map = local_frame(
            spark,
            [(_delete_key_py(p), s) for p, s in data_files.items()],
            "_ice_file string, _ice_seq bigint",
        )
        data = data.join(F.broadcast(seq_map), "_ice_file", "left")
        for dpath, dseq in sorted(eq_delete_files):
            d = data.alias("d")
            x = _read_footer_schema(spark, dpath).alias("x")
            cond = F.col("d._ice_seq") < F.lit(int(dseq))
            for c in x.columns:
                cond = cond & F.col(f"d.{c}").eqNullSafe(F.col(f"x.{c}"))
            data = d.join(x, cond, "left_anti")
        data = data.drop("_ice_seq")
    return data.drop("_ice_file", "_ice_pos")


# ------------------------------------------------------------------ #
# Schema evolution (name-based) — conform files to the current schema
# ------------------------------------------------------------------ #

#: Iceberg primitive type name → Spark SQL type (spec §schemas)
_ICE_TYPES = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "date": "date",
    "time": "bigint",  # µs since midnight; Spark pre-TIME parity choice
    "timestamp": "timestamp_ntz",
    "timestamptz": "timestamp",
    "string": "string",
    "uuid": "string",
    "binary": "binary",
}


def _ice_to_spark_type(t) -> str | None:
    """Spark SQL type string for an Iceberg type, or None when the
    field should be left as the files deliver it (nested types)."""
    if not isinstance(t, str):
        return None  # struct/list/map records: keep the file's shape
    if t in _ICE_TYPES:
        return _ICE_TYPES[t]
    if t.startswith("decimal("):
        return t
    if t.startswith("fixed"):
        return "binary"
    return None


def _current_fields(meta: dict) -> list[dict]:
    """The table's CURRENT schema fields from v1 (`schema`) or v2
    (`schemas` + `current-schema-id`) metadata."""
    if "schemas" not in meta and "schema" not in meta:
        return []
    cur = meta.get("current-schema-id")
    schema = None
    for s in meta.get("schemas", []):
        if s.get("schema-id") == cur:
            schema = s
            break
    if schema is None:
        schema = meta.get("schema") or (
            meta["schemas"][-1] if meta.get("schemas") else {}
        )
    return schema.get("fields", [])


def _name_mapping_ids(meta: dict) -> dict[str, int]:
    """``schema.name-mapping.default`` (spec: applied to data files
    without field-id annotations) → on-disk column name → field id.
    Every name a field has ever had maps to its id, so files written
    before AND after a RENAME COLUMN resolve to the same field."""
    raw = (meta.get("properties") or {}).get("schema.name-mapping.default")
    if not raw:
        return {}
    out: dict[str, int] = {}
    for e in json.loads(raw):
        fid = e.get("field-id")
        for n in e.get("names", []):
            out.setdefault(n, fid)
    return out


def _mapped_ids(meta: dict, arrow_schema) -> dict[int, str]:
    """Synthetic field-id → physical-name map for a file WITHOUT
    footer ids, from the table's name mapping (empty when the table
    has none — callers then use plain name fallback)."""
    nm = _name_mapping_ids(meta)
    if not nm:
        return {}
    return {nm[f.name]: f.name for f in arrow_schema if f.name in nm}


def _arrow_field_ids(arrow_schema) -> dict[int, str]:
    """Iceberg field id → physical column name, from the parquet
    footer's field_id annotations (pyarrow surfaces them as field
    metadata key ``PARQUET:field_id``).  Empty for files written
    without ids (non-Iceberg writers) — callers then fall back to
    name-based resolution.

    TOP-LEVEL fields only: nested struct members keep their physical
    names (nested types pass through _conform_to_schema untouched), so
    renames of nested fields are out of scope for the fallback reader.
    """
    out: dict[int, str] = {}
    for f in arrow_schema:
        md = f.metadata or {}
        raw = md.get(b"PARQUET:field_id")
        if raw is not None:
            try:
                out[int(raw)] = f.name
            except ValueError:
                pass
    return out


def _conform_to_schema(
    df: DataFrame, meta: dict, id_to_phys: dict[int, str] | None = None
) -> DataFrame:
    """Schema evolution: project the scan to the table's CURRENT
    schema — added columns missing from old files surface as typed
    NULLs (mergeSchema handles the union; this pass fixes order,
    presence, and types), dropped columns disappear, primitive types
    cast to the metadata's declaration.

    Resolution is FIELD-ID-based when `id_to_phys` (parquet footer
    field_id → physical column name) is supplied — this is what makes
    renamed columns read correctly from files written under the old
    name, matching the runtime's resolution rule (spec: "Columns in
    data files are resolved by field id").  Without ids (plain
    writers) it falls back to name matching."""
    fields = _current_fields(meta)
    if not fields:
        return df
    cols = []
    have = {c.lower(): c for c in df.columns}
    for f in fields:
        name = f["name"]
        spark_t = _ice_to_spark_type(f.get("type"))
        phys = None
        if id_to_phys and f.get("id") in id_to_phys:
            cand = id_to_phys[f["id"]]
            if cand in df.columns:
                phys = cand
        if phys is None and not id_to_phys and name.lower() in have:
            # name fallback ONLY for files without field_id annotations
            # (non-Iceberg writers): a file WITH ids that lacks this
            # field's id does not contain the column — resolving its
            # name would leak a dropped column into a re-added one.
            phys = have[name.lower()]
        if phys is not None:
            c = F.col(phys)
            cols.append(
                (c.cast(spark_t) if spark_t else c).alias(name)
            )
        elif spark_t is not None:
            cols.append(F.lit(None).cast(spark_t).alias(name))
        # absent nested column in old files: cannot synthesize a typed
        # null without the full nested type — skip (reader must add it)
    return df.select(*cols, *[c for c in df.columns if c in _COORD_COLS])


def _scan_files(
    spark: SparkSession,
    paths: list[str],
    meta: dict,
    *,
    coords: str | None = None,
    part_proj: dict[str, dict[str, Any]] | None = None,
) -> DataFrame:
    """The one Iceberg data-file scan: ``paths`` conformed to the
    table's CURRENT schema (:func:`_conform_to_schema`), carrying the
    row coordinates named by ``coords`` (:func:`_coords`) when given.

    Every read passes the schema its files' parquet footer declares
    (``parquet.footer_schema``, read on the driver), so no Spark
    schema-inference job runs.  A table with one schema reads all files
    under the first file's footer, as Spark's own inference would.
    Files are grouped by PHYSICAL schema (footer schema and field ids),
    each group conformed and the groups unioned, whenever the footers
    may differ: the table has evolved (an int32-era file coexists with
    its int64 successor, which Spark's mergeSchema refuses to merge),
    it holds adopted files, or a writer scans its DML target (those
    rows are written back, so no file's columns may be lost).

    ``part_proj`` (path → {source column: constant}) carries identity
    partition values for ADOPTED data files that physically lack
    their hive partition columns — projected via one broadcast join,
    see :func:`_project_partition_constants`."""
    import pyarrow.parquet as pq

    flags = infer_flags(spark)
    need_proj = bool(part_proj) and any(p in part_proj for p in paths)
    every = (
        need_proj or coords == "path" or len(meta.get("schemas") or []) > 1
    )
    # (footer schema JSON, field ids) → (schema, ids, files)
    groups: dict[tuple, tuple] = {}
    key: tuple = ()
    for p in paths:
        if every or not groups:
            md = pq.read_metadata(p)
            arrow = md.schema.to_arrow_schema()
            # footer ids first (files from id-stamping writers); the
            # name-mapping property covers id-less files — without it a
            # renamed column would not resolve in old files.  The ids
            # are part of the key: a drop-then-re-add leaves files with
            # identical columns but different ids.
            ids = _arrow_field_ids(arrow) or _mapped_ids(meta, arrow)
            schema = footer_schema(p, flags, md)
            key = (schema.json(), tuple(sorted(ids.items())))
            groups.setdefault(key, (schema, ids, []))
        groups[key][2].append(p)
    parts = []
    for schema, ids, ps in groups.values():
        df = spark.read.schema(schema).parquet(*ps)
        extra = []
        if coords:
            extra += _coords(
                coords,
                F.col("_metadata.file_path"),
                F.col("_metadata.row_index"),
            )
        if need_proj and coords != "key":
            extra.append(
                _delete_key(F.col("_metadata.file_path")).alias("_ice_file")
            )
        if extra:
            df = df.select("*", *extra)
        # projection AFTER conform: conform's field-id resolution nulls
        # columns the files lack; the constants coalesce over those
        # typed NULLs (and native files' physical values win)
        out = _conform_to_schema(df, meta, id_to_phys=ids or None)
        if need_proj:
            out = _project_partition_constants(spark, out, ps, part_proj)
            if coords != "key":
                out = out.drop("_ice_file")
        parts.append(out)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _project_partition_constants(
    spark: SparkSession,
    df: DataFrame,
    ps: list[str],
    part_proj: dict[str, dict[str, Any]],
) -> DataFrame:
    """Identity-partition CONSTANT projection for adopted data files
    (add_files / zero-copy migration reference hive-layout parquet
    whose partition columns live in the DIRECTORY PATH, not the file):
    broadcast-join a file→constants map on the same normalized path
    key the delete machinery uses, then COALESCE any physically
    present column over the constant so native files written after
    adoption — which DO carry their source columns — keep their own
    values.  One scan + one broadcast hash join, no per-partition
    reader calls: a full scan of a 10k-partition adopted table stays
    a single-pass plan (the Delta fallback reads one group per
    partition value instead; manifest-level partition_filter pruning
    has already dropped non-matching files either way)."""
    sub = {p: part_proj[p] for p in ps if p in part_proj}
    cols = sorted({c for v in sub.values() for c in v})
    import datetime as dt

    # mapping-side type from the VALUES (tuples carry int/date/str);
    # _conform_to_schema casts to the declared schema type afterwards
    def _t(c: str) -> str:
        for v in sub.values():
            if v.get(c) is not None:
                x = v[c]
                if isinstance(x, bool):
                    return "boolean"
                if isinstance(x, int):
                    return "bigint"
                if isinstance(x, dt.date):
                    return "date"
                return "string"
        return "string"

    proj = [f"_ice_proj_{i}" for i in range(len(cols))]
    ddl = ", ".join(
        ["`_ice_file` string"]
        + [f"`{pn}` {_t(c)}" for pn, c in zip(proj, cols)]
    )
    rows = [
        tuple([_delete_key_py(p)] + [v.get(c) for c in cols])
        for p, v in sorted(sub.items())
    ]
    mapdf = local_frame(spark, rows, ddl)
    out = df.join(F.broadcast(mapdf), "_ice_file", "left")
    for pn, c in zip(proj, cols):
        if c in df.columns:
            # cast the constant to the CONFORMED column's type so the
            # coalesce never widens it (int stays int, not bigint)
            out = out.withColumn(
                c,
                F.coalesce(
                    F.col(c), F.col(pn).cast(df.schema[c].dataType)
                ),
            )
        else:
            out = out.withColumn(c, F.col(pn))
    return out.drop(*proj)
