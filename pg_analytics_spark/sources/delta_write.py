"""Zero-dependency Delta Lake WRITER (public protocol, reader v1 /
writer v2).

The reference only reads Delta (`delta_scan`, src/duckdb/delta.rs);
this closes the loop: `Engine.materialize(format="delta")` and tests
can produce a real Delta table — parquet data files plus a
`_delta_log` of JSON commits — that round-trips through this repo's
native replay reader (sources/delta.py) AND any standard Delta client:

* ``overwrite`` — one commit carrying remove actions for every
  previously-active file plus add actions for the new files (the
  protocol's logical replace; old versions stay time-travelable).
* ``append``    — one commit of add actions; delta-spark schema
  semantics: missing NULLABLE columns fill with typed nulls, NEW
  columns need the ``mergeSchema`` option and ride an updated
  metaData action (old files read back with nulls via the reader's
  name-based evolution).
* hive partitioning via ``partition_by`` (partitionValues recorded as
  the protocol's string map, files laid out in ``col=value`` dirs).
* per-file ``stats`` JSON (numRecords / minValues / maxValues for
  top-level primitive columns, from the parquet footers) — the same
  shape the reader's ``stats_filter`` data skipping consumes, so
  tables written here are skippable on read with zero extra work.

Commits are written atomically AND put-if-absent (temp file +
hard-link onto the final name): a concurrent reader sees the previous
version or the new one, never a torn log, and two writers racing to
the same version fail loudly with ConcurrentWriteError instead of the
second silently clobbering the first (the loser re-reads the log and
retries).  Full optimistic concurrency (logical conflict checking
between non-overlapping commits) needs a coordination service and is
out of scope; Spark jobs funnel table commits through the driver
anyway.

Scale: data files are written by executors (normal distributed parquet
write); only the O(files) log entry construction is driver-side, the
same disposition as every Delta writer.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources.footer_stats import footer_stats

_STATS_TYPES = {
    "byte", "short", "integer", "long", "float", "double",
    "string", "boolean", "date",
}


def _json_stat(v):
    import datetime as dt

    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def _file_stats(path: str, schema) -> str | None:
    """stats JSON from the parquet footer: numRecords, nullCount for
    the file's top-level primitive columns, and min/max for the
    columns of ``schema`` with a statable type (the public Delta stats
    shape).  A float column holding NaN gets no min/max (see
    footer_stats).  Optional: an unreadable footer
    yields None (no stats, file still committed); the ROW COUNT the
    writer reports never depends on this."""
    try:
        bounds, nulls, num_rows = footer_stats(path)
    except Exception:
        return None
    statable = {
        f.name
        for f in schema.fields
        if f.dataType.typeName() in _STATS_TYPES
    }
    mins: dict = {}
    maxs: dict = {}
    for name, (lo, hi) in bounds.items():
        if name in statable:
            mins[name] = _json_stat(lo)
            maxs[name] = _json_stat(hi)
    return json.dumps(
        {
            "numRecords": num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    )


def _stats_for_files(spark, files: list[str], schema) -> dict[str, tuple]:
    """path → (stats_json, size, mtime_ms) for every committed file.

    Large commits compute the parquet-footer reads ON THE EXECUTORS
    (one Spark job over the file list) — at 100k files a sequential
    driver loop would serialize the whole commit on footer I/O.  Tiny
    commits stay driver-side where a job costs more than the loop.

    COMMIT-PROTOCOL BOUNDARY: this native writer targets
    posix-rename filesystems (local/NFS — every path the executors
    and driver share); `os.replace` atomicity is what makes the
    staging→table move safe.  Object stores need a real commit
    protocol — the engine prefers delta-spark when it is installed,
    and that is the supported path for s3a:// et al.
    """

    def _one(p: str):
        return p, (
            _file_stats(p, schema),
            os.path.getsize(p),
            int(os.path.getmtime(p) * 1000),
        )

    return per_file_on_executors(spark, files, _one)


def per_file_on_executors(spark, files: list[str], one) -> dict:
    """Map ``one(path) -> (path, value)`` over committed files: on the
    EXECUTORS for large commits (one Spark job over the file list),
    driver-side for tiny commits where a job costs more than the loop.
    Shared by both native lakehouse writers so their commit paths
    cannot drift."""
    if len(files) <= 16:
        return dict(one(p) for p in files)
    sc = spark.sparkContext
    slices = max(2, min(len(files) // 8, 256))
    return dict(sc.parallelize(sorted(files), slices).map(one).collect())


def _schema_shape(schema_string: str) -> list[tuple]:
    """(name, type) pairs of a Spark schema JSON — the comparison that
    matters for append safety; nullability/metadata are ignored."""
    try:
        fields = json.loads(schema_string).get("fields", [])
    except (ValueError, AttributeError):
        return []
    return [
        (f.get("name"), json.dumps(f.get("type"), sort_keys=True))
        for f in fields
    ]


def _truthy_opt(v) -> bool:
    return str(v).lower() in ("1", "true", "yes", "on")


def _conform_append_schema(df, prev_schema: str, *, merge_schema: bool):
    """Align an append dataframe with the table schema, delta-spark
    semantics:

    * columns the table has but the dataframe lacks → allowed when
      NULLABLE, filled with typed nulls (schema enforcement fills, it
      never drops);
    * overlapping columns must match types exactly;
    * NEW dataframe columns → only with the ``mergeSchema`` option,
      appended (nullable) after the table's columns — the caller rides
      an updated metaData action so old files read back with nulls
      (the reader's NAME-based evolution, sources/delta.py).

    Returns (conformed df in table-column order [+ new columns],
    evolved schemaString when new columns were merged, else None).
    """
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.delta import _delta_type_to_spark

    prev_fields = json.loads(prev_schema).get("fields", [])
    df_fields = {f.name: f for f in df.schema.fields}
    df_shape = {
        f[0]: f[1] for f in _schema_shape(df.schema.json())
    }
    prev_shape = {f[0]: f[1] for f in _schema_shape(prev_schema)}
    cols = []
    for pf in prev_fields:
        name = pf["name"]
        if name in df_fields:
            if df_shape[name] != prev_shape[name]:
                raise UnsupportedFormat(
                    f"delta append type mismatch on {name!r}: table has "
                    f"{prev_shape[name]}, dataframe has {df_shape[name]}"
                )
            cols.append(F.col(name))
        elif pf.get("nullable", True):
            cols.append(
                F.lit(None)
                .cast(_delta_type_to_spark(pf["type"]))
                .alias(name)
            )
        else:
            raise UnsupportedFormat(
                f"delta append missing NON-NULL column {name!r} — the "
                "table schema requires a value"
            )
    new_names = [
        f.name for f in df.schema.fields if f.name not in prev_shape
    ]
    if new_names and not merge_schema:
        raise UnsupportedFormat(
            f"delta append has new columns {new_names} — pass "
            "options={'mergeSchema': 'true'} to evolve the table "
            "schema (delta-spark semantics), or drop them"
        )
    cols += [F.col(n) for n in new_names]
    out = df.select(*cols)
    if not new_names:
        return out, None
    # evolved metaData: table fields as-is + new fields appended with
    # nullable FORCED true — older files have no values for them, so
    # the schema must admit nulls regardless of the append dataframe's
    # own (possibly literal-non-null) nullability
    out_fields = {
        f["name"]: f for f in json.loads(out.schema.json())["fields"]
    }
    evolved_fields = list(prev_fields) + [
        {**out_fields[n], "nullable": True} for n in new_names
    ]
    evolved = json.dumps(
        {"type": "struct", "fields": evolved_fields}
    )
    return out, evolved


def _partition_values(rel_path: str) -> dict[str, str | None]:
    """Delta ``partitionValues`` of a data file from its Hive
    directories; the NULL sentinel directory is JSON null."""
    from urllib.parse import unquote

    pv: dict[str, str | None] = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            v = unquote(v)
            pv[unquote(k)] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return pv


def _phys_renames(meta_like: dict) -> dict[str, str] | None:
    """Column mapping's name rule: logical top-level name → physical
    parquet name, from a metaData action's schemaString.  None when
    the table has no mapping (the common case) — files then carry the
    logical names.  The one copy of the rule: the snapshot and
    change-feed reader (sources/delta.py::_scan_files), the
    ``delta_native`` DataSource and this writer all call it; pure
    Python, so the DataSource plan worker (no SparkContext) can too.
    Nested fields need no write-side handling: the reader's positional
    cast onto the logical type renames every nested level on read."""
    cfg = meta_like.get("configuration") or {}
    if cfg.get("delta.columnMapping.mode", "none") not in ("name", "id"):
        return None
    fields = json.loads(meta_like["schemaString"])["fields"]
    return {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in fields
    }


def _stage_as_physical(df: DataFrame, renames: dict[str, str] | None):
    if not renames:
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).alias(renames.get(c, c)) for c in df.columns]
    )


def _apply_column_mapping(
    prev_meta: dict | None, schema_string: str, create_cfg: dict | None
) -> tuple[str, dict, dict[str, str] | None, dict | None]:
    """Annotate ``schema_string`` for column mapping when the table
    (or the creating ``configuration``) has mapping enabled: every
    field carries ``delta.columnMapping.id`` + ``physicalName`` in its
    metadata, same-name fields keep their existing annotation, new
    fields get fresh ids past ``delta.columnMapping.maxColumnId``
    (monotonic — a dropped column's physical name is never reused).
    Returns (annotated schemaString, effective configuration,
    logical→physical renames or None, protocol action dict when the
    CREATING commit must declare mapping support).  Protocol floor per
    the Delta spec's column-mapping feature: reader 2 / writer 5."""
    cfg = dict(
        (prev_meta or {}).get("configuration")
        if prev_meta is not None
        else (create_cfg or {})
    )
    if cfg.get("delta.columnMapping.mode", "none") not in ("name", "id"):
        return schema_string, cfg, None, None
    prev_by_name: dict[str, dict] = {}
    if prev_meta is not None:
        for f in json.loads(prev_meta["schemaString"])["fields"]:
            if (f.get("metadata") or {}).get("delta.columnMapping.id"):
                prev_by_name[f["name"]] = f["metadata"]
    max_id = int(cfg.get("delta.columnMapping.maxColumnId", 0) or 0)
    max_id = max(
        [max_id]
        + [int(m["delta.columnMapping.id"]) for m in prev_by_name.values()]
    )
    schema = json.loads(schema_string)
    renames: dict[str, str] = {}
    for f in schema.get("fields", []):
        md = dict(f.get("metadata") or {})
        if not md.get("delta.columnMapping.id"):
            if f["name"] in prev_by_name:
                md.update(prev_by_name[f["name"]])
            else:
                max_id += 1
                md["delta.columnMapping.id"] = max_id
                md["delta.columnMapping.physicalName"] = f"col-{max_id}"
        f["metadata"] = md
        renames[f["name"]] = md["delta.columnMapping.physicalName"]
    cfg["delta.columnMapping.maxColumnId"] = str(max_id)
    proto = (
        {"minReaderVersion": 2, "minWriterVersion": 5}
        if prev_meta is None
        else None
    )
    return json.dumps(schema), cfg, renames, proto


def _latest_protocol(log_dir: str) -> dict:
    """The table's current protocol action — newest JSON commit that
    carries one, falling back to the newest checkpoint's protocol row,
    else the writer's base (1, 2).  Metadata-sized IO: checkpoints and
    ALTER upgrades are rare, commits are small."""
    try:
        names = sorted(
            (f for f in os.listdir(log_dir) if f.endswith(".json")),
            reverse=True,
        )
    except OSError:
        names = []
    for name in names:
        try:
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "protocol" in a:
                        return a["protocol"]
        except (OSError, ValueError):
            continue
    cps = sorted(
        (f for f in os.listdir(log_dir)
         if ".checkpoint." in f and f.endswith(".parquet")),
        reverse=True,
    ) if os.path.isdir(log_dir) else []
    for cp in cps:
        try:
            import pyarrow.parquet as pq

            t = pq.read_table(
                os.path.join(log_dir, cp), columns=["protocol"]
            ).to_pylist()
            for row in t:
                if row.get("protocol") and row["protocol"].get(
                    "minReaderVersion"
                ) is not None:
                    return row["protocol"]
        except Exception:
            continue
    return {"minReaderVersion": 1, "minWriterVersion": 2}


def alter_delta(
    path: str,
    *,
    add: tuple[str, str] | None = None,
    rename: tuple[str, str] | None = None,
    drop: str | None = None,
) -> dict:
    """``ALTER TABLE`` on a native Delta table — one schema-evolution
    commit per call (metadata-only: no data file is read or written).

    * ``add=(name, type)`` — append a NULLABLE column; old files read
      back with typed NULLs (the reader's schema conformance).
    * ``rename=(old, new)`` / ``drop=name`` — per the Delta protocol
      these REQUIRE column mapping; a table still on direct names is
      upgraded in the same commit (mode=name, every existing field's
      physicalName = its current on-disk name so existing files keep
      resolving, protocol raised to reader 2 / writer 5 — the spec's
      columnMapping floor).  After a rename, appends and DML stage
      parquet under the PHYSICAL names (write_delta/_rewrite_where/
      merge_delta translate), so files written before and after the
      rename coexist under one logical schema.

    Reference scope: the reference reads Delta only
    (src/duckdb/delta.rs); schema evolution DDL is additive
    parity-plus mirroring delta-spark's ALTER TABLE surface.
    Returns {"version": n, "operation": ...}.
    """
    import time as _time

    from pg_analytics_spark.sources.delta import _replay_log
    from pg_analytics_spark.types import duckdb_type_to_spark

    if sum(x is not None for x in (add, rename, drop)) != 1:
        raise UnsupportedFormat(
            "alter_delta takes exactly one of add=/rename=/drop="
        )
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise UnsupportedFormat(f"not a Delta table (no _delta_log): {path}")
    _active, meta = _replay_log(log_dir)
    if meta is None:
        raise UnsupportedFormat(f"Delta log has no metaData action: {path}")
    if (rename is not None or drop is not None):
        from pg_analytics_spark.sources import delta_rowtracking as _rtm

        if _rtm.row_tracking_enabled(meta):
            raise UnsupportedFormat(
                "RENAME/DROP COLUMN upgrades the table to column "
                "mapping, which this writer does not combine with row "
                "tracking — ADD COLUMN is supported"
            )
    schema = json.loads(meta["schemaString"])
    fields = schema.get("fields", [])
    names = [f["name"] for f in fields]
    cfg = dict(meta.get("configuration") or {})
    part_cols = list(meta.get("partitionColumns") or [])
    proto_action: dict | None = None

    def _ensure_mapping() -> None:
        """First rename/drop on a direct-name table: switch to
        mode=name with physicalName = the column's CURRENT name —
        files already on disk keep resolving byte-for-byte."""
        nonlocal proto_action
        if cfg.get("delta.columnMapping.mode", "none") in ("name", "id"):
            return
        next_id = 0
        for f in fields:
            md = dict(f.get("metadata") or {})
            next_id += 1
            md.setdefault("delta.columnMapping.id", next_id)
            md.setdefault("delta.columnMapping.physicalName", f["name"])
            f["metadata"] = md
        cfg["delta.columnMapping.mode"] = "name"
        cfg["delta.columnMapping.maxColumnId"] = str(next_id)
        proto = _latest_protocol(log_dir)
        proto_action = {
            "minReaderVersion": max(2, int(proto.get("minReaderVersion", 1))),
            "minWriterVersion": max(5, int(proto.get("minWriterVersion", 2))),
        }

    if add is not None:
        col, type_str = add
        if col in names:
            raise UnsupportedFormat(f"ADD COLUMN: {col!r} already exists")
        new_f: dict = {
            "name": col,
            "type": duckdb_type_to_spark(type_str).jsonValue(),
            "nullable": True,
            "metadata": {},
        }
        if cfg.get("delta.columnMapping.mode", "none") in ("name", "id"):
            max_id = int(cfg.get("delta.columnMapping.maxColumnId", 0) or 0)
            max_id += 1
            new_f["metadata"] = {
                "delta.columnMapping.id": max_id,
                "delta.columnMapping.physicalName": f"col-{max_id}",
            }
            cfg["delta.columnMapping.maxColumnId"] = str(max_id)
        fields.append(new_f)
        op, op_params = "ADD COLUMNS", {"column": col, "type": type_str}
    elif rename is not None:
        old, new = rename
        if old not in names:
            raise UnsupportedFormat(f"RENAME COLUMN: no column {old!r}")
        if new in names:
            raise UnsupportedFormat(
                f"RENAME COLUMN: target {new!r} already exists"
            )
        _ensure_mapping()
        for f in fields:
            if f["name"] == old:
                f["name"] = new
        if old in part_cols:
            part_cols = [new if c == old else c for c in part_cols]
        op, op_params = "RENAME COLUMN", {"from": old, "to": new}
    else:
        if drop not in names:
            raise UnsupportedFormat(f"DROP COLUMN: no column {drop!r}")
        if drop in part_cols:
            raise UnsupportedFormat(
                f"DROP COLUMN: {drop!r} is a partition column"
            )
        if len(fields) == 1:
            raise UnsupportedFormat(
                "DROP COLUMN: cannot drop the only column"
            )
        _ensure_mapping()
        fields[:] = [f for f in fields if f["name"] != drop]
        op, op_params = "DROP COLUMNS", {"column": drop}

    schema["fields"] = fields
    version = _next_version(log_dir)
    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": op,
                "operationParameters": op_params,
                "engineInfo": "pg_analytics_spark-native-writer",
            }
        }
    ]
    if proto_action is not None:
        actions.append({"protocol": proto_action})
    actions.append(
        {
            "metaData": {
                "id": meta.get("id") or str(uuid.uuid4()),
                "format": meta.get("format")
                or {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": part_cols,
                "configuration": cfg,
                "createdTime": meta.get("createdTime") or now_ms,
            }
        }
    )
    actions[0]["commitInfo"]["timestamp"] = int(_time.time() * 1000)
    _write_commit(path, log_dir, version, actions)
    return {"version": version, "operation": op}


def _stage_cdc_files(
    df: DataFrame,
    path: str,
    version: int,
    part_cols: list[str],
    renames: dict[str, str] | None,
) -> list[dict]:
    """Stage Change-Data-Feed rows into ``_change_data/`` and return
    the commit's ``cdc`` actions (Delta protocol "Change Data Files":
    table schema + ``_change_type``, laid out like data files with
    partitionValues in the action; ``dataChange=false`` — CDF rows
    re-describe a change, they are not new table data).  Under column
    mapping the data columns stage PHYSICAL names, exactly like adds;
    ``_change_type`` stays literal per the spec."""
    from pyspark.sql import functions as F

    if renames:
        df = df.select(
            *[
                F.col(c).alias(renames.get(c, c))
                for c in df.columns
            ]
        )
        part_cols = [renames.get(c, c) for c in part_cols]
    direct = all(
        df.schema[c].dataType.typeName() in _DIRECT_PART_TYPES
        for c in part_cols
    )
    if direct:
        # r13: direct Arrow staging (see _stage_parquet_direct) — CDC
        # files carry no stats
        staged = _stage_parquet_direct(
            df,
            os.path.join(path, "_change_data"),
            part_cols,
            f"cdc-{version:05d}",
            None,
            "snappy",
        )
        return [
            {
                "cdc": {
                    "path": _encode_log_path(f"_change_data/{rel}"),
                    "partitionValues": _partition_values(
                        f"_change_data/{rel}"
                    ),
                    "size": size,
                    "dataChange": False,
                }
            }
            for rel, _stats, size, _mtime, _rows in staged
        ]
    staging = os.path.join(
        os.path.dirname(path.rstrip("/")) or ".",
        f"_delta_cdc_stage-{uuid.uuid4().hex}",
    )
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(staging)
    actions: list[dict] = []
    for root, _dirs, names in os.walk(staging):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(root, name)
            rel_dir = os.path.relpath(root, staging)
            rel_dir = "" if rel_dir == "." else rel_dir
            fname = f"cdc-{version:05d}-{uuid.uuid4().hex}.parquet"
            rel_path = (
                os.path.join("_change_data", rel_dir, fname)
                if rel_dir
                else os.path.join("_change_data", fname)
            )
            dst = os.path.join(path, rel_path)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
            actions.append(
                {
                    "cdc": {
                        "path": _encode_log_path(
                            rel_path.replace(os.sep, "/")
                        ),
                        "partitionValues": _partition_values(
                            rel_path.replace(os.sep, "/")
                        ),
                        "size": os.path.getsize(dst),
                        "dataChange": False,
                    }
                }
            )
    shutil.rmtree(staging, ignore_errors=True)
    # zero matched rows → no cdc file; such a commit carries no
    # removes/adds either, and the reader reports an empty change
    return actions


def alter_delta_properties(
    path: str,
    set_props: dict[str, str] | None = None,
    unset_props: list[str] | None = None,
) -> dict:
    """``ALTER TABLE … SET/UNSET TBLPROPERTIES`` — one metadata-only
    commit updating the table ``configuration`` (delta-spark's
    property contract: e.g. setting ``delta.enableDeletionVectors``
    routes every later UPDATE/DELETE through the merge-on-read DV
    path).  Column-mapping keys are refused here: the mode flip needs
    the coordinated schema annotation + protocol upgrade that
    alter_delta's RENAME/DROP path performs."""
    import time as _time

    from pg_analytics_spark.sources.delta import _replay_log

    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise UnsupportedFormat(f"not a Delta table (no _delta_log): {path}")
    _active, meta = _replay_log(log_dir)
    if meta is None:
        raise UnsupportedFormat(f"Delta log has no metaData action: {path}")
    for k in list(set_props or {}):
        if k.startswith("delta.columnMapping."):
            raise UnsupportedFormat(
                "SET TBLPROPERTIES: column-mapping keys change physical "
                "resolution — use ALTER TABLE RENAME/DROP COLUMN (the "
                "upgrade annotates the schema and raises the protocol)"
            )
        if k.startswith("delta.rowTracking.") or k == "delta.enableRowTracking":
            raise UnsupportedFormat(
                "SET TBLPROPERTIES: row tracking is declared when the "
                "table is CREATED (write_delta configuration=) — "
                "enabling it later would need a backfill this writer "
                "does not implement"
            )
    from pg_analytics_spark.sources import delta_rowtracking as _rtm

    if _rtm.row_tracking_enabled(meta):
        for k in unset_props or []:
            if k.startswith("delta.rowTracking.") or k == "delta.enableRowTracking":
                raise UnsupportedFormat(
                    "UNSET TBLPROPERTIES: disabling row tracking would "
                    "orphan the materialized identity columns — "
                    "recreate the table instead"
                )
    cfg = dict(meta.get("configuration") or {})
    cfg.update({k: str(v) for k, v in (set_props or {}).items()})
    for k in unset_props or []:
        cfg.pop(k, None)
    proto_action = None
    if (
        str((set_props or {}).get("delta.enableChangeDataFeed", ""))
        .lower()
        == "true"
    ):
        proto = _latest_protocol(log_dir)
        if int(proto.get("minWriterVersion", 2)) < 4:
            # the spec's changeDataFeed floor: writer version 4
            proto_action = {
                "minReaderVersion": int(proto.get("minReaderVersion", 1)),
                "minWriterVersion": 4,
            }
    version = _next_version(log_dir)
    now_ms = int(_time.time() * 1000)
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "SET TBLPROPERTIES"
                if set_props
                else "UNSET TBLPROPERTIES",
                "operationParameters": {
                    "properties": json.dumps(set_props or unset_props or {})
                },
                "engineInfo": "pg_analytics_spark-native-writer",
            }
        },
        {
            "metaData": {
                "id": meta.get("id") or str(uuid.uuid4()),
                "format": meta.get("format")
                or {"provider": "parquet", "options": {}},
                "schemaString": meta["schemaString"],
                "partitionColumns": meta.get("partitionColumns") or [],
                "configuration": cfg,
                "createdTime": meta.get("createdTime") or now_ms,
            }
        },
    ]
    if proto_action is not None:
        actions.insert(1, {"protocol": proto_action})
    _write_commit(path, log_dir, version, actions)
    return {"version": version, "configuration": cfg}


def _next_version(log_dir: str) -> int:
    """Next commit version: one past the max of JSON commits AND
    checkpoints — after log cleanup the checkpoint may be the only
    witness of the latest version."""
    if not os.path.isdir(log_dir):
        return 0
    vs = [
        int(f[:20])
        for f in os.listdir(log_dir)
        if f[:20].isdigit()
        and (f.endswith(".json") or ".checkpoint." in f)
    ]
    return max(vs) + 1 if vs else 0


def checkpoint_delta(path: str) -> dict:
    """Write a Delta checkpoint for the table's latest version: the
    active add-actions + metaData + protocol as ONE parquet file
    (`{v:020}.checkpoint.parquet`) plus `_last_checkpoint` — after
    which readers replay from the checkpoint instead of every JSON
    commit, and commits ≤ v are eligible for log cleanup.  O(files)
    metadata, driver-side by design (same disposition as every Delta
    checkpoint writer).  Returns {"version": v, "files": n}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_analytics_spark.sources.delta import _replay_log

    log_dir = os.path.join(path, "_delta_log")
    version = _next_version(log_dir) - 1
    if version < 0:
        raise UnsupportedFormat(f"no Delta log at {path}")
    active, meta = _replay_log(log_dir)
    if meta is None:
        raise UnsupportedFormat(f"Delta log has no metaData action: {path}")

    dv_type = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add_type = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv_type),
            # row tracking: identities must survive the checkpoint, or
            # a log cleanup would orphan every preserved row id
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
        ]
    )
    meta_type = pa.struct(
        [
            ("id", pa.string()),
            (
                "format",
                pa.struct(
                    [("provider", pa.string()),
                     ("options", pa.map_(pa.string(), pa.string()))]
                ),
            ),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    proto_type = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            # table-feature lists (protocol 3/7) must round-trip — a
            # checkpoint that dropped them would demote the protocol
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    rows = [
        {
            "add": {
                "path": a["path"],
                "partitionValues": list(
                    (a.get("partitionValues") or {}).items()
                ),
                "size": a.get("size"),
                "modificationTime": a.get("modificationTime"),
                "dataChange": False,
                "stats": a.get("stats"),
                "deletionVector": a.get("deletionVector"),
                "baseRowId": a.get("baseRowId"),
                "defaultRowCommitVersion": a.get(
                    "defaultRowCommitVersion"
                ),
            },
            "metaData": None,
            "protocol": None,
        }
        for a in active.values()
    ]
    rows.append(
        {
            "add": None,
            "metaData": {
                "id": meta.get("id"),
                "format": {
                    "provider": (meta.get("format") or {}).get(
                        "provider", "parquet"
                    ),
                    "options": list(
                        ((meta.get("format") or {}).get("options") or {}).items()
                    ),
                },
                "schemaString": meta.get("schemaString"),
                "partitionColumns": meta.get("partitionColumns") or [],
                "configuration": list(
                    (meta.get("configuration") or {}).items()
                ),
                "createdTime": meta.get("createdTime"),
            },
            "protocol": None,
        }
    )
    rows.append(
        {
            "add": None,
            "metaData": None,
            # the table's ACTUAL protocol — a column-mapping upgrade
            # (alter_delta) raises it to (2, 5), and a checkpoint that
            # demoted it would let a cleanup drop the upgrade commit
            "protocol": _latest_protocol(log_dir),
        }
    )
    # SetTransaction watermarks survive the checkpoint (protocol: txn
    # actions must be preserved — dropping one would let a cleaned-up
    # log re-apply an idempotent writer's batch)
    txn_type = pa.struct(
        [
            ("appId", pa.string()),
            ("version", pa.int64()),
            ("lastUpdated", pa.int64()),
        ]
    )
    for app_id, (txn_v, txn_ts) in sorted(_txn_versions(log_dir).items()):
        rows.append(
            {
                "add": None,
                "metaData": None,
                "protocol": None,
                "txn": {
                    "appId": app_id,
                    "version": txn_v,
                    "lastUpdated": txn_ts,
                },
            }
        )
    # live domainMetadata survives the checkpoint (the row-tracking
    # high-water mark lives here; dropping it would let a cleaned-up
    # log re-allocate already-issued row ids)
    from pg_analytics_spark.sources.delta_rowtracking import (
        live_domain_metadata,
    )

    dm_type = pa.struct(
        [
            ("domain", pa.string()),
            ("configuration", pa.string()),
            ("removed", pa.bool_()),
        ]
    )
    for domain, dm in sorted(live_domain_metadata(log_dir).items()):
        rows.append(
            {
                "add": None,
                "metaData": None,
                "protocol": None,
                "domainMetadata": {
                    "domain": domain,
                    "configuration": dm.get("configuration"),
                    "removed": False,
                },
            }
        )
    schema = pa.schema(
        [
            ("add", add_type),
            ("metaData", meta_type),
            ("protocol", proto_type),
            ("txn", txn_type),
            ("domainMetadata", dm_type),
        ]
    )
    tbl = pa.Table.from_pylist(rows, schema=schema)
    cp_path = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    tmp = cp_path + f".tmp-{uuid.uuid4().hex}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, cp_path)
    lc_tmp = os.path.join(log_dir, f".lc-{uuid.uuid4().hex}")
    with open(lc_tmp, "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    os.replace(lc_tmp, os.path.join(log_dir, "_last_checkpoint"))
    return {"version": version, "files": len(active)}


def compact_delta(
    spark, path: str, target_file_mb: float = 128,
    zorder_by: list[str] | None = None,
) -> dict:
    """Small-file compaction as a Delta COMMIT (not a directory swap —
    that would corrupt the log): read the active file set, rewrite at
    ~target_file_mb, commit as one overwrite (remove actions for every
    old file + adds for the compacted ones).  Readers see the old or
    the new file set atomically; history stays time-travelable.

    ``zorder_by``: Delta's ``OPTIMIZE … ZORDER BY (cols)`` — the
    rewrite range-partitions AND sorts on the Morton interleave of the
    named columns (operators/zorder.py), so each output file covers a
    tight min/max envelope on EVERY clustered column and the per-file
    ``stats`` already recorded in each add action skip files for box
    predicates on any of them.  Returns {files_before, files_after,
    bytes, version} — Engine.compact's parquet shape plus the commit
    version."""
    import math

    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.delta import _replay_log

    log_dir = os.path.join(path, "_delta_log")
    active, meta = _replay_log(log_dir)
    if meta is None:
        raise UnsupportedFormat(f"no Delta table at {path}")
    from pg_analytics_spark.sources import delta_rowtracking as _rtm

    rt = _rtm.row_tracking_enabled(meta)
    n_before = len(active)
    total = sum(int(a.get("size") or 0) for a in active.values())
    part_cols = meta.get("partitionColumns") or []
    rt_cols: list[str] = []
    if rt:
        # OPTIMIZE must PRESERVE identities: read the table WITH its
        # current row ids and materialize them into the rewritten
        # files under the hidden column names (values there override
        # the fresh defaults the new adds also carry, per the spec)
        mat_id, mat_ver = _rtm.materialized_cols(meta)
        df = (
            _rtm.with_current_row_ids(spark, path)
            .withColumnRenamed("_row_id", mat_id)
            .withColumnRenamed("_row_commit_version", mat_ver)
        )
        rt_cols = [mat_id, mat_ver]
    else:
        df = load_source(spark, path, "delta")
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    if zorder_by:
        if part_cols:
            raise UnsupportedFormat(
                "ZORDER BY on a partitioned delta table is not "
                "supported — cluster within partitions is a follow-up; "
                "drop partitioning or zorder_by"
            )
        from pg_analytics_spark.operators.zorder import (
            zorder_bins,
            zorder_key_expr,
        )

        bits = 8
        out, bin_cols = zorder_bins(df, zorder_by, bits=bits)
        zkey = zorder_key_expr(bin_cols, bits)
        out = (
            out.withColumn("__zkey", zkey)
            .repartitionByRange(n, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey", *bin_cols)
        )
    else:
        out = df.repartition(n, *part_cols) if part_cols else df.repartition(n)
    if rt:
        # own commit path: write_delta would read the hidden identity
        # columns into the minted schemaString — here the table schema
        # is UNCHANGED, the commit is a pure physical replace
        import time as _time

        version = _next_version(log_dir)
        adds, _n_rows = _stage_files(out, path, version, part_cols, None)
        _rtm.strip_hidden_stats(adds, (rt_cols[0], rt_cols[1]))
        now_ms = int(_time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "OPTIMIZE",
                    "operationParameters": {
                        "targetFileMb": target_file_mb,
                        "zOrderBy": json.dumps(zorder_by or []),
                    },
                    "engineInfo": "pg_analytics_spark-native-writer",
                }
            }
        ]
        for p in sorted(active):
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        actions.append(_rtm.assign_fresh_row_ids(log_dir, adds, version))
        actions.extend(adds)
        _write_commit(path, log_dir, version, actions)
        res = {"version": version, "files": len(adds)}
    else:
        res = write_delta(
            out, path, mode="overwrite",
            partition_by=part_cols or None,
        )
    return {
        "files_before": n_before,
        "files_after": res["files"],
        "bytes": total,
        "version": res["version"],
    }


def restore_delta(spark, path: str, version: int) -> dict:
    """``RESTORE TABLE t TO VERSION AS OF n`` — a NEW commit whose
    active file set (and schema) equals version ``n``'s: files active
    now but not then get remove actions, files active then but not
    now get their ORIGINAL add actions re-emitted, files active in
    both are untouched.  History is preserved (restore is itself a
    version; a second restore can undo it) — exactly Delta's RESTORE
    semantics, not a log rewind.

    Fails loudly if a file the target version needs has been
    physically deleted (VACUUM beyond the restore horizon), like
    delta-spark."""
    import time as _time

    from pg_analytics_spark.sources.delta import _replay_log

    log_dir = os.path.join(path, "_delta_log")
    active_now, meta_now = _replay_log(log_dir)
    if meta_now is None:
        raise UnsupportedFormat(f"no Delta table at {path}")
    from pg_analytics_spark.errors import MissingDependency

    try:
        active_old, meta_old = _replay_log(log_dir, version)
    except MissingDependency as exc:
        raise UnsupportedFormat(
            f"delta table at {path} has no version {version}: {exc}"
        ) from None
    if meta_old is None:
        raise UnsupportedFormat(
            f"delta table at {path} has no version {version}"
        )
    missing = [
        p for p in active_old
        if p not in active_now
        and not os.path.isfile(
            os.path.join(path, _decode_log_path(p))
        )
    ]
    if missing:
        raise UnsupportedFormat(
            f"cannot RESTORE to version {version}: {len(missing)} data "
            f"file(s) were vacuumed (first: {missing[0]!r})"
        )
    now_ms = int(_time.time() * 1000)
    actions: list[dict] = []
    if meta_old.get("schemaString") != meta_now.get("schemaString") or (
        meta_old.get("partitionColumns") != meta_now.get("partitionColumns")
    ):
        actions.append({"metaData": meta_old})
    n_removed = n_readded = 0
    for p in active_now:
        if p not in active_old:
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            n_removed += 1
    for p, add in active_old.items():
        if p not in active_now:
            actions.append({"add": {**add, "dataChange": True}})
            n_readded += 1
    new_version = _next_version(log_dir)
    _write_commit(path, log_dir, new_version, actions)
    return {
        "restored_to": version,
        "files_removed": n_removed,
        "files_readded": n_readded,
        "version": new_version,
    }


#: partition-column Spark type names the direct Arrow staging kernel
#: hive-encodes itself (int/long/short/byte → str(int), string, date →
#: ISO, boolean → true/false); anything else (timestamp, decimal,
#: float…) falls back to the Spark staged write whose hive formatting
#: is authoritative for those types
_DIRECT_PART_TYPES = frozenset(
    {"integer", "long", "short", "byte", "string", "date", "boolean"}
)


def _delta_files(
    batches, root: str, names: list[str], part_cols: list[str], fname,
    schema, file_stats=None, **kw,
):
    """Worker side of every native Delta data-file write:
    ``arrow_part.write_partitioned`` with the Delta layout (partition
    columns in Hive directories, not in the files) and footer stats.

    ``fname()`` names a file; ``schema=None`` skips stats (CDC files);
    ``file_stats`` replaces ``_file_stats``; ``kw`` (``compression``,
    ``max_open``) go to the kernel.  Yields ``(rel, stats|None, size,
    mtime_ms, rows)`` per file."""
    from pg_analytics_spark.sources.arrow_part import (
        hive_path,
        write_partitioned,
    )

    file_stats = file_stats or _file_stats
    part_idx = [names.index(c) for c in part_cols]
    for f in write_partitioned(
        batches,
        root,
        data_idx=[i for i, c in enumerate(names) if c not in part_cols],
        key_fn=(lambda b: [b.column(i) for i in part_idx]) if part_cols else None,
        name_of=lambda key: hive_path(part_cols, key, fname()),
        **kw,
    ):
        stats = None if schema is None else file_stats(f.dst, schema)
        yield f.rel, stats, f.size, f.mtime, f.rows


def _stage_parquet_direct(
    df: DataFrame,
    dest_root: str,
    part_cols: list[str],
    fname_prefix: str,
    schema_for_stats,
    compression: str,
) -> list[tuple]:
    """DIRECT distributed parquet staging — one Spark job, one pass.

    Each task writes its rows through ``_delta_files`` straight into
    the table tree, one file per partition tuple under a commit-unique
    name, with the Delta footer stats computed in the same task.
    Commit atomicity is unchanged: only the JSON log commit publishes
    files, so a crash leaves unreferenced files (VACUUM's orphan
    class).

    Returns ``[(rel_path, stats_json|None, size, mtime_ms, rows)]``.
    ``schema_for_stats=None`` skips stats (CDC files).
    """
    from pg_analytics_spark.sources.arrow_part import (
        map_files,
        shippable,
        write_empty,
    )

    names = df.columns
    stats_ref = shippable(_file_stats)

    def _write_task(batches):
        from pg_analytics_spark.sources.arrow_part import resolve
        from pg_analytics_spark.sources.delta_write import _delta_files

        return _delta_files(
            batches,
            dest_root,
            names,
            part_cols,
            lambda: f"{fname_prefix}-{uuid.uuid4().hex}.parquet",
            schema_for_stats,
            compression=compression,
            file_stats=resolve(stats_ref),
        )

    os.makedirs(dest_root, exist_ok=True)
    staged = map_files(df, _write_task, dest_root)
    if not staged and not part_cols:
        fname = f"{fname_prefix}-{uuid.uuid4().hex}.parquet"
        dst = os.path.join(dest_root, fname)
        write_empty(df.schema, dst, compression)
        st = os.stat(dst)
        stats = (
            None
            if schema_for_stats is None
            else _file_stats(dst, schema_for_stats)
        )
        staged = [(fname, stats, st.st_size, int(st.st_mtime * 1000), 0)]
    return staged


def _stage_files(
    df: DataFrame,
    path: str,
    version: int,
    part_cols: list[str],
    options: dict | None,
) -> tuple[list[dict], int]:
    """Distributed parquet staging → (add actions, row count).

    r13: common partition types stage DIRECTLY from the write tasks
    (``_stage_parquet_direct`` — pyarrow files + in-task footer stats,
    no staging dir / rename walk / second stats pass); exotic
    partition types (timestamp, decimal, float) keep the Spark staged
    write whose hive value formatting is authoritative for them."""
    direct = all(
        df.schema[c].dataType.typeName() in _DIRECT_PART_TYPES
        for c in part_cols
    )
    if direct:
        compression = str((options or {}).get("compression", "snappy"))
        staged = _stage_parquet_direct(
            df, path, part_cols, f"part-{version:05d}", df.schema,
            compression,
        )
        adds = []
        n_rows = 0
        for rel_path, stats, size, mtime_ms, rows in staged:
            n_rows += rows
            adds.append(
                {
                    "add": {
                        "path": _encode_log_path(rel_path),
                        "partitionValues": _partition_values(rel_path),
                        "size": size,
                        "modificationTime": mtime_ms,
                        "dataChange": True,
                        **({"stats": stats} if stats else {}),
                    }
                }
            )
        return adds, n_rows
    return _stage_files_spark(df, path, version, part_cols, options)


def _stage_files_spark(
    df: DataFrame,
    path: str,
    version: int,
    part_cols: list[str],
    options: dict | None,
) -> tuple[list[dict], int]:
    """Spark staged write fallback (pre-r13 path) for partition types
    the direct kernel does not hive-encode itself.  Returns (add
    actions, row count) — the count observes the SAME execution that
    produced the files; footer stats ride the EXECUTORS for large
    commits (see _stats_for_files)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    staged = df.observe(obs, F.count(F.lit(1)).alias("n"))
    staging = os.path.join(
        os.path.dirname(path.rstrip("/")) or ".",
        f"_delta_stage-{uuid.uuid4().hex}",
    )
    writer = staged.write.mode("overwrite")
    if options:
        fwd = {k: v for k, v in options.items() if k != "mergeSchema"}
        if fwd:
            writer = writer.options(**fwd)
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(staging)
    n_rows = int(obs.get["n"])

    os.makedirs(path, exist_ok=True)
    renamed: list[tuple[str, str]] = []  # (rel_path, dst)
    for root, _dirs, names in os.walk(staging):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(root, name)
            rel_dir = os.path.relpath(root, staging)
            rel_dir = "" if rel_dir == "." else rel_dir
            fname = f"part-{version:05d}-{uuid.uuid4().hex}.parquet"
            rel_path = os.path.join(rel_dir, fname) if rel_dir else fname
            dst = os.path.join(path, rel_path)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
            renamed.append((rel_path, dst))
    per_file = _stats_for_files(
        df.sparkSession, [dst for _, dst in renamed], df.schema
    )
    adds = []
    for rel_path, dst in renamed:
        stats, size, mtime_ms = per_file[dst]
        adds.append(
            {
                "add": {
                    "path": _encode_log_path(
                        rel_path.replace(os.sep, "/")
                    ),
                    "partitionValues": _partition_values(
                        rel_path.replace(os.sep, "/")
                    ),
                    "size": size,
                    "modificationTime": mtime_ms,
                    "dataChange": True,
                    **({"stats": stats} if stats else {}),
                }
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    return adds, n_rows


def _txn_versions(log_dir: str) -> dict[str, tuple[int, int]]:
    """SetTransaction watermarks: appId → (version, lastUpdated_ms),
    replayed from the newest checkpoint's txn rows (when present) plus
    every JSON commit after it — the same replay base rule as the main
    log reader."""
    out: dict[str, tuple[int, int]] = {}
    if not os.path.isdir(log_dir):
        return out
    base = -1
    last_cp = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(last_cp):
        try:
            import pyarrow.parquet as _pq

            with open(last_cp) as fh:
                base = int(json.load(fh)["version"])
            cp = os.path.join(log_dir, f"{base:020d}.checkpoint.parquet")
            t = _pq.read_table(cp)
            if "txn" in t.column_names:
                for row in t.column("txn").to_pylist():
                    if row and row.get("appId"):
                        out[row["appId"]] = (
                            int(row["version"]),
                            int(row.get("lastUpdated") or 0),
                        )
        except Exception:
            base = -1
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
                t = a.get("txn")
                if t and t.get("appId"):
                    out[t["appId"]] = (
                        int(t["version"]),
                        int(t.get("lastUpdated") or 0),
                    )
    return out


def last_txn_version(path: str, app_id: str) -> int | None:
    """The newest committed SetTransaction version for ``app_id``
    (None if the app never wrote) — what an idempotent streaming
    writer consults on restart."""
    got = _txn_versions(os.path.join(path, "_delta_log")).get(app_id)
    return got[0] if got else None


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
    options: dict | None = None,
    configuration: dict | None = None,
    txn: tuple[str, int] | None = None,
    generated: dict[str, str] | None = None,
) -> dict:
    """Write ``df`` as one Delta commit at ``path``.

    ``generated`` declares GENERATED COLUMNS on the creating commit
    (protocol writer feature ``generatedColumns``, minWriterVersion 4;
    the schemaString field metadata key ``delta.generationExpression``):
    ``{"col": "sql expr"}``.  Every later write computes an absent
    generated column and VALIDATES a provided one (mismatch refuses
    the write); DML rewrites recompute.  Declaration is
    creation-only, like delta-spark's.

    ``configuration`` sets table properties on the CREATING commit's
    metaData (TBLPROPERTIES analog) — e.g.
    ``{"delta.enableDeletionVectors": "true"}`` makes every later
    UPDATE/DELETE statement route through the deletion-vector
    merge-on-read path, exactly delta-spark's property contract.

    * append: the EXISTING partition spec and schema are authoritative
      — a partition_by or schema that disagrees is rejected loudly
      (silently accepting either would null partition columns or drop
      fields on read).
    * overwrite on an existing table: a logical replace — when the
      schema or partition columns change, an updated metaData action
      rides the same commit, so the table reads with the NEW shape
      while prior versions stay time-travelable.

    ``options`` forwards to the staged parquet write (compression, …).
    Row count comes from an ``Observation`` on the write job — exact
    even when footer stats are unavailable.
    Returns {"version": n, "files": n_files, "rows": n_rows}.
    """
    from pg_analytics_spark.sources import delta_rowtracking as _rt

    if mode not in ("overwrite", "append"):
        raise UnsupportedFormat(f"delta write mode {mode!r}")
    part_cols = (
        [partition_by] if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    log_dir = os.path.join(path, "_delta_log")
    version = _next_version(log_dir)
    if version == 0 and mode == "append":
        mode = "overwrite"  # first commit of a fresh table

    rt_requested = (
        str((configuration or {}).get(_rt.PROP_ENABLE, "")).lower()
        == "true"
    )
    if rt_requested and version > 0:
        raise UnsupportedFormat(
            "row tracking is enabled when the table is CREATED — this "
            "table already exists (backfill is not supported by this "
            "writer)"
        )
    if rt_requested:
        if generated:
            raise UnsupportedFormat(
                "row tracking + generated columns on one table is not "
                "supported by this writer"
            )
        if (configuration or {}).get(
            "delta.columnMapping.mode", "none"
        ) != "none":
            raise UnsupportedFormat(
                "row tracking + column mapping on one table is not "
                "supported by this writer"
            )
        # mint the hidden materialized identity column names into the
        # creating configuration (the spec's preservation channel)
        configuration = dict(configuration or {})
        configuration.setdefault(
            _rt.PROP_MAT_ID, f"_row-id-col-{uuid.uuid4().hex[:12]}"
        )
        configuration.setdefault(
            _rt.PROP_MAT_VER, f"_row-ver-col-{uuid.uuid4().hex[:12]}"
        )

    prev_meta = None
    append_evolved_schema = None
    if version > 0:
        from pg_analytics_spark.sources.delta import _replay_log

        prev_active, prev_meta = _replay_log(log_dir)
    if generated and version > 0:
        raise UnsupportedFormat(
            "generated columns are declared when the table is CREATED "
            "(delta-spark's contract) — this table already exists"
        )
    if generated and (configuration or {}).get(
        "delta.columnMapping.mode", "none"
    ) not in ("none",):
        raise UnsupportedFormat(
            "generated columns + column mapping on one table is not "
            "supported by this writer"
        )
    gen_map = (
        dict(generated or {})
        if version == 0
        else _generated_expressions(prev_meta)
    )
    if gen_map and version > 0 and mode == "overwrite" and prev_meta:
        # a shape-changing overwrite of a GENERATED-COLUMNS table would
        # either die resolving the generation inputs against the new
        # frame or (worse) mint a metaData without the generation
        # expressions, silently ending enforcement — refuse it up
        # front.  Allowed: the table's own shape, with generated
        # columns optionally omitted (they are recomputed).
        prev_fields = {
            f["name"]: json.dumps(f["type"])
            for f in json.loads(prev_meta["schemaString"])["fields"]
        }
        new_fields = {
            f.name: json.dumps(f.jsonValue()["type"])
            for f in df.schema.fields
        }
        if not (
            all(prev_fields.get(n) == t for n, t in new_fields.items())
            and all(n in new_fields or n in gen_map for n in prev_fields)
        ):
            raise UnsupportedFormat(
                "overwriting a GENERATED-COLUMNS table with a "
                "different schema would drop its generation "
                "expressions — overwrite with the table's own schema "
                "(generated columns may be omitted; they are "
                "recomputed), or recreate the table at a new path to "
                "change its shape"
            )
    if gen_map:
        # compute absent generated columns / validate provided ones
        # BEFORE the schema is read off the dataframe
        df = _apply_generated_columns(df, gen_map)
    schema_string = df.schema.json()
    if generated:
        ss = json.loads(schema_string)
        names = {f["name"] for f in ss.get("fields", [])}
        missing = sorted(set(generated) - names)
        if missing:
            raise UnsupportedFormat(
                f"generated column(s) {missing} not in the written "
                "schema"
            )
        for f in ss["fields"]:
            if f["name"] in generated:
                md = dict(f.get("metadata") or {})
                md["delta.generationExpression"] = generated[f["name"]]
                f["metadata"] = md
        schema_string = json.dumps(ss)
    if prev_meta is not None:
        prev_parts = prev_meta.get("partitionColumns") or []
        prev_schema = prev_meta.get("schemaString")
        if mode == "append":
            if part_cols and part_cols != prev_parts:
                raise UnsupportedFormat(
                    f"delta append partition mismatch: table is "
                    f"partitioned by {prev_parts}, requested {part_cols}"
                )
            part_cols = prev_parts
            # names+types only — a nullability flip (e.g. data read back
            # from the table itself) is not a shape change
            if prev_schema is not None and _schema_shape(
                prev_schema
            ) != _schema_shape(schema_string):
                df, append_evolved_schema = _conform_append_schema(
                    df,
                    prev_schema,
                    merge_schema=_truthy_opt(
                        (options or {}).get("mergeSchema")
                    ),
                )
                schema_string = df.schema.json()

    # column mapping (mode name|id, from the table or the creating
    # configuration): annotate the schemaString that will RIDE THE
    # METADATA — for mergeSchema appends that is the evolved string
    # with its FORCED nullability, not df.schema (whose literal-valued
    # new columns read non-nullable and would poison later appends) —
    # stage parquet under PHYSICAL names, and keep LOGICAL names in
    # partitionColumns: exactly the split the reader resolves
    # (_phys_renames)
    annotated, eff_cfg, renames, map_proto = _apply_column_mapping(
        prev_meta,
        append_evolved_schema
        if append_evolved_schema is not None
        else schema_string,
        configuration if version == 0 else None,
    )
    if append_evolved_schema is not None:
        append_evolved_schema = annotated
    else:
        schema_string = annotated
    if gen_map and version > 0:
        # any schemaString minted on a non-creating commit (partition
        # respec overwrite, mergeSchema append) must CARRY the
        # generation expressions, or enforcement silently ends for all
        # later writers
        def _annotate_gen(ss_json: str) -> str:
            ss = json.loads(ss_json)
            for f in ss.get("fields", []):
                if f["name"] in gen_map:
                    md = dict(f.get("metadata") or {})
                    md["delta.generationExpression"] = gen_map[f["name"]]
                    f["metadata"] = md
            return json.dumps(ss)

        schema_string = _annotate_gen(schema_string)
        if append_evolved_schema is not None:
            append_evolved_schema = _annotate_gen(append_evolved_schema)
    stage_part_cols = (
        [renames.get(c, c) for c in part_cols] if renames else part_cols
    )
    if txn is not None:
        # SetTransaction idempotence (protocol `txn` action): a batch
        # whose (appId, version) is at-or-below the table's recorded
        # watermark was already applied — skip BEFORE staging, so a
        # foreachBatch replay after a crash commits nothing twice
        app_id, txn_version = str(txn[0]), int(txn[1])
        seen = _txn_versions(log_dir).get(app_id)
        if seen is not None and txn_version <= seen[0]:
            return {
                "version": version - 1,
                "files": 0,
                "rows": 0,
                "skipped_txn": True,
            }
    rt_enabled = rt_requested or (
        version > 0 and _rt.row_tracking_enabled(prev_meta)
    )
    if rt_enabled and version > 0:
        hidden = _rt.materialized_cols(prev_meta)
        clash = [c for c in df.columns if c in hidden]
        if clash:
            raise UnsupportedFormat(
                f"column(s) {clash} collide with this table's hidden "
                "row-tracking identity columns — rename them "
                "(write_delta assigns fresh row ids itself; DML "
                "preserves them)"
            )
    _check_constraints(df, {"configuration": eff_cfg})
    adds, n_rows = _stage_files(
        _stage_as_physical(df, renames), path, version,
        stage_part_cols, options,
    )

    import time as _time

    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
                "engineInfo": "pg_analytics_spark-native-writer",
            }
        }
    ]
    if txn is not None:
        actions.append(
            {
                "txn": {
                    "appId": str(txn[0]),
                    "version": int(txn[1]),
                    "lastUpdated": now_ms,
                }
            }
        )
    if version == 0:
        proto0 = map_proto or {"minReaderVersion": 1, "minWriterVersion": 2}
        if generated:
            # generatedColumns is a legacy writer feature: floor 4
            proto0 = {
                **proto0,
                "minWriterVersion": max(
                    4, int(proto0.get("minWriterVersion", 2))
                ),
            }
        if rt_requested:
            # rowTracking is a table feature: protocol 7 with an
            # explicit writerFeatures list (+ its domainMetadata
            # dependency); readers stay v1 — row ids are writer-side
            proto0 = {
                "minReaderVersion": int(proto0.get("minReaderVersion", 1)),
                "minWriterVersion": 7,
                "writerFeatures": ["domainMetadata", "rowTracking"],
            }
        actions.append({"protocol": proto0})
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": part_cols,
                    "configuration": eff_cfg,
                    "createdTime": now_ms,
                }
            }
        )
    elif mode == "overwrite":
        # logical replace: remove every previously-active file; when the
        # shape changed, the updated metaData rides the same commit so
        # the reader conforms to the NEW schema/spec
        if (
            prev_meta is not None
            and (
                _schema_shape(prev_meta.get("schemaString") or schema_string)
                != _schema_shape(schema_string)
                or (prev_meta.get("partitionColumns") or []) != part_cols
            )
        ):
            actions.append(
                {
                    "metaData": {
                        "id": prev_meta.get("id") or str(uuid.uuid4()),
                        "format": prev_meta.get("format")
                        or {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": part_cols,
                        "configuration": eff_cfg,
                        "createdTime": prev_meta.get("createdTime") or now_ms,
                    }
                }
            )
        for p in sorted(prev_active):
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
    elif mode == "append" and append_evolved_schema is not None:
        # mergeSchema append: the widened schema rides the commit; old
        # files read back with nulls for the new columns (the reader's
        # NAME-based evolution)
        actions.append(
            {
                "metaData": {
                    "id": (prev_meta or {}).get("id") or str(uuid.uuid4()),
                    "format": (prev_meta or {}).get("format")
                    or {"provider": "parquet", "options": {}},
                    "schemaString": append_evolved_schema,
                    "partitionColumns": part_cols,
                    "configuration": eff_cfg,
                    "createdTime": (prev_meta or {}).get("createdTime")
                    or now_ms,
                }
            }
        )
    if rt_enabled:
        # every add carries baseRowId + defaultRowCommitVersion; the
        # advanced high-water mark rides a domainMetadata action
        actions.append(_rt.assign_fresh_row_ids(log_dir, adds, version))
    actions.extend(adds)

    _write_commit(path, log_dir, version, actions)
    return {"version": version, "files": len(adds), "rows": n_rows}


def _write_commit(
    path: str, log_dir: str, version: int, actions: list[dict]
) -> None:
    """Atomically publish one commit JSON, then auto-checkpoint on the
    standard 10-commit cadence (what real Delta writers do via
    checkpointInterval): readers then replay from one parquet file
    instead of every JSON commit, and commits <= the checkpointed
    version become eligible for log cleanup.  Checkpoint failure is
    non-fatal — the commit already succeeded and a later write (or an
    explicit checkpoint_delta) retries."""
    from pg_analytics_spark.errors import ConcurrentWriteError

    os.makedirs(log_dir, exist_ok=True)
    commit = os.path.join(log_dir, f"{version:020d}.json")
    tmp = commit + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    try:
        # put-if-absent: link fails with EEXIST if another writer
        # already published this version — never clobber their commit
        os.link(tmp, commit)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"delta commit version {version} already exists at {commit} — "
            "another writer won the race; re-read the log and retry"
        ) from None
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    if version > 0 and version % 10 == 0:
        try:
            checkpoint_delta(path)
        except Exception:
            pass


def _encode_log_path(rel: str) -> str:
    """Delta protocol: an action's ``path`` is a RELATIVE path
    percent-encoded per RFC 2396 (delta-io PROTOCOL.md, Add File and
    Remove File).  Encode the literal on-disk bytes — a hive segment
    Spark already staged as ``p=a%20b`` round-trips as ``p=a%2520b``
    in the log, and an external Delta reader decoding once lands back
    on the real file.  The safe set is RFC 2396's path characters —
    ``/`` separates segments and ``:@&=+$,;`` are legal IN a segment
    (hive's ``p=0/`` stays readable, matching delta-spark's output);
    space, ``%``, ``#``, ``?`` and friends get escaped."""
    from urllib.parse import quote

    return quote(rel, safe="/:@&=+$,;")


def _decode_log_path(p: str) -> str:
    """Inverse of :func:`_encode_log_path` — a log entry's ``path``
    field → literal filesystem path (relative or absolute)."""
    from urllib.parse import unquote

    return unquote(p)


def _active_by_abs(path: str, prev_active: dict) -> dict[str, str]:
    """Map each active file's key — the decoded absolute path
    (delta._abs_file) a DML scan's ``_tfile`` carries — to its log
    path.  Keying on the full path (not the basename) matters: CONVERT
    TO DELTA adopts hive layouts whose basenames REPEAT across
    partition directories (basename keying silently collapsed them —
    duplicate rows after DML, caught by the convert gate row), and
    shallow clones store absolute paths outright."""
    from pg_analytics_spark.sources.delta import _abs_file

    return {_abs_file(path, p): p for p in prev_active}


def merge_delta(
    source: DataFrame,
    path: str,
    on: str,
    clauses: list[dict],
    *,
    target_alias: str = "t",
    source_alias: str = "s",
    options: dict | None = None,
) -> dict:
    """Copy-on-write ``MERGE INTO`` for the native Delta writer —
    the upsert a continuously-curated corpus needs (matched rows
    updated/deleted, new rows inserted) as ONE commit.

    ``on`` is a SQL join condition over ``target_alias``/
    ``source_alias`` namespaces (e.g. ``t.doc_id = s.doc_id``).
    ``clauses`` is the ordered MERGE clause list; for each
    matched/not-matched row the FIRST clause whose condition holds
    applies (Delta's semantics):

    * ``{"when": "matched", "action": "update",
       "set": {col: sql_expr} | "all", "condition": sql | None}``
    * ``{"when": "matched", "action": "delete", "condition": …}``
    * ``{"when": "not_matched", "action": "insert",
       "values": {col: sql_expr} | "all", "condition": …}``

    Dataflow (scales like the join it contains — no driver data):
    the target scan carries its file key (``_tfile``); ONE inner join
    finds the TOUCHED files (collect is file-list-sized) and errors
    if any target row matches more than one source row (the ambiguity
    Delta rejects); only touched files are rewritten — their rows
    left-join the source and apply the first-matching clause — while
    untouched files stay referenced by the log verbatim; inserts are
    the source anti-join.  Rewrites + inserts stage through the same
    executor-stats path as every write, and the commit removes exactly
    the touched files.  Reference analog: the reference delegates
    writes entirely (read-only FDW, reference README 'roadmap: INSERT/
    UPDATE'), so MERGE is additive scope beyond it.
    """
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.delta import _replay_log

    spark = source.sparkSession
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise UnsupportedFormat(f"MERGE target is not a delta table: {path}")
    prev_active, prev_meta = _replay_log(log_dir)
    from pg_analytics_spark.sources import delta_rowtracking as _rtm

    rt = _rtm.row_tracking_enabled(prev_meta)
    part_cols = prev_meta.get("partitionColumns") or []
    tbl_fields = json.loads(prev_meta["schemaString"])["fields"]
    tbl_cols = [f["name"] for f in tbl_fields]

    from pg_analytics_spark.sources.merge_clauses import (
        MergeClauses,
        refuse_duplicate_matches,
    )

    mc = MergeClauses(clauses, tbl_cols, source.columns, source_alias)
    matched_clauses, insert_clauses = mc.matched, mc.not_matched

    from pg_analytics_spark.sources import load_source

    version = _next_version(log_dir)
    if rt:
        # rewrites must PRESERVE identities: the target scan carries
        # each row's current (_rt_id, _rt_ver) via the shared
        # attachment helper; inserted rows get NULL materialized
        # values and take the new file's fresh defaults
        from pg_analytics_spark.sources.delta import _load_via_log

        tgt = (
            _load_via_log(
                spark, path, keep_meta=True,
                keep_phys=list(_rtm.materialized_cols(prev_meta)),
            )
            .withColumnRenamed("_dv_file", "_tfile")
            .withColumnRenamed("_dv_pos", "_tpos")
        )
        if "_tfile" in tgt.columns:
            tgt = _rtm.attach_current_ids(
                spark, path, tgt, prev_active, prev_meta
            ).drop("_tpos")
        else:  # empty table
            tgt = (
                tgt.withColumn("_tfile", F.lit(None).cast("string"))
                .withColumn("_rt_id", F.lit(None).cast("long"))
                .withColumn("_rt_ver", F.lit(None).cast("long"))
            )
        tgt = tgt.withColumn("_tid", F.monotonically_increasing_id())
    else:
        from pg_analytics_spark.sources.delta import _file_key

        tgt = (
            load_source(spark, path, "delta")
            .withColumn("_tfile", _file_key(F.input_file_name()))
            .withColumn("_tid", F.monotonically_increasing_id())
        )
    src = source.withColumn("_smark", F.lit(1))
    cond = F.expr(on)

    touched_abs: list[str] = []
    if matched_clauses:
        joined = tgt.alias(target_alias).join(
            src.alias(source_alias), cond, "inner"
        )
        refuse_duplicate_matches(joined, ["_tid"])
        touched_abs = [
            r["_tfile"] for r in joined.select("_tfile").distinct().collect()
        ]
    # map the scan's file keys back to the log's path keys by FULL
    # path (basenames repeat on converted layouts)
    abs_of = _active_by_abs(path, prev_active)
    removes: list[str] = []
    for f in touched_abs:
        key = os.path.normpath(f)
        if key not in abs_of:
            raise UnsupportedFormat(
                f"MERGE: scanned file {key} not in the active set "
                "(concurrent writer?)"
            )
        removes.append(abs_of[key])

    cdf_on = (
        str(
            (prev_meta.get("configuration") or {}).get(
                "delta.enableChangeDataFeed", ""
            )
        ).lower()
        == "true"
    )
    cdf_pieces: list = []  # row-level change images when CDF is on
    pieces = []
    if removes:
        base = tgt.filter(F.col("_tfile").isin(touched_abs))
        rew = base.alias(target_alias).join(
            src.alias(source_alias), cond, "left"
        )
        matched = F.col(f"{source_alias}._smark").isNotNull()
        rew = rew.withColumn("_cidx", mc.index(matched_clauses, matched))
        del_idx = [
            i for i, c in enumerate(matched_clauses)
            if c["action"] == "delete"
        ]
        upd_idx = [
            i for i, c in enumerate(matched_clauses)
            if c["action"] == "update"
        ]
        out_cols = mc.images(
            matched_clauses, lambda col: F.col(f"{target_alias}.{col}")
        )
        if cdf_on:
            tgt_cols = [
                F.col(f"{target_alias}.{c}").alias(c) for c in tbl_cols
            ]
            if upd_idx:
                claimed = rew.filter(F.col("_cidx").isin(upd_idx))
                cdf_pieces.append(
                    claimed.select(
                        *tgt_cols,
                        F.lit("update_preimage").alias("_change_type"),
                    )
                )
                cdf_pieces.append(
                    claimed.select(
                        *out_cols,
                        F.lit("update_postimage").alias("_change_type"),
                    )
                )
            if del_idx:
                cdf_pieces.append(
                    rew.filter(F.col("_cidx").isin(del_idx)).select(
                        *tgt_cols, F.lit("delete").alias("_change_type")
                    )
                )
        # drop rows claimed by a DELETE clause
        if del_idx:
            rew = rew.filter(~F.col("_cidx").isin(del_idx))
        if rt:
            out_cols = out_cols + [
                F.col(f"{target_alias}._rt_id").alias("_rt_keep_id"),
                F.when(F.col("_cidx").isin(upd_idx or [-2]), F.lit(version))
                .otherwise(F.col(f"{target_alias}._rt_ver"))
                .alias("_rt_keep_ver"),
            ]
        pieces.append(rew.select(*out_cols))
    if insert_clauses:
        anti = src.alias(source_alias).join(
            tgt.alias(target_alias), cond, "left_anti"
        )
        anti = anti.withColumn("_cidx", mc.index(insert_clauses)).filter(
            F.col("_cidx") >= 0
        )
        out_cols = mc.images(insert_clauses, lambda col: F.lit(None))
        if cdf_on:
            cdf_pieces.append(
                anti.select(
                    *out_cols, F.lit("insert").alias("_change_type")
                )
            )
        if rt:
            # inserted rows: NULL materialized values → fresh defaults
            out_cols = out_cols + [
                F.lit(None).cast("long").alias("_rt_keep_id"),
                F.lit(None).cast("long").alias("_rt_keep_ver"),
            ]
        pieces.append(anti.select(*out_cols))

    new_df = pieces[0]
    for p in pieces[1:]:
        new_df = new_df.unionByName(p)
    # conform to the table's declared types (same contract as INSERT)
    from pg_analytics_spark.sources.delta import _delta_type_to_spark

    mat_cols = list(_rtm.materialized_cols(prev_meta)) if rt else []
    new_df = new_df.select(
        *[
            F.col(f["name"]).cast(_delta_type_to_spark(f["type"])).alias(
                f["name"]
            )
            for f in tbl_fields
        ],
        *(
            [
                F.col("_rt_keep_id").alias(mat_cols[0]),
                F.col("_rt_keep_ver").alias(mat_cols[1]),
            ]
            if rt
            else []
        ),
    )

    renames = _phys_renames(prev_meta)
    cdc_actions: list[dict] = []
    if cdf_on and cdf_pieces:
        change = cdf_pieces[0]
        for p in cdf_pieces[1:]:
            change = change.unionByName(p)
        change = change.select(
            *[
                F.col(f["name"])
                .cast(_delta_type_to_spark(f["type"]))
                .alias(f["name"])
                for f in tbl_fields
            ],
            "_change_type",
        ).coalesce(max(1, len(removes) or 1))
        cdc_actions = _stage_cdc_files(
            change, path, version, part_cols, renames
        )
    new_df = _apply_generated_columns(
        new_df, _generated_expressions(prev_meta), recompute=True
    )
    _check_constraints(new_df, prev_meta)
    adds, n_rows = _stage_files(
        _stage_as_physical(new_df, renames), path, version,
        [renames.get(c, c) for c in part_cols] if renames else part_cols,
        options,
    )
    if rt:
        _rtm.strip_hidden_stats(adds, (mat_cols[0], mat_cols[1]))
    import time as _time

    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "MERGE",
                "operationParameters": {"predicate": on},
                "engineInfo": "pg_analytics_spark-native-writer",
            }
        }
    ]
    for p in sorted(removes):
        actions.append(
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    if rt and adds:
        actions.append(_rtm.assign_fresh_row_ids(log_dir, adds, version))
    actions.extend(adds)
    actions.extend(cdc_actions)
    # commitInfo.timestamp = PUBLICATION time, not operation entry:
    # the rewrite jobs above take seconds, and a timestamp-as-of taken
    # just before the statement must NOT resolve to this version
    # (protocol: timestamps order the commits as they became visible)
    actions[0]["commitInfo"]["timestamp"] = int(_time.time() * 1000)
    _write_commit(path, log_dir, version, actions)
    return {
        "version": version,
        "files_added": len(adds),
        "files_removed": len(removes),
        "rows_written": n_rows,
    }


def update_delta(
    spark,
    path: str,
    set_map: dict[str, str],
    where: str | None = None,
    options: dict | None = None,
    dv: bool = False,
) -> dict:
    """``UPDATE <delta table> SET col = expr[, …] [WHERE cond]`` as a
    copy-on-write commit — the single-table special case of
    :func:`merge_delta`'s dataflow: one filter scan finds the TOUCHED
    files, only those rewrite (non-matching rows in them carry
    through), untouched files stay referenced verbatim.  ``set_map``
    values and ``where`` are SQL over the table's bare column names.
    Reference scope: the reference README's roadmap lists UPDATE as
    unimplemented (read-only FDW) — additive parity-plus."""
    return _rewrite_where(
        spark, path, where, set_map=set_map, options=options, op="UPDATE",
        dv=dv,
    )


def delete_delta(
    spark,
    path: str,
    where: str | None = None,
    options: dict | None = None,
    dv: bool = False,
) -> dict:
    """``DELETE FROM <delta table> [WHERE cond]`` as a copy-on-write
    commit: files whose rows ALL match are dropped with a remove
    action and never rewritten; files partially matching rewrite
    their surviving rows; a missing WHERE truncates the table (SQL
    semantics) — pure removes, no data job at all.

    ``dv=True`` switches partially-matched files from copy-on-write to
    a DELETION-VECTOR commit (Delta protocol "Deletion Vectors"): the
    matched rows' physical positions are serialized as a
    RoaringBitmapArray blob and the file is re-added with a DV
    descriptor — write cost O(deleted rows), not O(touched-file
    bytes).  Fully-matched files still drop with a pure remove, and a
    missing WHERE still truncates."""
    return _rewrite_where(
        spark, path, where, set_map=None, options=options, op="DELETE",
        dv=dv,
    )


def _rewrite_where(
    spark,
    path: str,
    where: str | None,
    *,
    set_map: dict[str, str] | None,
    options: dict | None,
    op: str,
    dv: bool = False,
) -> dict:
    """Shared UPDATE/DELETE dataflow.  ``dv=True`` = merge-on-read:
    instead of rewriting partially-matched files, serialize the
    matched rows' physical positions as a deletion vector (Delta
    protocol "Deletion Vectors": RoaringBitmapArray blob in a
    ``deletion_vector_<uuid>.bin``, ``u``-storage descriptor on a
    re-``add`` of the SAME data file) — O(matched rows) write
    amplification instead of O(touched-file bytes), the Delta-side
    mirror of the Iceberg MoR path (iceberg_write.delete_iceberg).
    UPDATE under ``dv`` additionally stages ONLY the updated row
    images as new files.  Fully-matched files keep the pure-remove
    fast path (a DV covering a whole file is legal but pointless).
    Driver-side bound: the collected positions are O(newly matched
    rows) — the same order as the DV blob itself; a corpus-scale
    deployment would move the roaring encode into applyInPandas per
    file and ship only descriptors (same algorithm, executor
    placement), per sources/delta_dv.py's module note."""
    import struct
    import time as _time
    import zlib

    from pyspark.sql import functions as F

    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.delta import (
        _delta_type_to_spark,
        _load_via_log,
        _replay_log,
    )

    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise UnsupportedFormat(f"{op} target is not a delta table: {path}")
    prev_active, prev_meta = _replay_log(log_dir)
    if not dv:
        # delta-spark's property contract: a table opts its DML into
        # merge-on-read via TBLPROPERTIES, no per-statement flag
        cfg = prev_meta.get("configuration") or {}
        dv = str(
            cfg.get("delta.enableDeletionVectors", "")
        ).lower() == "true"
    part_cols = prev_meta.get("partitionColumns") or []
    tbl_fields = json.loads(prev_meta["schemaString"])["fields"]
    tbl_cols = [f["name"] for f in tbl_fields]
    if set_map:
        bad = [c for c in set_map if c not in tbl_cols]
        if bad:
            raise UnsupportedFormat(f"{op}: unknown column(s) {bad}")

    version = _next_version(log_dir)
    import time as _time

    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": op,
                "operationParameters": {"predicate": where or "true"},
                "engineInfo": "pg_analytics_spark-native-writer",
            }
        }
    ]

    if where is None and set_map is None:
        # DELETE without WHERE: truncate — pure remove actions
        for p in sorted(prev_active):
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        actions[0]["commitInfo"]["timestamp"] = int(_time.time() * 1000)
        _write_commit(path, log_dir, version, actions)
        return {
            "version": version,
            "files_added": 0,
            "files_removed": len(prev_active),
            "rows_written": 0,
        }

    from pg_analytics_spark.sources import delta_rowtracking as _rtm

    rt = _rtm.row_tracking_enabled(prev_meta)
    rt_cols: list[str] = []
    if rt or dv:
        # keep_meta exposes the DV coordinate system: absolute file
        # path + PHYSICAL parquet row index (already-deleted rows are
        # gone, so every visible row's _tpos is a position a new DV
        # may mark).  Row tracking rides the same coordinates: the
        # CURRENT identity of a row is its materialized value when a
        # prior rewrite preserved one, else baseRowId + _tpos.
        tgt = (
            _load_via_log(
                spark, path, keep_meta=True,
                keep_phys=list(_rtm.materialized_cols(prev_meta))
                if rt
                else None,
            )
            .withColumnRenamed("_dv_file", "_tfile")
            .withColumnRenamed("_dv_pos", "_tpos")
        )
    else:
        from pg_analytics_spark.sources.delta import _file_key

        tgt = load_source(spark, path, "delta").withColumn(
            "_tfile", _file_key(F.input_file_name())
        )
    if "_tfile" not in tgt.columns:  # empty table: no files to touch
        tgt = tgt.withColumn("_tfile", F.lit(None).cast("string"))
        if dv:
            tgt = tgt.withColumn("_tpos", F.lit(None).cast("long"))
    if rt and "_tpos" in tgt.columns:
        tgt = _rtm.attach_current_ids(
            spark, path, tgt, prev_active, prev_meta
        )
        rt_cols = list(_rtm.materialized_cols(prev_meta))
    match = F.expr(where) if where is not None else F.lit(True)
    # SQL three-valued logic: a NULL predicate is NOT a match — the row
    # is neither deleted nor updated.  coalesce here (not raw ~match,
    # where ~NULL stays NULL and filter() would drop the row).
    match_safe = F.coalesce(match, F.lit(False))
    # ONE per-file aggregate finds touched files AND full-match files:
    # full-match files take the pure-remove fast path on DELETE (no
    # rewrite job reads them).  file-list-sized collect.
    per_file = (
        tgt.groupBy("_tfile")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(match_safe.cast("int")).alias("_m"),
        )
        .filter(F.col("_m") > 0)
        .collect()
    )
    touched_abs = [r["_tfile"] for r in per_file]
    full_abs = {r["_tfile"] for r in per_file if r["_m"] == r["_n"]}
    abs_of = _active_by_abs(path, prev_active)
    removes = []
    for f in touched_abs:
        key = os.path.normpath(f)
        if key not in abs_of:
            raise UnsupportedFormat(
                f"{op}: scanned file {key} not in the active set "
                "(concurrent writer?)"
            )
        removes.append(abs_of[key])

    partial_abs = [f for f in touched_abs if f not in full_abs]
    adds: list[dict] = []
    n_rows = 0
    dv_readds: list[dict] = []
    rows_deleted = 0
    if dv and partial_abs:
        from pg_analytics_spark.sources.delta_dv import (
            dv_deleted_rows,
            encode_roaring_array,
            z85_encode,
        )

        # O(newly matched rows) collect — the DV coordinate list itself
        pos_rows = (
            tgt.filter(F.col("_tfile").isin(partial_abs))
            .filter(match_safe)
            .select("_tfile", "_tpos")
            .collect()
        )
        new_pos: dict[str, list[int]] = {}
        for r in pos_rows:
            new_pos.setdefault(r["_tfile"], []).append(int(r["_tpos"]))
        rows_deleted = len(pos_rows)
        # one multi-DV .bin per commit: version byte, then per file
        # [size BE][roaring blob][crc BE] at the descriptor's offset
        dv_uuid = uuid.uuid4()
        blob = bytearray(b"\x01")
        for f in sorted(new_pos):
            rel = abs_of[os.path.normpath(f)]
            old_desc = prev_active[rel].get("deletionVector")
            positions = set(new_pos[f])
            if old_desc:  # successive deletes accumulate: union old DV
                positions.update(dv_deleted_rows(path, old_desc))
            data = encode_roaring_array(sorted(positions))
            offset = len(blob)
            blob += struct.pack(">i", len(data))
            blob += data
            blob += struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
            new_add = dict(prev_active[rel])
            new_add["deletionVector"] = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(dv_uuid.bytes),
                "offset": offset,
                "sizeInBytes": len(data),
                "cardinality": len(positions),
            }
            new_add["dataChange"] = True
            dv_readds.append({"add": new_add})
        dv_name = f"deletion_vector_{dv_uuid}.bin"
        tmp = os.path.join(path, f".{dv_name}.tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as fh:
            fh.write(bytes(blob))
        os.replace(tmp, os.path.join(path, dv_name))
        # protocol upgrade per the spec: DV tables need reader v3 /
        # writer v7 with the deletionVectors table feature (this
        # repo's replay ignores protocol actions; standard clients
        # honor it).  MERGE with the table's current feature lists —
        # a row-tracking table must not lose rowTracking/domainMetadata
        cur = _latest_protocol(os.path.join(path, "_delta_log"))
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(
                        set(cur.get("readerFeatures") or [])
                        | {"deletionVectors"}
                    ),
                    "writerFeatures": sorted(
                        set(cur.get("writerFeatures") or [])
                        | {"deletionVectors"}
                    ),
                }
            }
        )

    # Change Data Feed (delta.enableChangeDataFeed): the commit also
    # records the ROW-LEVEL change — DELETE: the matched images as
    # 'delete'; UPDATE: matched pre- AND post-images.  Written before
    # staging so the cdc read never depends on the rewrite's outcome.
    cdc_actions: list[dict] = []
    if (
        str(
            (prev_meta.get("configuration") or {}).get(
                "delta.enableChangeDataFeed", ""
            )
        ).lower()
        == "true"
        and touched_abs
    ):
        matched_rows = tgt.filter(
            F.col("_tfile").isin(touched_abs)
        ).filter(match_safe)
        if set_map is None:
            change = matched_rows.select(
                *tbl_cols, F.lit("delete").alias("_change_type")
            )
        else:
            pre = matched_rows.select(
                *tbl_cols, F.lit("update_preimage").alias("_change_type")
            )
            post = matched_rows.select(
                *[
                    (
                        F.expr(set_map[c]) if c in set_map else F.col(c)
                    ).alias(c)
                    for c in tbl_cols
                ],
                F.lit("update_postimage").alias("_change_type"),
            )
            change = pre.unionByName(post)
        change = change.select(
            *[
                F.col(f["name"])
                .cast(_delta_type_to_spark(f["type"]))
                .alias(f["name"])
                for f in tbl_fields
            ],
            "_change_type",
        ).coalesce(max(1, len(touched_abs)))
        cdc_actions = _stage_cdc_files(
            change, path, version, part_cols, _phys_renames(prev_meta)
        )

    # Files whose rows must land in NEW files: copy-on-write rewrites
    # whole touched files (DELETE: partial only; UPDATE: all touched);
    # DV mode stages only UPDATE's matched-row images (DELETE: none).
    if dv:
        rewrite_abs = [] if set_map is None else touched_abs
    else:
        rewrite_abs = partial_abs if set_map is None else touched_abs
    if rewrite_abs:
        base = tgt.filter(F.col("_tfile").isin(rewrite_abs))
        # row tracking: rewritten files MATERIALIZE each surviving
        # row's identity — the row id always survives; the commit
        # version becomes THIS version for modified rows and stays
        # the original for rows merely copied along
        rt_keep: list = []
        if rt_cols:
            rt_keep = [
                F.col("_rt_id").alias("_rt_keep_id"),
                (
                    F.when(match_safe, F.lit(version)).otherwise(
                        F.col("_rt_ver")
                    )
                    if set_map is not None
                    else F.col("_rt_ver")
                ).alias("_rt_keep_ver"),
            ]
        if dv:
            # MoR UPDATE: ONLY the matched rows, post-SET images
            new_df = base.filter(match_safe).select(
                *[
                    (
                        F.expr(set_map[c]) if c in set_map else F.col(c)
                    ).alias(c)
                    for c in tbl_cols
                ],
                *rt_keep,
            )
        elif set_map is None:
            # DELETE survivors: rows NOT matching, incl. NULL-predicate
            new_df = base.filter(~match_safe)
            if rt_cols:
                new_df = new_df.select(*tbl_cols, *rt_keep)
        else:
            new_df = base.select(
                *[
                    (
                        F.when(match_safe, F.expr(set_map[c]))
                        .otherwise(F.col(c))
                        if c in set_map
                        else F.col(c)
                    ).alias(c)
                    for c in tbl_cols
                ],
                *rt_keep,
            )
        new_df = new_df.select(
            *[
                F.col(f["name"])
                .cast(_delta_type_to_spark(f["type"]))
                .alias(f["name"])
                for f in tbl_fields
            ],
            *(
                [
                    F.col("_rt_keep_id").alias(rt_cols[0]),
                    F.col("_rt_keep_ver").alias(rt_cols[1]),
                ]
                if rt_cols
                else []
            ),
        )
        # k touched files in → ~k files out (never the shuffle-partition
        # count): rewrite cost and file granularity track touched data
        new_df = new_df.coalesce(max(1, len(rewrite_abs)))
        new_df = _apply_generated_columns(
            new_df, _generated_expressions(prev_meta), recompute=True
        )
        _check_constraints(new_df, prev_meta)
        renames = _phys_renames(prev_meta)
        adds, n_rows = _stage_files(
            _stage_as_physical(new_df, renames), path, version,
            [renames.get(c, c) for c in part_cols] if renames else part_cols,
            options,
        )
        if rt_cols:
            # hidden identity columns: out of the stats maps, and every
            # new file still gets FRESH defaults (shadowed row-by-row
            # by the materialized values, per the spec)
            _rtm.strip_hidden_stats(adds, (rt_cols[0], rt_cols[1]))
    if dv:
        # DV mode removes: fully-matched files (DELETE/UPDATE) plus a
        # remove+re-add pair for every file gaining a DV (the
        # protocol's DV-rewrite shape; the remove carries the OLD
        # descriptor so vacuum tooling can see the superseded blob)
        removes_dv: list[dict] = []
        for f in sorted(full_abs):
            removes_dv.append(
                {
                    "remove": {
                        "path": abs_of[os.path.normpath(f)],
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        for entry in dv_readds:
            rel = entry["add"]["path"]
            rm = {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
            old_desc = prev_active[rel].get("deletionVector")
            if old_desc:
                rm["deletionVector"] = old_desc
            removes_dv.append({"remove": rm})
        actions.extend(removes_dv)
        actions.extend(dv_readds)  # adds AFTER removes: replay order
    else:
        for p in sorted(removes):
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
    if rt and adds:
        actions.append(_rtm.assign_fresh_row_ids(log_dir, adds, version))
    actions.extend(adds)
    actions.extend(cdc_actions)
    # commitInfo.timestamp = PUBLICATION time, not operation entry:
    # the rewrite jobs above take seconds, and a timestamp-as-of taken
    # just before the statement must NOT resolve to this version
    # (protocol: timestamps order the commits as they became visible)
    actions[0]["commitInfo"]["timestamp"] = int(_time.time() * 1000)
    _write_commit(path, log_dir, version, actions)
    out = {
        "version": version,
        "files_added": len(adds),
        "files_removed": len(full_abs) if dv else len(removes),
        "rows_written": n_rows,
    }
    if cdc_actions:
        out["cdc_files"] = len(cdc_actions)
    if dv:
        out["dv_files"] = len(dv_readds)
        out["rows_deleted"] = rows_deleted
    return out


def _generated_expressions(meta_like: dict | None) -> dict[str, str]:
    """Generated-column declarations from the schemaString's field
    metadata (protocol key ``delta.generationExpression``, writer
    feature ``generatedColumns``)."""
    ss = (meta_like or {}).get("schemaString")
    if not ss:
        return {}
    out: dict[str, str] = {}
    for f in json.loads(ss).get("fields", []):
        expr = (f.get("metadata") or {}).get("delta.generationExpression")
        if expr:
            out[f["name"]] = expr
    return out


def _apply_generated_columns(
    df: DataFrame, gen_map: dict[str, str], recompute: bool = False
) -> DataFrame:
    """Enforce generated columns on a batch about to be written
    (protocol contract: the stored value MUST equal the generation
    expression).  A column ABSENT from the batch is computed (the
    delta-spark convenience); a PROVIDED column is validated with one
    aggregate — any null-safe mismatch refuses the whole write before
    staging.  ``recompute=True`` (the DML rewrite path) overwrites the
    column from its expression instead — delta-spark recomputes when
    an UPDATE touches the generation inputs, and recomputing is always
    consistent by construction.  Generation expressions may not
    reference other generated columns (the protocol's own rule), so
    applications are independent."""
    if not gen_map:
        return df
    from pyspark.sql import functions as F

    have = {c.lower() for c in df.columns}
    to_validate: list[tuple[str, str]] = []
    for col, expr in sorted(gen_map.items()):
        if recompute or col.lower() not in have:
            df = df.withColumn(col, F.expr(expr))
        else:
            to_validate.append((col, expr))
    if to_validate:
        aggs = [
            F.sum(
                F.when(
                    F.col(col).eqNullSafe(F.expr(expr)), F.lit(0)
                ).otherwise(F.lit(1))
            ).alias(f"_g{i}")
            for i, (col, expr) in enumerate(to_validate)
        ]
        counts = df.agg(*aggs).first()
        for i, (col, expr) in enumerate(to_validate):
            n = counts[f"_g{i}"] or 0
            if n:
                raise UnsupportedFormat(
                    f"generated column {col!r} violated by {n} row(s): "
                    f"provided values must equal {expr} (or omit the "
                    "column to have it computed) — nothing was written"
                )
    return df


def _check_constraints(df: DataFrame, meta_like: dict) -> None:
    """Enforce the table's CHECK constraints (protocol: writer feature
    ``checkConstraints``, configuration keys ``delta.constraints.
    <name>``) on every row about to be WRITTEN — append, overwrite,
    MERGE output, UPDATE/DELETE rewrite.  SQL CHECK semantics: a row
    violates only when the expression is FALSE (NULL passes).  One
    aggregate job per constrained write (zero cost on tables without
    constraints); violation raises BEFORE staging, so no commit and no
    orphan files."""
    cfg = meta_like.get("configuration") or {}
    cons = sorted(
        (k[len("delta.constraints."):], v)
        for k, v in cfg.items()
        if k.startswith("delta.constraints.")
    )
    if not cons:
        return
    from pyspark.sql import functions as F

    aggs = [
        F.sum(
            F.when(F.expr(expr).isNull(), F.lit(0))
            .when(F.expr(expr), F.lit(0))
            .otherwise(F.lit(1))
        ).alias(name)
        for name, expr in cons
    ]
    counts = df.agg(*aggs).first()
    for name, expr in cons:
        n = counts[name] or 0
        if n:
            raise UnsupportedFormat(
                f"CHECK constraint {name!r} ({expr}) violated by "
                f"{n} row(s) — nothing was written"
            )


def alter_delta_constraints(
    path: str,
    *,
    add: tuple[str, str] | None = None,
    drop: str | None = None,
    spark=None,
) -> dict:
    """``ALTER TABLE … ADD CONSTRAINT <name> CHECK (<expr>)`` /
    ``DROP CONSTRAINT <name>`` on a native Delta table.

    ADD validates EVERY existing row first (one scan; delta-spark
    refuses a constraint the current data violates), stores the
    expression as ``delta.constraints.<name>`` in the metaData
    configuration, and raises the protocol to minWriterVersion 3 (the
    checkConstraints writer-feature floor) — writers that don't know
    the feature must not write the table.  Enforcement on every
    subsequent write path is ``_check_constraints``.  Returns
    {"version", "operation", "name"}."""
    import time as _time

    from pg_analytics_spark.sources.delta import _replay_log

    log_dir = os.path.join(path, "_delta_log")
    _active, meta = _replay_log(log_dir)
    if meta is None:
        raise UnsupportedFormat(f"not a Delta table: {path}")
    cfg = dict(meta.get("configuration") or {})
    actions: list[dict] = []
    if add is not None:
        name, expr = add
        key = f"delta.constraints.{name}"
        if key in cfg:
            raise UnsupportedFormat(
                f"constraint {name!r} already exists on {path}"
            )
        if spark is None:
            raise UnsupportedFormat(
                "ADD CONSTRAINT needs a SparkSession to validate "
                "existing rows"
            )
        from pg_analytics_spark.sources import load_source

        _check_constraints(
            load_source(spark, path, "delta"),
            {"configuration": {key: expr}},
        )
        cfg[key] = expr
        proto = _latest_protocol(log_dir)
        if int(proto.get("minWriterVersion", 2)) < 3:
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": int(
                            proto.get("minReaderVersion", 1)
                        ),
                        "minWriterVersion": 3,
                    }
                }
            )
        op = "ADD CONSTRAINT"
    else:
        name = drop
        key = f"delta.constraints.{name}"
        if key not in cfg:
            raise UnsupportedFormat(
                f"constraint {name!r} does not exist on {path}"
            )
        del cfg[key]
        op = "DROP CONSTRAINT"
    new_meta = dict(meta)
    new_meta["configuration"] = cfg
    version = _next_version(log_dir)
    actions = [
        {
            "commitInfo": {
                "timestamp": int(_time.time() * 1000),
                "operation": op,
                "operationParameters": {"name": name},
            }
        }
    ] + actions + [{"metaData": new_meta}]
    _write_commit(path, log_dir, version, actions)
    return {"version": version, "operation": op, "name": name}


def vacuum_delta(path: str, retention_hours: float = 168.0) -> dict:
    """Physically delete data files no longer referenced by the
    CURRENT table version and older than ``retention_hours`` (Delta's
    VACUUM, default 7 days).  Time travel to versions whose files are
    vacuumed stops working — exactly Delta's documented contract; the
    retention window is what keeps concurrent readers of recent
    versions safe.  The log itself is never touched (history/metadata
    stay auditable).  Returns {files_deleted, bytes_deleted}."""
    from pg_analytics_spark.sources.delta import _replay_log
    from pg_analytics_spark.sources.delta_dv import _dv_file_path

    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise UnsupportedFormat(f"VACUUM target is not a delta table: {path}")
    active, _meta = _replay_log(log_dir)
    keep = {os.path.normpath(_decode_log_path(p)) for p in active}
    # deletion-vector blobs referenced by the CURRENT version survive
    # under the same contract as data files; superseded DV files (each
    # DV rewrite allocates a fresh uuid blob) vacuum with the same
    # retention guard
    for add in active.values():
        dv = add.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            keep.add(
                os.path.normpath(
                    os.path.relpath(_dv_file_path(path, dv), path)
                )
            )
    import time as _time

    cutoff = _time.time() - retention_hours * 3600.0
    deleted, freed = 0, 0
    for root, _dirs, names in os.walk(path):
        if "_delta_log" in os.path.relpath(root, path).split(os.sep):
            continue
        for name in names:
            if not (
                name.endswith(".parquet")
                or name.startswith("deletion_vector_")
            ):
                continue
            full = os.path.join(root, name)
            rel = os.path.normpath(os.path.relpath(full, path))
            if rel in keep:
                continue
            st = os.stat(full)
            if st.st_mtime > cutoff:
                continue
            freed += st.st_size
            os.remove(full)
            deleted += 1
    # prune now-empty partition dirs (cosmetic)
    for root, dirs, names in os.walk(path, topdown=False):
        if root != path and not dirs and not names:
            try:
                os.rmdir(root)
            except OSError:
                pass
    return {"files_deleted": deleted, "bytes_deleted": freed}


def convert_parquet_to_delta(
    spark, path: str, partition_by: str | list[str] | None = None
) -> dict:
    """IN-PLACE zero-copy ``CONVERT TO DELTA`` (delta-spark's
    ``CONVERT TO DELTA parquet.`path` [PARTITIONED BY (…)]``): mint a
    ``_delta_log`` beside an existing parquet directory whose v0
    commit adds every data file where it already sits — no data
    movement, O(files) metadata + one footer-stats pass (executor-side
    for large file sets, the same split as every commit here).

    Hive-partitioned layouts must DECLARE their partition columns
    (``partition_by`` — ``"name"`` or ``"name type"`` entries; a bare
    name is STRING, the on-disk representation), exactly delta-spark's
    ``PARTITIONED BY (name type)`` contract — hive INFERENCE would
    bake guesses (a string column of digit values comes back int); a
    declared column the directory names don't carry refuses loudly.
    After conversion the directory IS a Delta table: DML, time
    travel, CDF enablement, cloning all work.
    Returns {"version": 0, "files", "rows"}."""
    import time as _time

    path = os.path.abspath(path)
    log_dir = os.path.join(path, "_delta_log")
    if os.path.isdir(log_dir):
        raise UnsupportedFormat(f"already a Delta table: {path}")
    decls = (
        [partition_by]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    part_cols: list[str] = []
    part_types: dict[str, str] = {}
    for d in decls:
        name, _, t = d.strip().partition(" ")
        part_cols.append(name)
        part_types[name] = t.strip() or "string"
    data_files: list[str] = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet") and not name.startswith("."):
                data_files.append(os.path.join(root, name))
    if not data_files:
        raise UnsupportedFormat(f"no parquet files under {path}")
    rels = sorted(
        os.path.relpath(f, path).replace(os.sep, "/") for f in data_files
    )
    for rel in rels:
        pv = _partition_values(rel)
        missing = [c for c in part_cols if c not in pv]
        if missing:
            raise UnsupportedFormat(
                f"declared partition column(s) {missing} not in the "
                f"hive path of {rel!r}"
            )
        extra = [k for k in pv if k not in part_cols]
        if extra:
            raise UnsupportedFormat(
                f"file {rel!r} is hive-partitioned by {extra} — "
                "declare them via partition_by (delta-spark's "
                "PARTITIONED BY contract; inferring silently would "
                "bake string-typed guesses into the schema)"
            )
    # data schema from the FILES (explicit paths skip hive discovery —
    # discovery would TYPE-GUESS partition values); partition columns
    # ride the schema with their DECLARED types
    from pyspark.sql.types import StructField, StructType

    from pg_analytics_spark.types import duckdb_type_to_spark

    data_schema = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(path, r) for r in rels]
    ).schema
    schema = StructType(
        list(data_schema.fields)
        + [
            StructField(c, duckdb_type_to_spark(part_types[c]), True)
            for c in part_cols
        ]
    )
    per_file = _stats_for_files(
        spark, [os.path.join(path, r) for r in rels], schema
    )
    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CONVERT",
                "operationParameters": {
                    "partitionedBy": json.dumps(part_cols),
                    "numFiles": len(rels),
                },
            }
        },
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": part_cols,
                "configuration": {},
                "createdTime": now_ms,
            }
        },
    ]
    n_rows = 0
    for rel in rels:
        stats, size, mtime_ms = per_file[os.path.join(path, rel)]
        if stats:
            n_rows += json.loads(stats).get("numRecords") or 0
        actions.append(
            {
                "add": {
                    "path": _encode_log_path(rel),
                    "partitionValues": _partition_values(rel),
                    "size": size,
                    "modificationTime": mtime_ms,
                    "dataChange": True,
                    **({"stats": stats} if stats else {}),
                }
            }
        )
    _write_commit(path, log_dir, 0, actions)
    return {"version": 0, "files": len(rels), "rows": n_rows}


def clone_delta(
    source_path: str, target_path: str, version: int | None = None
) -> dict:
    """SHALLOW CLONE: a new Delta table whose version-0 commit
    REFERENCES the source's data files by absolute path — zero data
    copy, O(active files) metadata (the zero-cost dev/test fork of a
    100 TB table; delta-spark's ``CREATE TABLE t SHALLOW CLONE s``).

    The clone is pinned to the source's state at ``version`` (default
    latest): later source commits don't leak in, and DML on the clone
    copies-on-write into the CLONE's directory — referenced source
    files are only ever dropped from the clone's log, never touched
    on disk (``vacuum_delta`` walks the table root only, so a clone
    vacuum cannot reach them).  The one shared-fate hazard is Delta's
    own: VACUUM on the SOURCE deletes files the clone still
    references.  Deletion-vector descriptors are rewritten to
    absolute-path storage ('p') so they keep resolving against the
    source's blobs from the clone's root.  The clone mints a fresh
    table id but keeps schema, partitioning, properties, and protocol.
    Returns {"version", "files", "source_version"}."""
    import time as _time

    from pg_analytics_spark.errors import MissingDependency
    from pg_analytics_spark.sources.delta import _replay_log
    from pg_analytics_spark.sources.delta_dv import _dv_file_path

    src = os.path.abspath(source_path)
    log_dir = os.path.join(src, "_delta_log")
    if not os.path.isdir(log_dir):
        raise UnsupportedFormat(f"CLONE source is not a delta table: {src}")
    if os.path.isdir(os.path.join(target_path, "_delta_log")):
        raise UnsupportedFormat(
            f"CLONE target already exists: {target_path}"
        )
    try:
        active, meta = _replay_log(log_dir, version)
    except MissingDependency as exc:
        raise UnsupportedFormat(
            f"delta table at {src} has no version {version}: {exc}"
        ) from None
    if meta is None:
        raise UnsupportedFormat(f"no Delta metaData at {src}")
    from pg_analytics_spark.sources import delta_rowtracking as _rtm

    if _rtm.row_tracking_enabled(meta):
        raise UnsupportedFormat(
            "shallow clone of a row-tracking table is not supported by "
            "this writer (the clone would not carry the row-id "
            "high-water mark; fresh appends would reuse ids)"
        )
    src_version = (
        version if version is not None else _next_version(log_dir) - 1
    )
    now_ms = int(_time.time() * 1000)
    new_meta = dict(meta)
    new_meta["id"] = str(uuid.uuid4())  # a clone is a NEW table
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CLONE",
                "operationParameters": {
                    "source": src,
                    "sourceVersion": src_version,
                    "isShallow": True,
                },
            }
        },
        {"protocol": _latest_protocol(log_dir)},
        {"metaData": new_meta},
    ]
    for rel, add in sorted(active.items()):
        new_add = dict(add)
        p = new_add["path"]
        if not os.path.isabs(_decode_log_path(p)):
            # absolutize: src is literal filesystem bytes, p is an
            # already-encoded log path — encode src the same way so
            # the stored absolute path decodes once, like every entry
            from urllib.parse import quote

            new_add["path"] = quote(src, safe="/:@&=+$,;") + "/" + p
        dv = new_add.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            new_add["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": _dv_file_path(src, dv),
            }
        new_add["dataChange"] = True
        actions.append({"add": new_add})
    target_log = os.path.join(target_path, "_delta_log")
    os.makedirs(target_path, exist_ok=True)
    _write_commit(target_path, target_log, 0, actions)
    return {
        "version": 0,
        "files": len(active),
        "source_version": src_version,
    }


def describe_detail_delta(path: str) -> dict:
    """``DESCRIBE DETAIL`` — the one-row table summary delta-spark
    returns: format, id, location, created/last-modified times,
    partition columns, active file count and byte size, properties,
    protocol versions.  Metadata-sized: one log replay plus the add
    actions' recorded sizes (no data file is opened)."""
    from pg_analytics_spark.sources.delta import _commit_info, _replay_log

    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise UnsupportedFormat(
            f"DESCRIBE DETAIL target is not a delta table: {path}"
        )
    active, meta = _replay_log(log_dir)
    if meta is None:
        raise UnsupportedFormat(f"no Delta metaData at {path}")
    proto = _latest_protocol(log_dir)
    commits = sorted(
        f for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:20].isdigit()
    )
    created_ms = last_ms = None
    if commits:
        created_ms = _commit_info(log_dir, int(commits[0][:20]))[0]
        last_ms = _commit_info(log_dir, int(commits[-1][:20]))[0]
    return {
        "format": "delta",
        "id": meta.get("id"),
        "location": os.path.abspath(path),
        "createdAt": created_ms,
        "lastModified": last_ms,
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "numFiles": len(active),
        "sizeInBytes": sum(int(a.get("size") or 0) for a in active.values()),
        "properties": dict(meta.get("configuration") or {}),
        "minReaderVersion": int(proto.get("minReaderVersion", 1)),
        "minWriterVersion": int(proto.get("minWriterVersion", 2)),
    }
