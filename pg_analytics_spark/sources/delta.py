"""Delta Lake source — reference src/duckdb/delta.rs:41-61.

The reference registers ``delta_scan('<path>')`` with options
files/select/preserve_casing.  Spark's native integration is the
``delta`` format from the delta-spark package; when that is absent
(this environment), a built-in MINIMAL log reader takes over: it
replays the public Delta transaction log (_delta_log JSON commits on
top of the latest parquet checkpoint) to resolve the table's active
file set and partition values, then reads those parquet files
directly.

Supported by the fallback: append/overwrite tables, partitioned
tables (partition columns reconstructed from add-action
partitionValues, typed via the metaData schemaString), checkpoints,
DELETION VECTORS — decoded from the public formats (Z85 + portable
RoaringBitmapArray, sources/delta_dv.py) and applied as a distributed
anti-join on parquet ``_metadata.row_index``, the same merge-on-read
shape as the Iceberg positional-delete path — and COLUMN MAPPING
(modes ``name``/``id``): physical parquet names resolve to logical
names via the schemaString's ``delta.columnMapping.physicalName``
metadata; nested struct/array/map fields are renamed in one positional
cast to the logical Spark type (physical field order in the files is
the schemaString order, per the protocol).  NAME-based schema
evolution: each file group reads with mergeSchema and conforms to the
CURRENT schemaString — columns added after a file was written surface
as typed NULLs, primitives cast to their declared types.

Scale note: the log replay is driver-side metadata work (exactly like
delta-spark's snapshot resolution); the data read is a plain parquet
scan over the active files — pushdown/pruning apply as usual.  Files
sharing identical partition values are read in one reader call.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_analytics_spark.errors import MissingDependency
from pg_analytics_spark.sources.base import apply_common
from pg_analytics_spark.sources.delta_write import _decode_log_path
from pg_analytics_spark.types import duckdb_type_to_spark


#: Tri-state memo for "is the delta-spark format installed?": None =
#: unknown, False = probe failed once (it cannot start working later
#: in the session — the jar set is fixed at session start), True =
#: worked.  r14: without the memo EVERY delta table load paid a py4j
#: exception round trip (~0.1 s) re-discovering the missing format —
#: Engine.attach alone re-loads the table per ALTER statement.
_NATIVE_DELTA_FORMAT: bool | None = None


def load(spark: SparkSession, files: list[str], opts: dict) -> DataFrame:
    global _NATIVE_DELTA_FORMAT
    if len(files) != 1:
        raise MissingDependency("delta source takes exactly one table path")
    path = files[0]
    version = opts.get("version_as_of", opts.get("versionAsOf"))
    ts = opts.get("timestamp_as_of", opts.get("timestampAsOf"))
    if version is not None and ts is not None:
        raise ValueError(
            "specify either version_as_of or timestamp_as_of, not both"
        )
    try:
        if _NATIVE_DELTA_FORMAT is False:
            raise MissingDependency("delta-spark absent (memoized)")
        reader = spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", int(version))
        if ts is not None:
            reader = reader.option("timestampAsOf", str(ts))
        df = reader.load(path)
        _NATIVE_DELTA_FORMAT = True
    except (ValueError, TypeError):
        raise
    except Exception as exc:
        # only memoize the FORMAT being absent (DATA_SOURCE_NOT_FOUND /
        # ClassNotFound); a real read error against an existing format
        # must stay un-memoized
        if _NATIVE_DELTA_FORMAT is None:
            msg = str(exc)
            if "DATA_SOURCE_NOT_FOUND" in msg or "ClassNotFoundException" in msg:
                _NATIVE_DELTA_FORMAT = False
        if ts is not None:
            version = _resolve_timestamp(
                os.path.join(path, "_delta_log"), _ts_ms(ts)
            )
        df = _load_via_log(
            spark,
            path,
            version=None if version is None else int(version),
            stats_filter=opts.get("stats_filter"),
        )
    # stats_filter is exact: files provably outside the range are
    # skipped from the add-action stats (data skipping, what the
    # runtime's pushdown does automatically), and the row predicate is
    # re-applied so files kept conservatively cannot leak rows.  On the
    # delta-spark path the same filter lets the runtime prune instead.
    for c, (lo, hi) in dict(opts.get("stats_filter") or {}).items():
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) <= F.lit(hi))
    return apply_common(df, opts)


def _ts_ms(ts) -> int:
    """timestamp_as_of value → epoch millis (int millis, or an ISO
    datetime string, naive = UTC — delta-spark's timestampAsOf shape)."""
    if isinstance(ts, (int, float)):
        return int(ts)
    s = str(ts)
    if s.isdigit():
        return int(s)
    import datetime as dt

    d = dt.datetime.fromisoformat(s)
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    return int(d.timestamp() * 1000)


def _resolve_timestamp(log_dir: str, ts_ms: int) -> int:
    """Latest commit version whose timestamp is <= ts_ms.  Timestamps
    come from each commit's commitInfo action (file mtime as the
    protocol-permitted fallback); per the protocol they are
    monotonically non-decreasing across versions."""
    if not os.path.isdir(log_dir):
        raise MissingDependency(f"not a Delta table (no _delta_log): {log_dir}")
    versions = sorted(
        int(f[:20])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:20].isdigit()
    )
    best = None
    for v in versions:
        p = os.path.join(log_dir, f"{v:020d}.json")
        t = None
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                ci = json.loads(line).get("commitInfo")
                if ci and "timestamp" in ci:
                    t = int(ci["timestamp"])
                    break
        if t is None:
            t = int(os.path.getmtime(p) * 1000)
        if t <= ts_ms:
            best = v
        else:
            break
    if best is None:
        raise MissingDependency(
            f"no Delta commit at or before timestamp {ts_ms} in {log_dir}"
        )
    return best


# ------------------------------------------------------------------ #
# Minimal transaction-log reader (public Delta protocol)
# ------------------------------------------------------------------ #


def _file_overlaps_stats(add: dict, phys_col: str, lo, hi) -> bool:
    """Data-skipping check against the add action's JSON stats
    (numRecords/minValues/maxValues, the public Delta stats shape).
    Missing or unparsable stats keep the file — skipping must be
    provably safe."""
    raw = add.get("stats")
    if not raw:
        return True
    try:
        stats = json.loads(raw) if isinstance(raw, str) else raw
        mn = (stats.get("minValues") or {}).get(phys_col)
        mx = (stats.get("maxValues") or {}).get(phys_col)
    except (ValueError, AttributeError):
        return True
    if mn is None or mx is None:
        return True
    try:
        if hi is not None and type(mn)(hi) < mn:
            return False
        if lo is not None and type(mx)(lo) > mx:
            return False
    except (TypeError, ValueError):
        return True
    return True


def _partition_overlaps(
    add: dict, part_cols: list[str], phys_of: dict, stats_filter: dict
) -> bool:
    """Partition-value pruning under the same stats_filter contract:
    a file whose partitionValue for a filtered PARTITION column falls
    outside [lo, hi] is skipped.  Non-numeric comparisons fall back to
    string ordering only when both sides are strings; otherwise keep."""
    pv = add.get("partitionValues") or {}
    for c, (lo, hi) in dict(stats_filter).items():
        if c not in part_cols:
            continue
        raw = pv.get(phys_of.get(c, c))
        if raw is None:
            continue
        for bound, is_lo in ((lo, True), (hi, False)):
            if bound is None:
                continue
            try:
                v = type(bound)(raw)
            except (TypeError, ValueError):
                continue
            if is_lo and v < bound:
                return False
            if not is_lo and v > bound:
                return False
    return True


#: ``_metadata.file_path`` as the log's decoded absolute path: the
#: URI prefix goes, and the percent escapes decode (space → %20 …).
#: The '+' pre-escape keeps url_decode (a form decoder) from turning a
#: literal '+' in a path into a space.
_FILE_PATH_SQL = (
    "url_decode(replace(regexp_replace("
    "_metadata.file_path, '^file:/+', '/'), '+', '%2B'))"
)


def _load_via_log(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    stats_filter: dict | None = None,
    keep_meta: bool = False,
    keep_phys: list[str] | None = None,
) -> DataFrame:
    """``keep_meta=True`` keeps the internal ``_dv_file`` (absolute
    data-file path) and ``_dv_pos`` (physical parquet row index)
    columns on the result — the coordinate system deletion vectors
    address — for the DV-writing DML path (delta_write._rewrite_where).
    Already-deleted rows are still anti-joined away, so ``_dv_pos`` on
    the survivors is exactly the physical index a NEW DV must mark.

    ``keep_phys`` names HIDDEN physical columns to carry through the
    schema conformance (long-typed NULL when a file group lacks them)
    — the row-tracking materialized identity columns live outside the
    table schema and are normally projected away."""
    log_dir = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise MissingDependency(
            f"not a Delta table (no _delta_log): {table_path}"
        )
    active, meta = _replay_log(log_dir, version=version)
    if meta is None:
        raise MissingDependency(f"Delta log has no metaData action: {table_path}")
    part_cols = meta.get("partitionColumns", [])
    part_types = _partition_types(meta, part_cols)
    mapping = _column_mapping(meta)  # logical name → (physical, Column)
    phys_of = {c: mapping[c][0] for c in mapping} if mapping else {}

    # group active files by partition values → one reader call per group
    # (partitionValues keys are PHYSICAL names under column mapping)
    groups: dict[tuple, list[str]] = {}
    deletions: list[tuple[str, int]] = []  # (abs file path, row index)
    for add in active.values():
        if stats_filter and not all(
            _file_overlaps_stats(add, phys_of.get(c, c), lo, hi)
            for c, (lo, hi) in dict(stats_filter).items()
        ):
            continue  # provably outside the requested range
        if stats_filter and not _partition_overlaps(
            add, part_cols, phys_of, stats_filter
        ):
            continue  # hive partition value outside the range
        pv = add.get("partitionValues") or {}
        key = tuple(pv.get(phys_of.get(c, c)) for c in part_cols)
        abs_path = os.path.abspath(
            os.path.join(table_path, _decode_log_path(add["path"]))
        )
        groups.setdefault(key, []).append(abs_path)
        dv = add.get("deletionVector")
        if dv:
            from pg_analytics_spark.sources.delta_dv import dv_deleted_rows

            deletions.extend(
                (abs_path, int(r)) for r in dv_deleted_rows(table_path, dv)
            )
    if not groups:
        # a truncated / just-created table is EMPTY, not broken: read
        # back as 0 rows under the declared schema (DELETE without
        # WHERE commits pure removes — the protocol allows zero adds)
        from pyspark.sql import types as T

        fields = json.loads(meta["schemaString"])["fields"]
        schema = T.StructType(
            [
                T.StructField(
                    f["name"],
                    _delta_type_to_spark(f["type"]),
                    bool(f.get("nullable", True)),
                )
                for f in fields
            ]
        )
        return spark.createDataFrame([], schema)

    with_meta = bool(deletions) or keep_meta
    meta_cols = [
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/").alias(
            "_dv_file"
        ),
        F.col("_metadata.row_index").alias("_dv_pos"),
    ]
    # EXPLICIT read schema from schemaString (no column mapping only —
    # mapped tables need the per-footer physical nested names that
    # mergeSchema discovers): skips mergeSchema's footer-inference job
    # per file group, the dominant cost of assembling a many-group
    # partitioned read (measured 2.8–4.6× on a 30-day table).  The
    # parquet reader null-fills columns a pre-evolution file lacks —
    # the same result mergeSchema + _conform_delta produced.
    explicit_schema = None
    if mapping is None:
        from pyspark.sql import types as T

        sfields = [
            T.StructField(f["name"], _delta_type_to_spark(f["type"]), True)
            for f in json.loads(meta["schemaString"])["fields"]
            if f["name"] not in part_cols
        ]
        have = {f.name for f in sfields}
        sfields += [
            T.StructField(c, T.LongType(), True)
            for c in (keep_phys or [])
            if c not in have
        ]
        explicit_schema = T.StructType(sfields)
    out: DataFrame | None = None
    if explicit_schema is not None and len(groups) > 1:
        # r14 (guide §5 plan-size / §1.2): MANY partition groups used
        # to build one spark.read per group + an N-leaf unionByName —
        # ~80 ms of py4j + analysis per group on a 30-day table, paid
        # at PLAN BUILD time for every read.  With an explicit schema
        # the reader null-fills evolved columns identically for every
        # file, so read ALL active files in ONE scan and attach each
        # file's partition values with a broadcast join on
        # _metadata.file_path (the per-file constant the group loop
        # expressed as a literal).  Column-mapped tables keep the loop
        # (their per-group mergeSchema discovers physical names).
        all_paths = [p for paths in groups.values() for p in paths]
        df = spark.read.schema(explicit_schema).parquet(*all_paths)
        phys_keep = [
            F.col(c).cast("long").alias(c) for c in (keep_phys or [])
        ]
        others = [
            F.col(c) for c in df.columns if c not in (keep_phys or [])
        ]
        file_col = F.expr(_FILE_PATH_SQL).alias("_pv_file")
        df = df.select(
            *others, *phys_keep, *(meta_cols if with_meta else []),
            file_col,
        )
        df = _conform_delta(
            df, meta, part_cols, keep_cols=[*(keep_phys or []), "_pv_file"]
        )
        pv_rows = [
            (p, True, *[None if v is None else str(v) for v in key])
            for key, paths in groups.items()
            for p in paths
        ]
        from pyspark.sql import types as T

        pv_schema = T.StructType(
            [
                T.StructField("_pv_file", T.StringType(), False),
                T.StructField("_pv_hit", T.BooleanType(), False),
            ]
            + [
                T.StructField(f"_pv_{c}", T.StringType(), True)
                for c in part_cols
            ]
        )
        pvdf = spark.createDataFrame(pv_rows, pv_schema)
        # LEFT join: a file whose key matches no add action must fail
        # the read, not silently lose its rows (NULL partition values
        # stay legal — only the non-null marker tells the two apart)
        df = df.join(F.broadcast(pvdf), "_pv_file", "left")
        miss = F.raise_error(
            F.concat(
                F.lit("delta read: data file "),
                F.col("_pv_file"),
                F.lit(" matches no add action of the snapshot"),
            )
        )
        for c in part_cols:
            df = df.withColumn(
                c,
                F.when(F.col("_pv_hit").isNull(), miss)
                .otherwise(F.col(f"_pv_{c}"))
                .cast(part_types[c]),
            )
        out = df.drop(
            "_pv_file", "_pv_hit", *[f"_pv_{c}" for c in part_cols]
        )
    else:
        for key, paths in sorted(
            groups.items(), key=lambda kv: tuple(map(str, kv[0]))
        ):
            # mergeSchema unions columns across files written under
            # older schemas (ADD COLUMN evolution); _conform_delta then
            # fixes presence, order, and declared types vs schemaString
            if explicit_schema is not None:
                df = spark.read.schema(explicit_schema).parquet(*paths)
            else:
                df = spark.read.option("mergeSchema", "true").parquet(*paths)
            phys_keep = [
                F.col(c).cast("long").alias(c)
                if c in df.columns
                else F.lit(None).cast("long").alias(c)
                for c in (keep_phys or [])
            ]
            if mapping:
                # a physical column can be absent from every file in
                # the group (ADD COLUMN after they were written) — skip
                # it here; _conform_delta null-fills the logical name
                data_cols = [
                    mapping[c][1]
                    for c in mapping
                    if c not in part_cols and mapping[c][0] in df.columns
                ]
                df = df.select(
                    *data_cols, *phys_keep,
                    *(meta_cols if with_meta else []),
                )
            else:
                others = [
                    F.col(c)
                    for c in df.columns
                    if c not in (keep_phys or [])
                ]
                df = df.select(
                    *others, *phys_keep,
                    *(meta_cols if with_meta else []),
                )
            df = _conform_delta(df, meta, part_cols, keep_cols=keep_phys)
            for c, v in zip(part_cols, key):
                lit = F.lit(v).cast(part_types[c])
                df = df.withColumn(c, lit)
            out = df if out is None else out.unionByName(df)
    if deletions:
        dels = spark.createDataFrame(deletions, ["_dv_file", "_dv_pos"])
        out = out.join(
            F.broadcast(dels), ["_dv_file", "_dv_pos"], "left_anti"
        )
    if with_meta and not keep_meta:
        out = out.drop("_dv_file", "_dv_pos")
    return out


def _conform_delta(
    df: DataFrame, meta: dict, part_cols, keep_cols: list[str] | None = None
) -> DataFrame:
    """NAME-based schema evolution: project to the CURRENT schemaString
    — columns added after a file was written surface as typed NULLs,
    dropped ones disappear, primitives cast to the declared type.
    Internal _dv_* columns (and any explicitly kept hidden physical
    columns) ride along untouched."""
    schema = json.loads(meta["schemaString"])
    fields = [
        f for f in schema.get("fields", []) if f["name"] not in part_cols
    ]
    if not fields:
        return df
    have = {c.lower(): c for c in df.columns}
    cols = []
    for f in fields:
        t = _delta_type_to_spark(f["type"])
        name = f["name"]
        if name.lower() in have:
            cols.append(F.col(have[name.lower()]).cast(t).alias(name))
        else:
            cols.append(F.lit(None).cast(t).alias(name))
    keep = [
        c
        for c in df.columns
        if c.startswith("_dv_") or c in (keep_cols or [])
    ]
    return df.select(*cols, *keep)


def _delta_type_to_spark(t):
    """Delta schemaString type JSON → Spark DataType (with LOGICAL
    nested field names — a positional cast onto this type renames every
    nested level in one expression)."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
    )

    if isinstance(t, str):
        return duckdb_type_to_spark(t)
    kind = t["type"]
    if kind == "struct":
        return StructType(
            [
                StructField(
                    f["name"],
                    _delta_type_to_spark(f["type"]),
                    f.get("nullable", True),
                )
                for f in t["fields"]
            ]
        )
    if kind == "array":
        return ArrayType(
            _delta_type_to_spark(t["elementType"]), t.get("containsNull", True)
        )
    if kind == "map":
        return MapType(
            _delta_type_to_spark(t["keyType"]),
            _delta_type_to_spark(t["valueType"]),
            t.get("valueContainsNull", True),
        )
    raise MissingDependency(f"unsupported Delta type {t!r}")


def _column_mapping(meta: dict) -> dict[str, tuple[str, F.Column]] | None:
    """Column-mapping resolution (delta.columnMapping.mode name|id):
    logical name → (physical top-level name, select Column that reads
    the physical column and positionally casts nested levels to the
    logical schema).  None when the table has no mapping."""
    cfg = meta.get("configuration") or {}
    if cfg.get("delta.columnMapping.mode", "none") not in ("name", "id"):
        return None
    schema = json.loads(meta["schemaString"])
    out: dict[str, tuple[str, F.Column]] = {}
    for f in schema.get("fields", []):
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        col = F.col(phys).cast(_delta_type_to_spark(f["type"])).alias(f["name"])
        out[f["name"]] = (phys, col)
    return out


def _replay_log(
    log_dir: str, version: int | None = None
) -> tuple[dict[str, dict], dict | None]:
    """Replay checkpoint + JSON commits → (active add-actions by path,
    latest metaData action).  ``version`` replays only commits ≤ that
    version (time travel, delta-spark's versionAsOf), based on the
    NEWEST checkpoint at or before the requested version — early
    commits may have been cleaned up after checkpointing, so replaying
    from 0 would silently drop files.  Commits from the replay base to
    the requested version must be contiguous or the travel fails
    loudly.
    """
    start_version = -1
    active: dict[str, dict] = {}
    meta: dict | None = None

    cp_paths: list[str] = []
    if version is None:
        last_cp = os.path.join(log_dir, "_last_checkpoint")
        if os.path.exists(last_cp):
            with open(last_cp) as fh:
                cp = json.load(fh)
            cp_version = int(cp["version"])
            parts = cp.get("parts")
            cp_paths = [
                os.path.join(log_dir, name)
                for name in (
                    [f"{cp_version:020d}.checkpoint.parquet"]
                    if not parts
                    else [
                        f"{cp_version:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet"
                        for i in range(parts)
                    ]
                )
            ]
            start_version = cp_version
    else:
        checkpoints = _list_checkpoints(log_dir)
        usable = [v for v in checkpoints if v <= version]
        if usable:
            start_version = max(usable)
            cp_paths = checkpoints[start_version]
    for cp_path in cp_paths:
        a, m = _read_checkpoint(cp_path)
        active.update(a)
        meta = m or meta

    commits = sorted(
        f for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:20].isdigit()
        and int(f[:20]) > start_version
        and (version is None or int(f[:20]) <= version)
    )
    if version is not None:
        have = {int(f[:20]) for f in commits}
        need = set(range(start_version + 1, version + 1))
        missing = need - have
        if missing:
            raise MissingDependency(
                f"Delta time travel to version {version} incomplete: "
                f"commit version(s) {sorted(missing)} missing from "
                f"{log_dir} (log cleaned up?); replay base is "
                f"{'checkpoint ' + str(start_version) if start_version >= 0 else 'version 0'}"
            )
    for name in commits:
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action: dict[str, Any] = json.loads(line)
                if "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    active[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    active.pop(action["remove"]["path"], None)
    return active, meta


def _list_checkpoints(log_dir: str) -> dict[int, list[str]]:
    """All checkpoint versions present on disk → their file paths
    (single-file and multi-part forms), independent of _last_checkpoint
    — time travel needs older checkpoints the pointer no longer names."""
    import re

    out: dict[int, list[str]] = {}
    pat = re.compile(r"^(\d{20})\.checkpoint(?:\.\d{10}\.\d{10})?\.parquet$")
    for f in os.listdir(log_dir):
        m = pat.match(f)
        if m:
            out.setdefault(int(m.group(1)), []).append(os.path.join(log_dir, f))
    for v in out:
        out[v].sort()
    return out


def _read_checkpoint(path: str) -> tuple[dict[str, dict], dict | None]:
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    cols = tbl.to_pylist()
    active: dict[str, dict] = {}
    meta: dict | None = None
    for row in cols:
        add = row.get("add")
        if add and add.get("path"):
            pv = add.get("partitionValues")
            if isinstance(pv, list):  # pyarrow renders map<k,v> as pairs
                add["partitionValues"] = dict(pv)
            # a checkpointed NULL deletionVector reads back as a struct
            # of NULL fields — normalize to "no DV"
            dv = add.get("deletionVector")
            if dv is not None and dv.get("storageType") is None:
                add["deletionVector"] = None
            active[add["path"]] = add
        md = row.get("metaData")
        if md and md.get("id"):
            # pyarrow renders map<k,v> as pair lists — normalize the
            # configuration (and format.options) back to dicts, or
            # every property read after a checkpoint replay breaks
            # (cfg.get on a list)
            if isinstance(md.get("configuration"), list):
                md["configuration"] = dict(md["configuration"])
            fmt = md.get("format")
            if fmt and isinstance(fmt.get("options"), list):
                fmt["options"] = dict(fmt["options"])
            meta = md
    return active, meta


def _partition_types(meta: dict, part_cols: list[str]) -> dict[str, Any]:
    """Partition column Spark types from the metaData schemaString."""
    types: dict[str, Any] = {c: "string" for c in part_cols}
    schema_string = meta.get("schemaString")
    if schema_string:
        schema = json.loads(schema_string)
        for field in schema.get("fields", []):
            if field["name"] in types and isinstance(field["type"], str):
                types[field["name"]] = duckdb_type_to_spark(field["type"])
    return types
