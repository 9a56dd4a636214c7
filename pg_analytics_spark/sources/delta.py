"""Delta Lake source — reference src/duckdb/delta.rs:41-61.

The reference registers ``delta_scan('<path>')`` with options
files/select/preserve_casing.  Spark's native integration is the
``delta`` format from the delta-spark package; when that is absent
(this environment), a built-in MINIMAL log reader takes over: it
replays the public Delta transaction log (_delta_log JSON commits on
top of the newest checkpoint) to resolve the table's active file set
and partition values, then reads those parquet files directly.

One snapshot: :func:`snapshot` is the only replay of the log.  It
needs no SparkContext (the ``delta_native`` DataSource plan worker
calls it too) and returns one :class:`Snapshot` — version, protocol,
metaData, active adds, SetTransaction watermarks, live domainMetadata
and the decoded schema — that every Delta reader and writer reads.  A
statement passes the snapshot it read down to its scan and to its
commit, which it publishes at ``snapshot.version + 1``.

Types: one context-free decoder, :func:`_delta_type_to_spark`, maps
the schemaString (PROTOCOL.md, "Schema Serialization Format" and
"Primitive Types",
https://github.com/delta-io/delta/blob/master/PROTOCOL.md):

==================  ======================
Delta type          Spark type
==================  ======================
``string``          ``StringType``
``long``            ``LongType``
``integer``         ``IntegerType``
``short``           ``ShortType``
``byte``            ``ByteType``
``float``           ``FloatType``
``double``          ``DoubleType``
``decimal(p,s)``    ``DecimalType(p, s)``
``boolean``         ``BooleanType``
``binary``          ``BinaryType``
``date``            ``DateType``
``timestamp``       ``TimestampType`` (microseconds, adjusted to UTC)
``timestamp_ntz``   ``TimestampNTZType`` (no time zone)
``struct``          ``StructType``
``array``           ``ArrayType``
``map``             ``MapType``
==================  ======================

Supported by the fallback: append/overwrite tables, partitioned
tables (partition columns reconstructed from add-action
partitionValues, typed via the metaData schemaString), checkpoints,
DELETION VECTORS — decoded from the public formats (Z85 + portable
RoaringBitmapArray, sources/delta_dv.py) and applied as a distributed
anti-join on parquet ``_metadata.row_index``, the same merge-on-read
shape as the Iceberg positional-delete path — and COLUMN MAPPING
(modes ``name``/``id``): physical parquet names resolve to logical
names via the schemaString's ``delta.columnMapping.physicalName``
metadata.  NAME-based schema evolution: every snapshot and change-feed
read is ONE parquet scan under an explicit schema — the CURRENT
schemaString under its physical names (:func:`_scan_files`) — so a
column added after a file was written reads as typed NULLs, and one
projection renames to the logical names (a positional cast renames
every nested level).

Scale note: the log replay is driver-side metadata work (exactly like
delta-spark's snapshot resolution); the data read is a plain parquet
scan over the active files — pushdown/pruning apply as usual.  Every
active file is read by the same reader call, whatever its partition
values; a file is identified by one key, its decoded absolute path
(:func:`_abs_file` from the log, :func:`_file_key` from the scan).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_analytics_spark.errors import MissingDependency, UnsupportedFormat
from pg_analytics_spark.sources.base import apply_common
from pg_analytics_spark.types import local_frame


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
            snapshot(path, None if version is None else int(version)),
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


def _commit_info(
    log_dir: str, version: int, actions: list[dict] | None = None
) -> tuple[int, dict]:
    """A commit's (timestamp in epoch millis, commitInfo action): the
    timestamp is the first commitInfo's ``timestamp``, else the commit
    file's mtime (the protocol-permitted fallback); the action is
    ``{}`` when the commit has none.  ``actions`` are the commit's
    parsed lines when the caller already read them.  The one rule
    behind time travel, the change feed and DESCRIBE HISTORY/DETAIL."""
    p = os.path.join(log_dir, f"{version:020d}.json")
    with open(p) as fh:
        if actions is None:
            actions = (json.loads(ln) for ln in fh if ln.strip())
        ci = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
    ts = ci.get("timestamp")
    return (int(os.path.getmtime(p) * 1000) if ts is None else int(ts)), ci


def _resolve_timestamp(log_dir: str, ts_ms: int) -> int:
    """Latest commit version whose timestamp (:func:`_commit_info`) is
    <= ts_ms; per the protocol commit timestamps are monotonically
    non-decreasing across versions."""
    if not os.path.isdir(log_dir):
        raise MissingDependency(f"not a Delta table (no _delta_log): {log_dir}")
    versions = sorted(
        int(m.group(1))
        for m in map(_COMMIT_FILE.match, os.listdir(log_dir))
        if m
    )
    best = None
    for v in versions:
        if _commit_info(log_dir, v)[0] > ts_ms:
            break
        best = v
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


def _abs_file(table_path: str, log_path: str) -> str:
    """An action's ``path`` → its file key: the decoded absolute path
    (shallow clones store absolute paths, which stay as they are).
    :func:`_file_key` makes the same string from a scanned file."""
    rel = _decode_log_path(log_path)
    return os.path.abspath(os.path.join(table_path, rel))


def _file_key(uri) -> F.Column:
    """A scanned file's URI (``_metadata.file_path``,
    ``input_file_name()``) → its file key, the string :func:`_abs_file`
    makes from the log: the ``file:`` prefix goes and the percent
    escapes decode once (space → %20 …).  The '+' pre-escape keeps
    url_decode (a form decoder) from turning a literal '+' in a path
    into a space."""
    no_scheme = F.regexp_replace(uri, "^file:/+", "/")
    return F.url_decode(F.replace(no_scheme, F.lit("+"), F.lit("%2B")))


def _load_via_log(
    spark: SparkSession,
    snap: Snapshot,
    *,
    stats_filter: dict | None = None,
    keep_meta: bool = False,
    keep_phys: list[str] | None = None,
) -> DataFrame:
    """The snapshot ``snap`` as one :func:`_scan_files` over its active
    files.

    ``keep_meta=True`` keeps the internal ``_dv_file`` (file key) and
    ``_dv_pos`` (physical parquet row index) columns on the result —
    the coordinate system deletion vectors address — for the
    DV-writing DML path (delta_write._rewrite_where).  Already-deleted
    rows are still anti-joined away, so ``_dv_pos`` on the survivors
    is exactly the physical index a NEW DV must mark.

    ``keep_phys`` names HIDDEN physical long columns to carry (NULL
    where a file lacks them) — the row-tracking materialized identity
    columns live outside the table schema and are otherwise not read."""
    files: list[tuple[str, tuple]] = []
    deletions: list[tuple[str, int]] = []  # (file key, row index)
    for add in snap.active.values():
        if stats_filter and not all(
            _file_overlaps_stats(add, snap.phys_of.get(c, c), lo, hi)
            for c, (lo, hi) in dict(stats_filter).items()
        ):
            continue  # provably outside the requested range
        if stats_filter and not _partition_overlaps(
            add, snap.part_cols, snap.phys_of, stats_filter
        ):
            continue  # hive partition value outside the range
        pv = add.get("partitionValues") or {}
        abs_path = _abs_file(snap.path, add["path"])
        key = tuple(pv.get(snap.phys_of.get(c, c)) for c in snap.part_cols)
        files.append((abs_path, key))
        dv = add.get("deletionVector")
        if dv:
            from pg_analytics_spark.sources.delta_dv import dv_deleted_rows

            deletions.extend(
                (abs_path, int(r)) for r in dv_deleted_rows(snap.path, dv)
            )
    if not files:
        # a truncated / just-created table is EMPTY, not broken: read
        # back as 0 rows under the declared schema (DELETE without
        # WHERE commits pure removes — the protocol allows zero adds)
        return local_frame(spark, [], snap.schema)
    return _scan_files(
        spark, snap, files, deletions=deletions, keep_meta=keep_meta,
        keep_phys=keep_phys or (),
    )


def _scan_files(
    spark: SparkSession,
    snap: Snapshot,
    files: list[tuple[str, tuple]],
    *,
    deletions: list[tuple[str, int]] = (),
    keep_meta: bool = False,
    keep_phys=(),
    extra=(),
) -> DataFrame:
    """ONE parquet scan of ``files`` — (file key, partition-value
    tuple) pairs, the tuple in ``partitionColumns`` order — projected
    onto the snapshot's schema: data columns in schemaString order,
    then ``keep_phys``, ``extra``, the ``_dv_*`` columns
    (``keep_meta``) and the partition columns.

    The read schema is the schemaString under its PHYSICAL names
    (top-level and nested column-mapping names; the logical ones on an
    unmapped table): no footer inference, and the reader null-fills a
    column a file lacks.  One projection renames to the logical names
    — the positional cast renames every nested level.  Partition values
    are literals when every file shares one tuple; otherwise a literal
    lookup on the file key attaches them (:func:`_partition_lookup`, no
    join and no job), and a scanned file no pair names fails the read
    (the lookup's struct is the hit marker: NULL partition values stay
    legal).  ``deletions`` — (file key, row index) pairs — are
    anti-joined away.  ``keep_phys`` are hidden long
    columns to carry (row tracking); ``extra`` are StructFields read
    and kept as they are (the cdc ``_change_type``)."""
    part_cols, phys_of = snap.part_cols, snap.phys_of
    fields = [
        (f["name"], phys_of.get(f["name"], f["name"]), f["type"])
        for f in snap.fields
        if f["name"] not in part_cols
    ]
    read_schema = T.StructType(
        [
            T.StructField(phys, _delta_type_to_spark(t, bool(phys_of)))
            for _name, phys, t in fields
        ]
        + [T.StructField(c, T.LongType()) for c in keep_phys]
        + list(extra)
    )
    df = spark.read.schema(read_schema).parquet(*[p for p, _ in files])
    keys = {key for _, key in files}
    need_pos = bool(deletions) or keep_meta
    df = df.select(
        *[
            F.col(phys).cast(snap.schema[name].dataType).alias(name)
            for name, phys, _t in fields
        ],
        *keep_phys,
        *[f.name for f in extra],
        *(
            [_file_key(F.col("_metadata.file_path")).alias("_dv_file")]
            if need_pos or len(keys) > 1
            else []
        ),
        *([F.col("_metadata.row_index").alias("_dv_pos")] if need_pos else []),
    )
    if len(keys) == 1:
        (key,) = keys
        df = df.select(
            "*",
            *[
                F.lit(v).cast(snap.part_types[c]).alias(c)
                for c, v in zip(part_cols, key)
            ],
        )
    else:
        miss = F.raise_error(
            F.concat(
                F.lit("delta read: data file "),
                F.col("_dv_file"),
                F.lit(" matches no add action of the snapshot"),
            )
        )
        df = df.withColumn("_pv", _partition_lookup(files, len(part_cols)))
        df = df.select(
            *df.columns[:-1],
            *[
                F.when(F.col("_pv").isNull(), miss)
                .otherwise(F.col("_pv")[f"v{i}"])
                .cast(snap.part_types[c])
                .alias(c)
                for i, c in enumerate(part_cols)
            ],
        )
    if deletions:
        dels = local_frame(spark, deletions, "_dv_file string, _dv_pos bigint")
        df = df.join(F.broadcast(dels), ["_dv_file", "_dv_pos"], "left_anti")
    if not keep_meta:
        df = df.drop("_dv_file", "_dv_pos")
    return df


def _partition_lookup(files: list[tuple[str, tuple]], width: int) -> F.Column:
    """Each row's partition values, looked up by its file key
    (``_dv_file``) in a literal built from ``files``: a struct
    ``v0..v{width-1}`` of strings (a NULL value stays NULL), or NULL
    when no pair names the file.  The lookup is part of the row's
    projection: no join, so no broadcast job.

    A map literal is probed by a linear scan of its keys, so the pairs
    are spread over ``len(files)`` small maps by the CRC-32 of the key
    (Python's ``zlib.crc32`` and Spark's ``crc32`` agree on the UTF-8
    bytes); a row probes one map, so the cost per row does not grow
    with the file count.  The literal is one JSON text that
    ``from_json`` parses and the optimizer folds to a constant: one
    driver call however many files there are."""
    import zlib

    n = len(files)
    buckets: list[dict] = [{} for _ in range(n)]
    for key, values in files:
        buckets[zlib.crc32(key.encode()) % n][key] = {
            f"v{i}": None if v is None else str(v) for i, v in enumerate(values)
        }
    vtype = ",".join(f"v{i}:string" for i in range(width))
    table = F.from_json(
        F.lit(json.dumps(buckets)), f"array<map<string,struct<{vtype}>>>"
    )
    key = F.col("_dv_file")
    slot = (F.pmod(F.crc32(key.cast("binary")), F.lit(n)) + 1).cast("int")
    return F.try_element_at(F.element_at(table, slot), key)


#: Delta primitive type name → Spark type (PROTOCOL.md, "Primitive
#: Types"); ``decimal(p,s)`` is parsed, complex types recurse.
_PRIMITIVES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "long": T.LongType(),
    "integer": T.IntegerType(),
    "short": T.ShortType(),
    "byte": T.ByteType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
}
_DECIMAL = re.compile(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_PHYSICAL_NAME = "delta.columnMapping.physicalName"


def _delta_type_to_spark(t, physical: bool = False) -> T.DataType:
    """Delta schemaString type JSON → Spark DataType, the one Delta
    type decoder (see the module docstring's table).  Pure Python: no
    SparkContext, no DDL parser.  Nested field names are the LOGICAL
    ones (a positional cast onto this type renames every nested level
    in one expression), or with ``physical`` the column-mapping
    physical names the files carry."""
    if isinstance(t, str):
        if t in _PRIMITIVES:
            return _PRIMITIVES[t]
        m = _DECIMAL.match(t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        raise UnsupportedFormat(f"unsupported Delta type {t!r}")
    kind = t.get("type")
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(
                    (f.get("metadata") or {}).get(_PHYSICAL_NAME, f["name"])
                    if physical
                    else f["name"],
                    _delta_type_to_spark(f["type"], physical),
                    bool(f.get("nullable", True)),
                )
                for f in t["fields"]
            ]
        )
    if kind == "array":
        return T.ArrayType(
            _delta_type_to_spark(t["elementType"], physical),
            bool(t.get("containsNull", True)),
        )
    if kind == "map":
        return T.MapType(
            _delta_type_to_spark(t["keyType"], physical),
            _delta_type_to_spark(t["valueType"], physical),
            bool(t.get("valueContainsNull", True)),
        )
    raise UnsupportedFormat(f"unsupported Delta type {t!r}")


def _schema_fields(meta: dict) -> list[dict]:
    """A metaData action's schemaString → its top-level field dicts."""
    return json.loads(meta["schemaString"])["fields"]


@dataclass(frozen=True)
class Snapshot:
    """One Delta table version, from one replay (:func:`snapshot`).

    ``active`` maps each active add's log ``path`` to the add action;
    ``txns`` maps a SetTransaction appId to (version, lastUpdated ms);
    ``domains`` maps each live (not removed) domainMetadata domain to
    its action.  ``fields`` are the schemaString's top-level fields,
    ``schema`` their decoded logical Spark type.  ``phys_of`` maps a
    logical top-level name to its column-mapping physical name (empty
    on an unmapped table, whose files carry the logical names);
    ``part_types`` types each partition column."""

    path: str
    version: int
    protocol: dict
    metadata: dict
    active: dict[str, dict]
    txns: dict[str, tuple[int, int]]
    domains: dict[str, dict]
    fields: list[dict]
    schema: T.StructType
    phys_of: dict[str, str]
    part_cols: list[str]
    part_types: dict[str, T.DataType]

    @property
    def log_dir(self) -> str:
        return os.path.join(self.path, "_delta_log")

    @property
    def configuration(self) -> dict:
        return self.metadata.get("configuration") or {}


def snapshot(path: str, version: int | None = None) -> Snapshot:
    """The table at ``path`` as of ``version`` (latest by default):
    one :func:`_replay_log`, decoded once."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise MissingDependency(f"not a Delta table (no _delta_log): {path}")
    v, protocol, meta, active, txns, domains = _replay_log(log_dir, version)
    if meta is None:
        raise MissingDependency(f"Delta log has no metaData action: {path}")
    fields = _schema_fields(meta)
    schema = _delta_type_to_spark({"type": "struct", "fields": fields})
    cfg = meta.get("configuration") or {}
    mapped = cfg.get("delta.columnMapping.mode", "none") in ("name", "id")
    part_cols = list(meta.get("partitionColumns") or [])
    return Snapshot(
        path=path,
        version=v,
        protocol=protocol,
        metadata=meta,
        active=active,
        txns=txns,
        domains=domains,
        fields=fields,
        schema=schema,
        phys_of={
            f["name"]: (f.get("metadata") or {}).get(_PHYSICAL_NAME, f["name"])
            for f in fields
        }
        if mapped
        else {},
        part_cols=part_cols,
        part_types={
            c: schema[c].dataType if c in schema.names else T.StringType()
            for c in part_cols
        },
    )


_COMMIT_FILE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_FILE = re.compile(
    r"^(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10}))?\.parquet$"
)


def _replay_log(log_dir: str, version: int | None = None) -> tuple:
    """Replay checkpoint + JSON commits → (version, protocol, metaData,
    active adds by path, txns, live domains) as of ``version`` (latest
    by default, delta-spark's versionAsOf otherwise).

    One replay-base rule for both: the listing finds the newest
    COMPLETE checkpoint at or below the target (every part of a
    multi-part one present); ``_last_checkpoint`` is only a hint a
    listing makes unnecessary.  Every commit after that checkpoint up
    to the target must be present, or the replay fails loudly — early
    commits may have been cleaned up after checkpointing, and a gap
    would silently drop actions.  Each checkpoint part is read once,
    for its add, metaData, protocol, txn and domainMetadata rows; an
    unreadable one raises."""
    commits: set[int] = set()
    parts: dict[int, dict[int, str]] = {}
    n_parts: dict[int, int] = {}
    for f in os.listdir(log_dir):
        m = _COMMIT_FILE.match(f)
        if m:
            commits.add(int(m.group(1)))
            continue
        m = _CHECKPOINT_FILE.match(f)
        if m:
            v = int(m.group(1))
            parts.setdefault(v, {})[int(m.group(2) or 1)] = f
            n_parts[v] = int(m.group(3) or 1)
    checkpoints = {
        v: [os.path.join(log_dir, p[i]) for i in sorted(p)]
        for v, p in parts.items()
        if sorted(p) == list(range(1, n_parts[v] + 1))
    }
    target = (
        max(commits | set(checkpoints), default=-1)
        if version is None
        else int(version)
    )
    if target < 0:
        raise MissingDependency(f"empty Delta log (no commit): {log_dir}")
    base = max((v for v in checkpoints if v <= target), default=-1)
    missing = sorted(set(range(base + 1, target + 1)) - commits)
    if missing:
        raise MissingDependency(
            f"Delta log replay to version {target} incomplete: commit "
            f"version(s) {missing} missing from {log_dir} (log cleaned "
            "up?); replay base is "
            f"{'checkpoint ' + str(base) if base >= 0 else 'version 0'}"
        )
    state: dict[str, Any] = {
        "protocol": None, "metaData": None, "active": {}, "txns": {},
        "domains": {},
    }
    for cp in checkpoints.get(base, []):
        import pyarrow.parquet as pq

        try:
            rows = pq.read_table(cp).to_pylist()
        except Exception as exc:
            raise UnsupportedFormat(
                f"unreadable Delta checkpoint {cp}: {exc}"
            ) from exc
        for row in rows:
            _apply_action(state, _checkpoint_action(row))
    for v in range(base + 1, target + 1):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if line.strip():
                    _apply_action(state, json.loads(line))
    return (
        target,
        state["protocol"] or {"minReaderVersion": 1, "minWriterVersion": 2},
        state["metaData"],
        state["active"],
        state["txns"],
        {d: a for d, a in state["domains"].items() if not a.get("removed")},
    )


def _apply_action(state: dict, action: dict) -> None:
    """Fold one log action into the replay state (later wins)."""
    if action.get("add"):
        state["active"][action["add"]["path"]] = action["add"]
    elif action.get("remove"):
        state["active"].pop(action["remove"]["path"], None)
    elif action.get("metaData"):
        state["metaData"] = action["metaData"]
    elif action.get("protocol"):
        state["protocol"] = action["protocol"]
    elif action.get("txn"):
        t = action["txn"]
        state["txns"][t["appId"]] = (
            int(t["version"]), int(t.get("lastUpdated") or 0)
        )
    elif action.get("domainMetadata"):
        state["domains"][action["domainMetadata"]["domain"]] = action[
            "domainMetadata"
        ]


def _checkpoint_action(row: dict) -> dict:
    """One checkpoint row → the JSON-commit shape of its action, or
    ``{}``: a checkpoint row carries one non-null action struct (the
    others are NULL or, for columns pyarrow fills, structs of NULLs),
    and pyarrow renders ``map<k,v>`` as pair lists."""
    add = row.get("add")
    if add and add.get("path"):
        if isinstance(add.get("partitionValues"), list):
            add["partitionValues"] = dict(add["partitionValues"])
        dv = add.get("deletionVector")
        if dv is not None and dv.get("storageType") is None:
            add["deletionVector"] = None
        return {"add": add}
    md = row.get("metaData")
    if md and md.get("id"):
        if isinstance(md.get("configuration"), list):
            md["configuration"] = dict(md["configuration"])
        fmt = md.get("format")
        if fmt and isinstance(fmt.get("options"), list):
            fmt["options"] = dict(fmt["options"])
        return {"metaData": md}
    proto = row.get("protocol")
    if proto and proto.get("minReaderVersion") is not None:
        return {"protocol": {k: v for k, v in proto.items() if v is not None}}
    txn = row.get("txn")
    if txn and txn.get("appId"):
        return {"txn": txn}
    dm = row.get("domainMetadata")
    if dm and dm.get("domain"):
        return {"domainMetadata": dm}
    return {}


def _decode_log_path(p: str) -> str:
    """An action's ``path`` (RFC 2396 percent-encoded, see
    delta_write._encode_log_path) → the literal filesystem path
    (relative or absolute)."""
    from urllib.parse import unquote

    return unquote(p)
