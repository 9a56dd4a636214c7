"""Zero-dependency Apache Iceberg WRITER (format-version 2,
unpartitioned).

The reference only reads Iceberg (`iceberg_scan`, src/duckdb/
iceberg.rs); this closes the write loop with the public spec and the
repo's own Avro container writer (sources/avro.py): parquet data files
plus `metadata/` — versioned metadata JSON, an Avro manifest list per
snapshot, Avro manifests whose data_file entries carry record counts
and Appendix-D–encoded column bounds (the exact shape
sources/iceberg_prune.py's data skipping consumes), and
`version-hint.text` for catalog-less discovery.

* ``overwrite`` — new snapshot whose manifest list references ONLY the
  new manifest (prior files unreferenced; prior snapshots stay in the
  metadata for time travel).
* ``append``    — new snapshot whose manifest list carries the prior
  snapshot's manifests plus the new one.

Field ids are assigned 1..n on table creation and REUSED on append
(resolved by name against the current schema).  Append schema
semantics mirror the Delta writer: missing OPTIONAL columns
null-fill, overlapping columns must keep their type, and NEW columns
require the ``mergeSchema`` option — they get FRESH field ids past
last-column-id and a bumped schema id, so id-based readers surface
nulls for them in pre-evolution files (the spec's add-column rule).
Data files are written by executors; only
the O(files) manifest/metadata construction is driver-side, the same
disposition as every Iceberg writer.

How a snapshot is committed lives in three functions:
:func:`_publish_metadata_version` is the only writer of
``v{N}.metadata.json`` (put-if-absent, so a writer that loses a
version race raises ``ConcurrentWriteError`` instead of overwriting the
winner); :func:`_write_manifest` writes a manifest and returns its
manifest-list entry; :func:`_commit_row_delta` is the one merge-on-read
commit of DELETE, UPDATE and MERGE.  There is no catalog: concurrent
writers are detected, not arbitrated (same scope note as
sources/delta_write.py).
"""

from __future__ import annotations

import json
import os
import time
import re
import shutil
import struct
import uuid

# soft import, module-level only because the pandas_udf annotations in
# _bucket_udf resolve through get_type_hints against MODULE globals
# (this file uses `from __future__ import annotations`); every other
# write path works without pandas installed
try:
    import pandas as pd
except ImportError:  # pragma: no cover — pandas ships with pyspark[sql]
    pd = None

from pyspark.sql import DataFrame

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources.avro import read_container, write_container
from pg_analytics_spark.sources.delta_write import _truthy_opt
from pg_analytics_spark.sources.footer_stats import footer_stats
from pg_analytics_spark.types import local_frame

#: Spark typeName → Iceberg primitive type (inverse of the reader map)
_SPARK_TO_ICE = {
    "boolean": "boolean",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
    "string": "string",
    "binary": "binary",
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

_KV = lambda n: {  # noqa: E731
    "type": "array",
    "items": {
        "type": "record",
        "name": n,
        "fields": [
            {"name": "key", "type": "int"},
            {"name": "value", "type": "bytes"},
        ],
    },
}

#: Avro type for an Iceberg partition-source type (identity transform)
_ICE_TO_AVRO = {
    "int": "int",
    "long": "long",
    "string": "string",
    "date": "int",  # days since epoch
}


def _manifest_entry_schema(part_fields: list[dict]) -> dict:
    """Manifest-entry Avro schema; data_file gains a `partition` record
    when the table is partitioned (field names = spec field names)."""
    df_fields = [
        {"name": "content", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
        {"name": "lower_bounds", "type": ["null", _KV("kvl")]},
        {"name": "upper_bounds", "type": ["null", _KV("kvu")]},
    ]
    if part_fields:
        df_fields.insert(
            1,
            {
                "name": "partition",
                "type": {
                    "type": "record",
                    "name": "rp",
                    "fields": [
                        {
                            "name": f["name"],
                            "type": ["null", _ICE_TO_AVRO[f["_ice_type"]]],
                        }
                        for f in part_fields
                    ],
                },
            },
        )
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {"type": "record", "name": "r2", "fields": df_fields},
            },
        ],
    }


def _ice_type(spark_field) -> str:
    t = spark_field.dataType
    name = t.typeName()
    if name in _SPARK_TO_ICE:
        return _SPARK_TO_ICE[name]
    if name == "decimal":
        return f"decimal({t.precision}, {t.scale})"
    raise UnsupportedFormat(
        f"iceberg writer: unsupported column type {name!r} "
        f"({spark_field.name}); nested types need a real Iceberg runtime"
    )


#: repo root, pickled BY VALUE into the upsert staging closure (see
#: arrow_part._REPO_ROOT): its lazy package imports must be resolvable
#: on Python workers that never saw the driver's sys.path.
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _encode_bound(v, ice_type: str) -> bytes | None:
    """Appendix-D single-value binary encoding (the reader's
    _decode_bound inverse) for the bound-carrying primitives."""
    import datetime as dt

    try:
        if ice_type == "int":
            return struct.pack("<i", int(v))
        if ice_type == "date":
            if isinstance(v, dt.date):
                v = (v - dt.date(1970, 1, 1)).days
            return struct.pack("<i", int(v))
        if ice_type == "long":
            return struct.pack("<q", int(v))
        if ice_type.startswith("timestamp"):
            if isinstance(v, dt.datetime):
                epoch = dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
                delta = v - epoch
                # exact integer micros (float total_seconds() rounds
                # at the microsecond for large magnitudes, and a
                # 1 µs-high lower bound would wrongly prune a file)
                v = (
                    delta.days * 86_400 + delta.seconds
                ) * 1_000_000 + delta.microseconds
            return struct.pack("<q", int(v))
        if ice_type == "float":
            return struct.pack("<f", float(v))
        if ice_type == "double":
            return struct.pack("<d", float(v))
        if ice_type == "string":
            return str(v).encode("utf-8")
    except (TypeError, ValueError, OverflowError):
        return None
    return None


def _file_bounds(path: str, fields: list[dict]) -> tuple[list, list, int]:
    """(lower_bounds kv, upper_bounds kv, num_rows) from the parquet
    footer, Appendix-D encoded per field id.  Loud on an unreadable
    footer — the manifest's record_count requires it anyway."""
    bounds, _nulls, num_rows = footer_stats(path)
    lowers, uppers = [], []
    for f in fields:
        if f["name"] not in bounds or not isinstance(f["type"], str):
            continue
        lo, hi = bounds[f["name"]]
        blo = _encode_bound(lo, f["type"])
        bhi = _encode_bound(hi, f["type"])
        if blo is not None and bhi is not None:
            lowers.append({"key": f["id"], "value": blo})
            uppers.append({"key": f["id"], "value": bhi})
    return lowers, uppers, num_rows


#: partition transform spec text: year(c) / months(c) / bucket(16, c) …
_TRANSFORM_RE = re.compile(
    r"^\s*(year|years|month|months|day|days|hour|hours)\s*\(\s*(\w+)\s*\)\s*$"
    r"|^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$",
    re.IGNORECASE,
)

_TRANSFORM_ALIAS = {
    "years": "year", "months": "month", "days": "day", "hours": "hour",
}


def _parse_transform(text: str) -> tuple[str, int | None, str]:
    """``days(ts)`` → ("day", None, "ts"); ``bucket(8, k)`` →
    ("bucket", 8, "k"); a plain column name → ("identity", None, col)."""
    m = _TRANSFORM_RE.match(text)
    if not m:
        return "identity", None, text.strip()
    if m.group(1):
        kind = _TRANSFORM_ALIAS.get(m.group(1).lower(), m.group(1).lower())
        return kind, None, m.group(2)
    param = int(m.group(4))
    if param < 1:
        # bucket(0, c) would be '% 0' inside every write task — refuse
        # here (the single parse choke point) instead of an opaque
        # executor ZeroDivisionError
        raise UnsupportedFormat(
            f"iceberg transform {text!r}: parameter must be >= 1"
        )
    return m.group(3).lower(), param, m.group(5)


def _requested_canon(part_by_entry: str) -> str:
    """One declared partitionBy entry → its canonical
    ``transform(source)`` string, for comparison against a table
    spec's fields."""
    kind, param, src = _parse_transform(part_by_entry)
    return f"{_canonical_transform(kind, param)}({src})"


def _canonical_transform(kind: str, param: int | None) -> str:
    """The spec's transform string (what metadata stores and the
    reader's pruning parses): bucket[N] / truncate[W] / year / …"""
    if kind in ("bucket", "truncate"):
        return f"{kind}[{param}]"
    return kind


def _bucket_udf(n: int):
    """``bucket[N]`` partition values, vectorized: murmur3_x86_32
    (seed 0) over the spec's 8-byte little-endian encoding of the
    value (spec §bucket-transform-details — int/long/date/timestamp
    all hash as 64-bit LE), then ``(h & Int.MaxValue) % N``.  One
    Arrow-batched pandas UDF in numpy uint64 arithmetic — bit-exact
    vs the reader's reference murmur3 (iceberg_prune.murmur3_x86_32,
    property-pinned in tests).  Python touches only the partition
    column, once, at write time.

    TWO inputs — ``(coalesce(v, 0), v IS NULL)`` — so the value
    Series arrives as NON-NULLABLE int64: a nullable int64 Arrow
    batch converts to float64 in pandas, silently rounding any
    |v| > 2^53 (snowflake-scale ids) to the WRONG key before hashing.
    Callers must coalesce JVM-side; the mask restores the NULLs."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    M = np.uint64(0xFFFFFFFF)
    C1 = np.uint64(0xCC9E2D51)
    C2 = np.uint64(0x1B873593)

    def _mix(h, k):
        k = (k * C1) & M
        k = ((k << np.uint64(15)) | (k >> np.uint64(17))) & M
        k = (k * C2) & M
        h = h ^ k
        h = ((h << np.uint64(13)) | (h >> np.uint64(19))) & M
        return (h * np.uint64(5) + np.uint64(0xE6546B64)) & M

    @pandas_udf("int")
    def _bucket(v: pd.Series, isnull: pd.Series) -> pd.Series:
        x = v.to_numpy()
        if x.dtype != np.int64:  # belt-and-braces: exactness or error
            raise ValueError(
                f"bucket hash input must be non-nullable int64, got "
                f"{x.dtype} — coalesce the column JVM-side"
            )
        x = x.view(np.uint64)
        lo = x & M
        hi = (x >> np.uint64(32)) & M
        h = np.zeros(len(x), dtype=np.uint64)
        h = _mix(h, lo)
        h = _mix(h, hi)
        h ^= np.uint64(8)
        h = (h ^ (h >> np.uint64(16))) & M
        h = (h * np.uint64(0x85EBCA6B)) & M
        h = (h ^ (h >> np.uint64(13))) & M
        h = (h * np.uint64(0xC2B2AE35)) & M
        h = (h ^ (h >> np.uint64(16))) & M
        out = pd.Series(
            ((h & np.uint64(0x7FFFFFFF)) % np.uint64(n)).astype("int32")
        )
        out[isnull.to_numpy(dtype=bool)] = None
        return out

    return _bucket


def _bucket_str_udf(n: int):
    """``bucket[N]`` over STRING sources: murmur3_x86_32 (seed 0) over
    the UTF-8 bytes (spec §bucket-transform-details) — bit-exact vs
    the reader's reference hash (``iceberg_prune.murmur3_x86_32``,
    property-pinned in tests).  Arrow-batched; each batch hashes its
    DISTINCT values once and maps (a partition key column is
    low-cardinality by design, so the per-batch distinct set is tiny).
    The hash is defined INSIDE the closure so the UDF pickles by value
    — no package import on the executor (the r8 driver-sim lesson)."""
    from pyspark.sql.functions import pandas_udf

    def _mm3_bytes(data: bytes) -> int:
        c1, c2 = 0xCC9E2D51, 0x1B873593
        h = 0
        nb = len(data)
        for i in range(0, nb - nb % 4, 4):
            k = int.from_bytes(data[i : i + 4], "little")
            k = (k * c1) & 0xFFFFFFFF
            k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
            k = (k * c2) & 0xFFFFFFFF
            h ^= k
            h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
            h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
        tail = data[nb - nb % 4 :]
        if tail:
            k = 0
            if len(tail) >= 3:
                k ^= tail[2] << 16
            if len(tail) >= 2:
                k ^= tail[1] << 8
            k ^= tail[0]
            k = (k * c1) & 0xFFFFFFFF
            k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
            k = (k * c2) & 0xFFFFFFFF
            h ^= k
        h ^= nb
        h ^= h >> 16
        h = (h * 0x85EBCA6B) & 0xFFFFFFFF
        h ^= h >> 13
        h = (h * 0xC2B2AE35) & 0xFFFFFFFF
        h ^= h >> 16
        return h  # unsigned; (h & Int.MaxValue) % n below

    @pandas_udf("int")
    def _bucket(v: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for s in v:
            if s is None or s != s:  # None / NaN
                out.append(None)
                continue
            b = cache.get(s)
            if b is None:
                b = (_mm3_bytes(str(s).encode("utf-8")) & 0x7FFFFFFF) % n
                cache[s] = b
            out.append(b)
        return pd.Series(out, dtype="Int32")

    return _bucket


def _transform_column(kind: str, param: int | None, src: str, src_type: str):
    """(partition-value Column, result iceberg type, default field
    name) for one spec transform — value semantics shared bit-for-bit
    with the reader's ``iceberg_prune.transform_value``.  Result types
    and field naming come from :func:`_transform_result_type` (ONE
    table for both the SparkSession path and the sessionless
    staged-commit path), this function adds only the Column
    expressions."""
    from pyspark.sql import functions as F

    res_t, name = _transform_result_type(kind, param, src, src_type)
    c = F.col(src)
    if kind == "identity":
        return c, res_t, name
    if kind == "year":
        return (F.year(c) - F.lit(1970)).cast("int"), res_t, name
    if kind == "month":
        return (
            ((F.year(c) - F.lit(1970)) * 12 + F.month(c) - F.lit(1)).cast(
                "int"
            ),
            res_t,
            name,
        )
    if kind == "day":
        # result TYPE is date per the spec; the value is the day
        return F.to_date(c), res_t, name
    if kind == "hour":
        us = F.unix_micros(c.cast("timestamp"))
        w = F.lit(3_600_000_000)
        return (
            ((us - F.pmod(us, w)) / w).cast("long").cast("int"),
            res_t,
            name,
        )
    if kind == "truncate":
        if src_type == "string":
            return F.substring(c, 1, param), res_t, name
        w = F.lit(param)
        return (c - F.pmod(c, w)).cast(src_type), res_t, name
    if kind == "bucket":
        if src_type == "string":
            # strings hash over their UTF-8 bytes, not an 8-byte LE
            # encoding — a separate vectorized UDF (reader parity:
            # iceberg_prune._bucket_bytes)
            return _bucket_str_udf(param)(c), res_t, name
        if src_type in ("int", "long"):
            v = c.cast("long")
        elif src_type == "date":
            v = F.datediff(c, F.lit("1970-01-01").cast("date")).cast("long")
        else:  # timestamp — _transform_result_type validated the set
            v = F.unix_micros(c.cast("timestamp"))
        # coalesce JVM-side so the UDF sees non-nullable int64 (see
        # _bucket_udf docstring — nullable batches become float64 and
        # round >2^53 keys); the isNull mask restores NULL partitions
        return (
            _bucket_udf(param)(
                F.coalesce(v, F.lit(0).cast("long")), v.isNull()
            ),
            res_t,
            name,
        )
    raise UnsupportedFormat(f"iceberg partition transform {kind!r}")


def _transform_result_type(
    kind: str, param: int | None, src: str, src_type: str
) -> tuple[str, str]:
    """(result iceberg type, default spec-field name) for a partition
    transform — mirrors :func:`_transform_column`'s result types and
    naming WITHOUT needing a SparkSession (the sessionless
    staged-commit path: the DataSource sink's tasks transform values
    in pure Python via ``iceberg_prune.transform_value``)."""
    tdateish = src_type == "date" or src_type.startswith("timestamp")
    if kind == "identity":
        return src_type, src
    if kind in ("year", "month"):
        if not tdateish:
            raise UnsupportedFormat(
                f"iceberg {kind}({src}) needs a date/timestamp source, "
                f"got {src_type}"
            )
        return "int", f"{src}_{kind}"
    if kind == "day":
        if not tdateish:
            raise UnsupportedFormat(
                f"iceberg day({src}) needs a date/timestamp source, "
                f"got {src_type}"
            )
        return "date", f"{src}_day"
    if kind == "hour":
        if not src_type.startswith("timestamp"):
            raise UnsupportedFormat(
                f"iceberg hour({src}) needs a timestamp source, "
                f"got {src_type}"
            )
        return "int", f"{src}_hour"
    if kind == "truncate":
        if src_type not in ("int", "long", "string"):
            raise UnsupportedFormat(
                f"iceberg truncate[{param}]({src}) on {src_type} "
                "unsupported — int/long/string sources only"
            )
        return src_type, f"{src}_trunc"
    if kind == "bucket":
        if src_type not in ("int", "long", "date", "string") and not (
            src_type.startswith("timestamp")
        ):
            raise UnsupportedFormat(
                f"iceberg bucket[{param}]({src}) on {src_type} "
                "unsupported"
            )
        return "int", f"{src}_bucket"
    raise UnsupportedFormat(f"iceberg partition transform {kind!r}")


def _bounds_for_files(spark, files: list[str], fields) -> dict[str, tuple]:
    """path → (lower_bounds, upper_bounds, num_rows, size) for every
    committed data file.  Large commits compute the parquet-footer
    reads + Appendix-D encoding ON THE EXECUTORS (one Spark job over
    the file list); tiny commits stay driver-side where a job costs
    more than the loop.

    COMMIT-PROTOCOL BOUNDARY: this native writer targets posix-rename
    filesystems (local/NFS shared by driver and executors).  Object
    stores need a real commit protocol — the engine prefers an
    Iceberg runtime when present, which is the supported path for
    s3a:// et al.
    """

    from pg_analytics_spark.sources.delta_write import per_file_on_executors

    def _one(p: str):
        lowers, uppers, rows = _file_bounds(p, fields)
        return p, (lowers, uppers, rows, os.path.getsize(p))

    return per_file_on_executors(spark, files, _one)


def _latest_metadata(meta_dir: str) -> tuple[int, dict | None]:
    if not os.path.isdir(meta_dir):
        return 0, None
    versions = [
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.startswith("v") and f.endswith(".metadata.json")
        and f[1:].split(".")[0].isdigit()
    ]
    if not versions:
        return 0, None
    v = max(versions)
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        return v, json.load(fh)


def _publish_metadata_version(
    path: str, new_meta: dict, prev_version: int
) -> int:
    """The one Iceberg commit point, shared by every writer:
    ``v{prev_version + 1}.metadata.json`` is written to a tmp file and
    hard-linked into place PUT-IF-ABSENT.  A name that already exists
    means a concurrent writer won this version, so the loser raises
    ``ConcurrentWriteError`` instead of overwriting the winner's
    commit.  ``version-hint.text`` follows.  Returns the new version."""
    meta_dir = os.path.join(path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    version = prev_version + 1
    meta_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    tmp = meta_path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(new_meta, fh)
    try:
        os.link(tmp, meta_path)
    except FileExistsError:
        from pg_analytics_spark.errors import ConcurrentWriteError

        raise ConcurrentWriteError(
            f"iceberg metadata version {version} already exists at "
            f"{meta_path} — another writer won the race; retry"
        ) from None
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    hint_tmp = os.path.join(meta_dir, f".hint-{uuid.uuid4().hex}")
    with open(hint_tmp, "w") as fh:
        fh.write(str(version))
    os.replace(hint_tmp, os.path.join(meta_dir, "version-hint.text"))
    return version


def _write_manifest(
    mpath: str,
    schema: dict,
    entries: list[dict],
    spec_id: int,
    content: int,
    seq: int,
    snapshot_id: int,
) -> dict:
    """Write one manifest's ``entries`` (Avro ``schema``) at ``mpath``
    and return that manifest's manifest-list entry (``content`` 0 for
    data files, 1 for delete files)."""
    write_container(schema, entries, mpath)
    return {
        "manifest_path": mpath,
        "manifest_length": os.path.getsize(mpath),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": seq,
        "added_snapshot_id": snapshot_id,
    }


def _added_entry(
    snapshot_id: int,
    content: int,
    file_path: str,
    rows: int,
    size: int,
    lowers=None,
    uppers=None,
    partition: dict | None = None,
    **extra,
) -> dict:
    """An ADDED (status 1) manifest entry for one Parquet file (its
    partition tuple only when given); ``extra`` adds data_file fields
    (``equality_ids``)."""
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "data_file": {
            "content": content,
            "file_path": file_path,
            "file_format": "PARQUET",
            "record_count": rows,
            "file_size_in_bytes": size,
            "lower_bounds": lowers or None,
            "upper_bounds": uppers or None,
            **({} if partition is None else {"partition": partition}),
            **extra,
        },
    }


def _new_snapshot_id() -> int:
    return int(uuid.uuid4().int % (1 << 62)) + 1


def _current_manifests(meta: dict) -> list[dict]:
    """The current snapshot's manifest-list entries (none when the
    table has no current snapshot)."""
    snap = next(
        (
            s
            for s in meta.get("snapshots", [])
            if s["snapshot-id"] == meta.get("current-snapshot-id")
        ),
        None,
    )
    return [] if snap is None else read_container(snap["manifest-list"])[1]


def _default_spec_fields(meta: dict) -> list[dict]:
    """The fields of the table's default partition spec ([] when
    unpartitioned)."""
    return next(
        (
            sp
            for sp in meta.get("partition-specs", [])
            if sp.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        {},
    ).get("fields", [])


#: table-property prefix persisting each streaming app's consumed-epoch
#: high-water mark ALONGSIDE the snapshot summaries — summaries alone
#: die with expire_snapshots, after which a delayed crash-replay of an
#: already-consumed epoch would re-commit duplicates.
_TXN_PROP = "pg-analytics-spark.streaming-epoch."


def _txn_high_water(prev_meta: dict, app_id: str) -> int | None:
    """Max consumed epoch for ``app_id``: snapshot summaries (so
    branch-staged epochs count, the WAP interaction) PLUS the table
    property minted at commit, which survives snapshot expiry."""
    vals = [
        int(s["summary"]["streaming-epoch-id"])
        for s in prev_meta.get("snapshots", [])
        if (s.get("summary") or {}).get("streaming-app-id") == app_id
    ]
    p = (prev_meta.get("properties") or {}).get(_TXN_PROP + app_id)
    if p is not None:
        vals.append(int(p))
    return max(vals, default=None)


def _txn_props_update(props: dict, txn) -> dict:
    """Advance (never lower) the app's property high-water mark on a
    txn commit; mutates and returns ``props``."""
    if txn is not None:
        key = _TXN_PROP + str(txn[0])
        wm = int(txn[1])
        prev = props.get(key)
        if prev is not None:
            wm = max(wm, int(prev))
        props[key] = str(wm)
    return props


def _typed_partition_value(v, ice_type: str):
    """Manifest-typed partition value from a write-kernel raw value
    (int/str/None; dates already epoch days)."""
    if v is None:
        return None
    if ice_type in ("int", "long", "date"):
        return int(v)
    return str(v)


def _iceberg_files(
    batches, data_dir: str, fields: list[dict], prefix: str,
    file_bounds=None, **kw,
):
    """Worker side of every native Iceberg data-file write:
    ``arrow_part.write_partitioned`` into ``data/`` (files named
    ``{prefix}-{uuid}.parquet``) with Appendix-D footer bounds.
    ``file_bounds`` replaces ``_file_bounds``; ``kw`` (``data_idx``,
    ``key_fn``, ``compression``, ``max_open``) go to the kernel.
    Yields ``(key, dst, size, rows, lowers, uppers)`` per file."""
    import uuid as _uuid

    from pg_analytics_spark.sources.arrow_part import write_partitioned

    file_bounds = file_bounds or _file_bounds
    for f in write_partitioned(
        batches,
        data_dir,
        name_of=lambda key: f"{prefix}-{_uuid.uuid4().hex}.parquet",
        **kw,
    ):
        lowers, uppers, _rows = file_bounds(f.dst, fields)
        yield f.key, f.dst, f.size, f.rows, lowers, uppers


def _write_data_files_direct(
    out_df: DataFrame,
    n_data_cols: int,
    data_dir: str,
    snapshot_id: int,
    fields: list[dict],
    compression: str,
) -> list[tuple]:
    """Distributed DIRECT data-file write — one Spark job, one pass.

    ``out_df`` carries the table columns first and the partition
    transform values as trailing ``_pN`` columns (none for an
    unpartitioned write).  Each task writes its rows through
    ``_iceberg_files``: one parquet file per partition tuple straight
    into ``data/`` under a commit-unique name, with the footer bounds
    computed in the same task.

    Returns ``[(partition_values_raw, dst, rows, size, lowers,
    uppers)]`` where raw partition values are int/str/None (dates as
    epoch days).  Rows-free input writes no file.
    """
    import datetime as dt

    from pg_analytics_spark.sources.arrow_part import map_files, shippable

    bounds_ref = shippable(_file_bounds)
    partitioned = len(out_df.columns) > n_data_cols

    def _write_task(batches):
        from pg_analytics_spark.sources.arrow_part import resolve
        from pg_analytics_spark.sources.iceberg_write import _iceberg_files

        return _iceberg_files(
            batches,
            data_dir,
            fields,
            str(snapshot_id),
            data_idx=list(range(n_data_cols)),
            key_fn=(lambda b: b.columns[n_data_cols:]) if partitioned else None,
            compression=compression,
            file_bounds=resolve(bounds_ref),
        )

    files = map_files(out_df, _write_task, data_dir)
    epoch = dt.date(1970, 1, 1)
    return [
        (
            [(v - epoch).days if isinstance(v, dt.date) else v for v in key],
            dst, rows, size, lowers, uppers,
        )
        for key, dst, size, rows, lowers, uppers in files
    ]


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
    options: dict | None = None,
    branch: str | None = None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Write ``df`` as one Iceberg v2 snapshot at ``path``.

    ``txn=(app_id, epoch)`` makes the commit IDEMPOTENT for streaming
    sinks — the mechanism Iceberg's Spark streaming writer uses: the
    snapshot summary records the writer's app id and epoch id, and a
    commit whose epoch is ≤ the highest already recorded for that app
    id (across ALL snapshots, so branch-staged commits count) returns
    ``{"skipped_txn": True}`` without touching the table.  A
    crash-replayed foreachBatch therefore commits nothing twice,
    giving exactly-once at the TABLE level — the Iceberg twin of the
    Delta writer's SetTransaction actions.

    ``branch`` targets the commit at a BRANCH instead of main — the
    Write-Audit-Publish pattern (Iceberg's ``spark.wap.branch``): the
    snapshot's parent is the branch head (created at the current main
    head if the branch does not exist), ``refs[branch]`` advances,
    and ``current-snapshot-id`` (what plain readers see) is
    UNTOUCHED until :func:`fast_forward_iceberg` publishes the branch
    — audits read the branch via the reader's ``ref`` option /
    ``VERSION AS OF '<branch>'``.  Branch writes require an existing
    table (a first commit has nothing to keep main at) and refuse a
    TAG name (immutable).

    ``partition_by`` entries are spec transforms: a plain column name
    (identity), ``year(c)``/``month(c)``/``days(c)``/``hours(c)``,
    ``bucket(N, c)`` (murmur3 over the spec's 8-byte LE encodings,
    int/long/date/timestamp sources), and ``truncate(W, c)``
    (int/long/string).  Each file's TYPED partition tuple lands in the
    manifest, so the reader's ``partition_filter`` prunes at the
    MANIFEST level through the same transforms
    (``iceberg_prune.transform_value`` — value semantics shared
    bit-for-bit); data files keep the source columns (the write
    stages through duplicated dir columns carrying the transform
    values, since Spark's partitionBy drops dir columns from files).
    On append the existing spec is reused (names and field-ids carried
    forward so no new spec-id is minted); a different partition_by is
    rejected.  Returns {"snapshot_id": id, "files": n, "rows": n}.
    """
    import time as _time

    if mode not in ("overwrite", "append"):
        raise UnsupportedFormat(f"iceberg write mode {mode!r}")
    # None = inherit the table's spec; [] = explicitly unpartitioned
    explicit_parts = partition_by is not None
    part_cols = (
        [partition_by] if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    # format-version: declared at creation (options {"format-version":
    # 3} mints a v3 table whose DELETEs are deletion vectors);
    # existing tables keep theirs — in-place up/downgrade is a
    # migration this writer does not do
    fv_req = (options or {}).get("format-version")
    if prev_meta is None:
        fmt_version = int(fv_req) if fv_req is not None else 2
        if fmt_version not in (2, 3):
            raise UnsupportedFormat(
                f"iceberg format-version {fmt_version} is not supported "
                "(2 or 3)"
            )
    else:
        fmt_version = int(prev_meta.get("format-version", 2))
        if fv_req is not None and int(fv_req) != fmt_version:
            raise UnsupportedFormat(
                f"table is format-version {fmt_version}; in-place "
                "conversion is not supported — recreate at a new path"
            )
    schema_id = 0
    prev_schemas: list[dict] = []
    if branch is not None:
        if prev_meta is None:
            raise UnsupportedFormat(
                "branch write needs an existing table (a first commit "
                "has nothing to keep main at)"
            )
        existing = (prev_meta.get("refs") or {}).get(branch)
        if existing is not None and existing.get("type") == "tag":
            raise UnsupportedFormat(
                f"ref {branch!r} is a TAG — tags are immutable"
            )
        if branch == "main":
            raise UnsupportedFormat("the ref name 'main' is reserved")
    if txn is not None and prev_meta is not None:
        last = _txn_high_water(prev_meta, txn[0])
        if last is not None and int(txn[1]) <= last:
            return {
                "snapshot_id": None,
                "files": 0,
                "rows": 0,
                "skipped_txn": True,
            }
    if prev_meta is None:
        mode = "overwrite"
        fields = [
            {"id": i + 1, "name": f.name, "type": _ice_type(f), "required": False}
            for i, f in enumerate(df.schema.fields)
        ]
    else:
        prev_schemas = list(prev_meta.get("schemas", []))
        schema_id = prev_meta.get("current-schema-id", 0)
        cur_schema = next(
            s for s in prev_schemas if s.get("schema-id") == schema_id
        )
        fields = cur_schema["fields"]
        # compare (name, type) SHAPE — a same-name type change is a
        # schema change too (names-only comparison would write string
        # data under a long-typed metadata entry: silent corruption)
        have = {(f["name"], f["type"]) for f in fields}
        want = {(f.name, _ice_type(f)) for f in df.schema.fields}
        if have != want:
            if mode == "append":
                # delta-writer-symmetric append semantics: missing
                # OPTIONAL table columns null-fill; overlapping names
                # must keep their type; NEW columns need mergeSchema
                # and evolve the schema with FRESH field ids (old data
                # files simply lack the id — id-based readers surface
                # nulls, the spec's add-column rule)
                from pyspark.sql import functions as F

                from pg_analytics_spark.sources.iceberg import (
                    _ice_to_spark_type,
                )

                df_types = {f.name: _ice_type(f) for f in df.schema.fields}
                cols = []
                for tf in fields:
                    name = tf["name"]
                    if name in df_types:
                        if df_types[name] != tf["type"]:
                            raise UnsupportedFormat(
                                f"iceberg append type mismatch on "
                                f"{name!r}: table has {tf['type']}, "
                                f"dataframe has {df_types[name]}"
                            )
                        cols.append(F.col(name))
                    elif tf.get("required"):
                        raise UnsupportedFormat(
                            f"iceberg append missing REQUIRED column "
                            f"{name!r}"
                        )
                    else:
                        spark_t = _ice_to_spark_type(tf["type"])
                        if spark_t is None:
                            raise UnsupportedFormat(
                                f"iceberg append cannot null-fill "
                                f"{name!r} ({tf['type']})"
                            )
                        cols.append(
                            F.lit(None).cast(spark_t).alias(name)
                        )
                table_names = {f["name"] for f in fields}
                new_sfields = [
                    f for f in df.schema.fields
                    if f.name not in table_names
                ]
                if new_sfields and not _truthy_opt(
                    (options or {}).get("mergeSchema")
                ):
                    raise UnsupportedFormat(
                        "iceberg append has new columns "
                        f"{[f.name for f in new_sfields]} — pass "
                        "options={'mergeSchema': 'true'} to evolve the "
                        "table schema, or drop them"
                    )
                if new_sfields:
                    next_id = prev_meta.get(
                        "last-column-id", max(f["id"] for f in fields)
                    )
                    fields = list(fields)
                    for f in new_sfields:
                        next_id += 1
                        fields.append(
                            {
                                "id": next_id,
                                "name": f.name,
                                "type": _ice_type(f),
                                "required": False,
                            }
                        )
                        cols.append(F.col(f.name))
                    schema_id = (
                        max(s.get("schema-id", 0) for s in prev_schemas)
                        + 1
                    )
                df = df.select(*cols)
            else:
                # overwrite is a logical replace: evolve per the spec's
                # rule — reuse the field id ONLY for a same-name column
                # of the SAME type (a type change is drop+add: new id,
                # since id-based readers would otherwise bind old
                # data/bounds to the new type); fresh ids come from
                # last-column-id, which stays MONOTONIC across drops so
                # dropped ids are never reused.  NOTE the fallback
                # reader conforms ALL snapshots to the CURRENT schema,
                # so time travel across a shape-changing overwrite
                # reads old files through the new schema (adds surface
                # as NULLs) — documented reader limitation.
                prev_ids = {(f["name"], f["type"]): f["id"] for f in fields}
                next_id = prev_meta.get(
                    "last-column-id", max(f["id"] for f in fields)
                )
                new_fields = []
                for f in df.schema.fields:
                    key = (f.name, _ice_type(f))
                    if key in prev_ids:
                        fid_ = prev_ids[key]
                    else:
                        next_id += 1
                        fid_ = next_id
                    new_fields.append(
                        {
                            "id": fid_,
                            "name": f.name,
                            "type": _ice_type(f),
                            "required": False,
                        }
                    )
                fields = new_fields
                schema_id = (
                    max(s.get("schema-id", 0) for s in prev_schemas) + 1
                )

    fid = {f["name"]: f["id"] for f in fields}
    ftype = {f["name"]: f["type"] for f in fields}
    id_to_name = {f["id"]: f["name"] for f in fields}
    # (kind, param, src, prev_spec_field|None) per partition field —
    # prev_spec_field carries names/field-ids forward on append so the
    # spec compares IDENTICAL and no new spec-id is minted
    part_entries: list[tuple] = [
        (*_parse_transform(c), None) for c in part_cols
    ]
    if prev_meta is not None:
        prev_entries: list[tuple] = []
        missing_sources = []
        for pf in _default_spec_fields(prev_meta):
            src = id_to_name.get(pf["source-id"])
            tr = pf.get("transform", "identity")
            if src is None:
                missing_sources.append(pf.get("name", pf["source-id"]))
                continue
            if tr.startswith("bucket["):
                prev_entries.append(("bucket", int(tr[7:-1]), src, pf))
            elif tr.startswith("truncate["):
                prev_entries.append(("truncate", int(tr[9:-1]), src, pf))
            else:
                prev_entries.append((tr, None, src, pf))
        prev_canon = [
            f"{_canonical_transform(k, p)}({s})"
            for k, p, s, _ in prev_entries
        ]
        req_canon = [
            f"{_canonical_transform(k, p)}({s})"
            for k, p, s, _ in part_entries
        ]
        if mode == "append" and explicit_parts and req_canon != prev_canon:
            raise UnsupportedFormat(
                f"iceberg append partition mismatch: table spec is "
                f"{prev_canon}, requested {req_canon}"
            )
        if not explicit_parts:
            if missing_sources:
                # the overwrite evolved away (or retyped) a partition
                # source column; inheriting the spec is impossible —
                # demand an explicit choice instead of dying obscurely
                raise UnsupportedFormat(
                    f"overwrite drops/retypes partition source column(s) "
                    f"{missing_sources}; pass partition_by explicitly "
                    "(e.g. partition_by=[] for an unpartitioned rewrite)"
                )
            part_entries = prev_entries
        elif mode == "append":
            part_entries = prev_entries  # same spec — reuse ids/names
    part_fields: list[dict] = []
    part_exprs = []
    for i, (kind, param, src, prev_pf) in enumerate(part_entries):
        t = ftype.get(src)
        if t is None:
            raise UnsupportedFormat(
                f"iceberg partition source column {src!r} not in schema"
            )
        expr, res_t, default_name = _transform_column(kind, param, src, t)
        if res_t not in _ICE_TO_AVRO:
            raise UnsupportedFormat(
                f"iceberg partitioning "
                f"{_canonical_transform(kind, param)}({src}) result type "
                f"{res_t!r} unsupported — int/long/string/date results only"
            )
        part_fields.append(
            {
                "source-id": prev_pf["source-id"] if prev_pf else fid[src],
                "field-id": prev_pf["field-id"] if prev_pf else 1000 + i,
                "name": prev_pf["name"] if prev_pf else default_name,
                "transform": _canonical_transform(kind, param),
                "_ice_type": res_t,
            }
        )
        part_exprs.append(expr)

    # ---- partition-spec identity: specs are IMMUTABLE per the spec —
    # changing the partitioning mints a new spec-id so old snapshots'
    # manifests keep decoding against the spec they were written with
    spec_fields_public = [
        {k: v for k, v in pf.items() if not k.startswith("_")}
        for pf in part_fields
    ]
    prev_specs = list((prev_meta or {}).get("partition-specs", []))
    spec_id = None
    for s in prev_specs:
        if s.get("fields", []) == spec_fields_public:
            spec_id = s["spec-id"]
            break
    if spec_id is None:
        spec_id = (
            max((s.get("spec-id", 0) for s in prev_specs), default=-1) + 1
        )
        partition_specs = prev_specs + [
            {"spec-id": spec_id, "fields": spec_fields_public}
        ]
    else:
        partition_specs = prev_specs or [
            {"spec-id": spec_id, "fields": spec_fields_public}
        ]

    # ---- data files: DIRECT distributed write (r13 optimization,
    # guide §1.2 "distributed algorithm" + §6 file layout).  Each task
    # splits its Arrow batches by partition tuple and writes one
    # parquet file per tuple straight into data/ under a
    # commit-unique name, computing footer bounds in the same task —
    # one pass, no staging dir, no Hadoop committer rename storm, no
    # second footer-stats job.  Snapshot atomicity is unchanged: the
    # METADATA swap is the commit; a crash before it leaves
    # unreferenced files, the orphan class remove_orphan_files owns.
    out_df = df
    if part_entries:
        # DUPLICATED transform columns (trailing _pN) carry the
        # partition VALUES (identity: a copy; year/month/day/hour/
        # bucket/truncate: the computed value, matching the reader's
        # transform_value bit-for-bit); the write kernel groups by
        # them and excludes them from the data files (Iceberg keeps
        # source columns in the data)
        dir_cols = [f"_p{i}" for i in range(len(part_entries))]
        for dc, e in zip(dir_cols, part_exprs):
            out_df = out_df.withColumn(dc, e)
    os.makedirs(data_dir, exist_ok=True)
    snapshot_id = _new_snapshot_id()
    compression = str((options or {}).get("compression", "snappy"))
    files = _write_data_files_direct(
        out_df, len(df.columns), data_dir, snapshot_id, fields, compression
    )
    if not files and not part_entries:
        # an empty UNPARTITIONED commit publishes one schema-only file
        # (Iceberg readers treat a snapshot with no live data file as
        # corrupt)
        from pg_analytics_spark.sources.arrow_part import write_empty

        dst = os.path.join(
            data_dir, f"{snapshot_id}-{uuid.uuid4().hex}.parquet"
        )
        write_empty(out_df.schema, dst, compression)
        files = [([], dst, 0, os.path.getsize(dst), [], [])]
    entries = [
        _added_entry(
            snapshot_id, 0, dst, rows, size, lowers, uppers,
            partition={
                pf["name"]: _typed_partition_value(v, pf["_ice_type"])
                for v, pf in zip(parts_raw, part_fields)
            }
            or None,
        )
        for parts_raw, dst, rows, size, lowers, uppers in files
    ]
    n_rows = sum(f[2] for f in files)
    seq = (prev_meta or {}).get("last-sequence-number", 0) + 1
    os.makedirs(meta_dir, exist_ok=True)
    mf_entries = [
        _write_manifest(
            os.path.join(meta_dir, f"man-{snapshot_id}.avro"),
            _manifest_entry_schema(part_fields),
            entries,
            spec_id, 0, seq, snapshot_id,
        )
    ]
    if mode == "append" and prev_meta is not None:
        # the parent is the BRANCH head when this is a branch write
        # (falling back to main for a just-created branch)
        head_id = prev_meta["current-snapshot-id"]
        if branch is not None:
            ref = (prev_meta.get("refs") or {}).get(branch)
            if ref is not None:
                head_id = ref["snapshot-id"]
        prev_snap = next(
            s
            for s in prev_meta["snapshots"]
            if s["snapshot-id"] == head_id
        )
        _schema, prev_list = read_container(prev_snap["manifest-list"])
        mf_entries = list(prev_list) + mf_entries
    mlist = os.path.join(meta_dir, f"snap-{snapshot_id}.avro")
    write_container(_MANIFEST_LIST_SCHEMA, mf_entries, mlist)

    now_ms = int(_time.time() * 1000)
    snapshots = list((prev_meta or {}).get("snapshots", []))
    parent_id = None
    if prev_meta is not None:
        parent_id = prev_meta.get("current-snapshot-id")
        if branch is not None:
            ref = (prev_meta.get("refs") or {}).get(branch)
            if ref is not None:
                parent_id = ref["snapshot-id"]
    snap_entry = {
        "snapshot-id": snapshot_id,
        "manifest-list": mlist,
        "timestamp-ms": now_ms,
        "sequence-number": seq,
        "summary": {
            "operation": mode,
            **(
                {
                    "streaming-app-id": txn[0],
                    "streaming-epoch-id": str(int(txn[1])),
                }
                if txn is not None
                else {}
            ),
        },
    }
    if parent_id is not None:
        snap_entry["parent-snapshot-id"] = parent_id
    snapshots.append(snap_entry)
    log = list((prev_meta or {}).get("snapshot-log", []))
    log.append({"snapshot-id": snapshot_id, "timestamp-ms": now_ms})
    # table properties survive data commits (ALTER writes
    # schema.name-mapping.default here; dropping it would break name
    # resolution of files written before a RENAME COLUMN) — and any
    # field this commit minted (mergeSchema evolution) must JOIN an
    # existing mapping, or its id-less files would null-fill on read
    props = _txn_props_update(
        dict((prev_meta or {}).get("properties", {})), txn
    )
    if props.get("schema.name-mapping.default"):
        nm = json.loads(props["schema.name-mapping.default"])
        by_id = {e.get("field-id"): e for e in nm}
        for f in fields:
            e = by_id.get(f["id"])
            if e is not None and f["name"] in e.get("names", []):
                continue
            # a name owned by ANOTHER field id would be era-ambiguous
            # on id-less files — refuse loudly (alter_iceberg's rule)
            for other in nm:
                if other is not e and f["name"] in other.get("names", []):
                    raise UnsupportedFormat(
                        f"column name {f['name']!r} was previously used "
                        f"by field id {other.get('field-id')} — on "
                        "id-less data files a reused name cannot be "
                        "told apart across schema eras; choose a "
                        "different name"
                    )
            if e is None:
                nm.append({"field-id": f["id"], "names": [f["name"]]})
            else:
                e["names"] = list(e.get("names", [])) + [f["name"]]
        props["schema.name-mapping.default"] = json.dumps(nm)
    meta = {
        "format-version": fmt_version,
        "table-uuid": (prev_meta or {}).get("table-uuid", str(uuid.uuid4())),
        "properties": props,
        "location": path,
        "last-sequence-number": seq,
        # MONOTONIC across drops: a dropped column's id must never be
        # reused by a later add (id-based readers would bind the old
        # column's data/bounds to the new one)
        "last-column-id": max(
            (prev_meta or {}).get("last-column-id", 0),
            max(f["id"] for f in fields),
        ),
        "current-snapshot-id": (
            prev_meta["current-snapshot-id"]
            if branch is not None
            else snapshot_id
        ),
        "current-schema-id": schema_id,
        "schemas": (
            [s for s in prev_schemas if s.get("schema-id") != schema_id]
            + [{"schema-id": schema_id, "fields": fields}]
        ),
        "partition-specs": partition_specs,
        "default-spec-id": spec_id,
        # v2 TableMetadata requires both; standard tooling mints new
        # partition field ids from last-partition-id (r9 ADVICE)
        "last-partition-id": _last_partition_field_id(partition_specs),
        "last-updated-ms": int(time.time() * 1000),
        # named refs (tags/branches) survive every data commit; a
        # BRANCH write advances its ref instead of main (WAP, r10)
        "refs": _refs_after_commit(prev_meta, branch, snapshot_id),
        "snapshots": snapshots,
        "snapshot-log": log,
        # Puffin statistics entries are keyed by snapshot and survive
        # every data commit (the spec carries them until the snapshot
        # expires) — this metadata is rebuilt field-by-field, so the
        # carry must be explicit
        **(
            {"statistics": prev_meta["statistics"]}
            if (prev_meta or {}).get("statistics")
            else {}
        ),
    }
    _publish_metadata_version(path, meta, prev_version)
    return {"snapshot_id": snapshot_id, "files": len(entries), "rows": n_rows}


def _last_partition_field_id(specs: list[dict]) -> int:
    """Highest partition field id across ALL specs (v2: the shared
    sequence floor is 999 for unpartitioned tables) — standard Iceberg
    tooling mints the next partition field id from this value, so
    omitting or under-reporting it risks colliding field ids."""
    return max(
        [999]
        + [
            pf.get("field-id", 999)
            for s in specs
            for pf in s.get("fields", [])
        ]
    )


def _name_mapping(meta: dict, fields: list[dict]) -> list[dict]:
    """The table's ``schema.name-mapping.default`` entries (spec:
    "Name Mapping Serialization"), seeded from the CURRENT schema when
    the property does not exist yet — every on-disk column name this
    writer has ever produced equals some current field name at seed
    time, so seeding before the first rename captures them all."""
    raw = (meta.get("properties") or {}).get("schema.name-mapping.default")
    if raw:
        return json.loads(raw)
    return [{"field-id": f["id"], "names": [f["name"]]} for f in fields]


def alter_iceberg(
    path: str,
    *,
    add: tuple[str, str] | None = None,
    rename: tuple[str, str] | None = None,
    drop: str | None = None,
) -> dict:
    """``ALTER TABLE`` on a native Iceberg v2 table — one
    schema-evolution metadata version per call (pure metadata: no data
    file or manifest is touched, no snapshot is added).

    * ``add=(name, type)`` — new OPTIONAL field with a FRESH field id
      past ``last-column-id`` (monotonic across drops, the spec's
      never-reuse rule); old files lack the id and read as NULLs.
    * ``rename=(old, new)`` — same field id, new name.  Data files
      this writer stages carry no ``PARQUET:field_id`` annotations, so
      resolution of pre-rename files rides the spec's
      ``schema.name-mapping.default`` table property: the mapping is
      seeded from the pre-alter schema (on-disk name → field id) and
      the new name is appended to the field's names list — the reader
      (sources/iceberg.py::_scan_files) consults it for any file
      without footer ids.
    * ``drop=name`` — field removed from the current schema (files
      keep the column; id-based conformance drops it on read).
      Partition source fields are refused.

    Reference scope: the reference reads Iceberg only
    (src/duckdb/iceberg.rs); evolution DDL mirrors the Iceberg spec's
    schema-evolution rules as additive parity-plus.
    Returns {"version": n, "schema_id": s, "operation": ...}.
    """
    if sum(x is not None for x in (add, rename, drop)) != 1:
        raise UnsupportedFormat(
            "alter_iceberg takes exactly one of add=/rename=/drop="
        )
    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(f"no Iceberg table at {path}")
    schemas = list(prev_meta.get("schemas", []))
    cur_id = prev_meta.get("current-schema-id", 0)
    cur = next(s for s in schemas if s.get("schema-id") == cur_id)
    fields = [dict(f) for f in cur["fields"]]
    names = [f["name"] for f in fields]
    nm = _name_mapping(prev_meta, fields)
    last_col = max(
        prev_meta.get("last-column-id", 0),
        max(f["id"] for f in fields),
    )

    def _nm_guard(name: str, fid_ok: int | None = None) -> None:
        """Refuse a column name that any OTHER field-id already owns
        in the name mapping: this writer's data files carry no footer
        field ids, so an id-less file's column binds by NAME — a
        reused name would either leak the dropped field's old data
        into the new column or null the new column's own data,
        depending on which id the mapping keeps.  Neither is
        acceptable silently; pick a fresh name (the spec-clean path
        needs id-stamped files)."""
        for e in nm:
            if name in e.get("names", []) and e.get("field-id") != fid_ok:
                raise UnsupportedFormat(
                    f"column name {name!r} was previously used by field "
                    f"id {e.get('field-id')} — on id-less data files a "
                    "reused name cannot be told apart across schema "
                    "eras; choose a different name"
                )

    if add is not None:
        col, type_str = add
        if col in names:
            raise UnsupportedFormat(f"ADD COLUMN: {col!r} already exists")
        from pyspark.sql import types as T

        from pg_analytics_spark.types import duckdb_type_to_spark

        ice_t = _ice_type(
            T.StructField(col, duckdb_type_to_spark(type_str))
        )
        last_col += 1
        fields.append(
            {"id": last_col, "name": col, "type": ice_t, "required": False}
        )
        _nm_guard(col)
        nm.append({"field-id": last_col, "names": [col]})
        op = "ADD COLUMNS"
    elif rename is not None:
        old, new = rename
        if old not in names:
            raise UnsupportedFormat(f"RENAME COLUMN: no column {old!r}")
        if new in names:
            raise UnsupportedFormat(
                f"RENAME COLUMN: target {new!r} already exists"
            )
        fid = next(f["id"] for f in fields if f["name"] == old)
        for f in fields:
            if f["id"] == fid:
                f["name"] = new
        _nm_guard(new, fid_ok=fid)  # a dropped column may own this name
        for e in nm:
            if e.get("field-id") == fid and new not in e.get("names", []):
                e["names"] = list(e.get("names", [])) + [new]
        op = "RENAME COLUMN"
    else:
        if drop not in names:
            raise UnsupportedFormat(f"DROP COLUMN: no column {drop!r}")
        if len(fields) == 1:
            raise UnsupportedFormat(
                "DROP COLUMN: cannot drop the only column"
            )
        fid = next(f["id"] for f in fields if f["name"] == drop)
        if any(
            pf.get("source-id") == fid
            for pf in _default_spec_fields(prev_meta)
        ):
            raise UnsupportedFormat(
                f"DROP COLUMN: {drop!r} is a partition source field"
            )
        fields = [f for f in fields if f["id"] != fid]
        # the name-mapping entry stays: files on disk keep the column,
        # and the never-reused id keeps it from binding to anything
        op = "DROP COLUMNS"

    new_schema_id = max(s.get("schema-id", 0) for s in schemas) + 1
    meta = dict(prev_meta)
    meta["schemas"] = schemas + [
        {"schema-id": new_schema_id, "fields": fields}
    ]
    meta["current-schema-id"] = new_schema_id
    meta["last-column-id"] = last_col
    meta["last-updated-ms"] = int(time.time() * 1000)
    props = dict(prev_meta.get("properties") or {})
    props["schema.name-mapping.default"] = json.dumps(nm)
    meta["properties"] = props

    version = _publish_metadata_version(path, meta, prev_version)
    return {"version": version, "schema_id": new_schema_id, "operation": op}


def alter_iceberg_partition(
    path: str, partition_by: str | list[str] | None
) -> dict:
    """PARTITION EVOLUTION — ``ALTER TABLE … ADD/REPLACE PARTITION
    FIELD`` semantics as one pure-metadata version: the requested
    transforms become a NEW immutable spec (or rebind to an existing
    identical one) and ``default-spec-id`` flips to it.  NO data file
    moves: files already written keep their original spec — manifests
    carry ``partition_spec_id`` and the reader prunes EACH manifest
    under the spec it was written with (sources/iceberg.py:238,
    iceberg_prune.spec_fields_for) — while appends from now on lay
    out and prune under the new spec.  That per-manifest duality IS
    Iceberg's headline over hive layouts at 100 TB: repartitioning a
    petabyte table is a metadata flip, not a rewrite.  Spec field ids
    mint past every id used by ANY spec (the v2 shared-sequence
    rule).  ``partition_by=None``/``[]`` evolves to unpartitioned.
    Returns {"version", "spec_id", "fields"}."""
    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(f"no Iceberg table at {path}")
    part_cols = (
        [partition_by]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    cur = next(
        s
        for s in prev_meta.get("schemas", [])
        if s.get("schema-id") == prev_meta.get("current-schema-id", 0)
    )
    fid = {f["name"]: f["id"] for f in cur["fields"]}
    ftype = {f["name"]: f["type"] for f in cur["fields"]}
    prev_specs = list(prev_meta.get("partition-specs", []))
    next_pfid = max(
        [999]
        + [
            pf.get("field-id", 999)
            for s in prev_specs
            for pf in s.get("fields", [])
        ]
    )
    spec_fields: list[dict] = []
    for c in part_cols:
        kind, param, src = _parse_transform(c)
        t = ftype.get(src)
        if t is None:
            raise UnsupportedFormat(
                f"iceberg partition source column {src!r} not in schema"
            )
        _expr, res_t, default_name = _transform_column(kind, param, src, t)
        if res_t not in _ICE_TO_AVRO:
            raise UnsupportedFormat(
                f"iceberg partitioning "
                f"{_canonical_transform(kind, param)}({src}) result type "
                f"{res_t!r} unsupported — int/long/string/date results "
                "only"
            )
        next_pfid += 1
        spec_fields.append(
            {
                "source-id": fid[src],
                "field-id": next_pfid,
                "name": default_name,
                "transform": _canonical_transform(kind, param),
            }
        )
    spec_id = None
    for s in prev_specs:
        if [
            {k: pf[k] for k in ("source-id", "name", "transform")}
            for pf in s.get("fields", [])
        ] == [
            {k: pf[k] for k in ("source-id", "name", "transform")}
            for pf in spec_fields
        ]:
            spec_id = s["spec-id"]  # identical spec exists: rebind
            break
    if spec_id is None:
        spec_id = max((s.get("spec-id", 0) for s in prev_specs), default=-1) + 1
        prev_specs = prev_specs + [
            {"spec-id": spec_id, "fields": spec_fields}
        ]
    meta = dict(prev_meta)
    meta["partition-specs"] = prev_specs
    meta["default-spec-id"] = spec_id
    meta["last-partition-id"] = _last_partition_field_id(prev_specs)
    meta["last-updated-ms"] = int(time.time() * 1000)
    version = _publish_metadata_version(path, meta, prev_version)
    return {
        "version": version,
        "spec_id": spec_id,
        "fields": [f["name"] for f in spec_fields],
    }


def alter_iceberg_properties(
    path: str,
    set_props: dict[str, str] | None = None,
    unset_props: list[str] | None = None,
) -> dict:
    """``ALTER TABLE … SET/UNSET TBLPROPERTIES`` — a new metadata
    version updating the table ``properties`` map (no snapshot).
    ``schema.name-mapping.default`` is refused: it encodes physical
    column resolution and is maintained by alter_iceberg/write_iceberg
    — hand-editing it would silently re-bind on-disk columns."""
    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(f"no Iceberg table at {path}")
    for k in list(set_props or {}) + list(unset_props or []):
        if k == "schema.name-mapping.default":
            raise UnsupportedFormat(
                "SET TBLPROPERTIES: schema.name-mapping.default is "
                "maintained by ALTER TABLE RENAME/ADD COLUMN — editing "
                "it directly would re-bind on-disk columns"
            )
    props = dict(prev_meta.get("properties") or {})
    props.update({k: str(v) for k, v in (set_props or {}).items()})
    for k in unset_props or []:
        props.pop(k, None)
    meta = dict(prev_meta)
    meta["properties"] = props
    version = _publish_metadata_version(path, meta, prev_version)
    return {"version": version, "properties": props}


def _scan_snapshot_files(prev_list, with_dvs: bool = False):
    """Walk a snapshot's manifests → (data file→sequence number,
    position-delete paths, [(equality-delete path, seq)][, v3 DV
    entries [(puffin_path, offset, size, referenced_file, seq)] when
    ``with_dvs``]).  Sequence numbers come from per-entry
    ``sequence_number`` when present (rewrite_manifests' carried
    entries) else the manifest-list entry (the reader resolves
    identically — sources/iceberg.py)."""
    from pg_analytics_spark.sources.avro import read_container

    data_seq: dict[str, int] = {}
    pos_deletes: list[str] = []
    eq_deletes: list[tuple[str, int]] = []
    dv_entries: list[tuple[str, int, int, str, int]] = []
    for m in prev_list:
        _s2, entries = read_container(m["manifest_path"])
        m_seq = int(m.get("sequence_number") or 0)
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            # EXISTING entries carried by rewrite_manifests record
            # their ORIGINAL data sequence explicitly (spec rule:
            # inheritance applies only to ADDED entries)
            e_seq = e.get("sequence_number")
            seq = m_seq if e_seq is None else int(e_seq)
            rec = e["data_file"]
            if m.get("content", 0) == 1:
                if str(rec.get("file_format", "")).upper() == "PUFFIN":
                    dv_entries.append(
                        (
                            rec["file_path"],
                            int(rec.get("content_offset") or 0),
                            int(rec.get("content_size_in_bytes") or 0),
                            rec["referenced_data_file"],
                            seq,
                        )
                    )
                elif rec.get("content", 1) == 2:
                    eq_deletes.append((rec["file_path"], seq))
                else:
                    pos_deletes.append(rec["file_path"])
            else:
                data_seq[rec["file_path"]] = seq
    if with_dvs:
        return data_seq, pos_deletes, eq_deletes, dv_entries
    if dv_entries:
        raise UnsupportedFormat(
            "this code path does not handle v3 deletion vectors yet — "
            "internal: call _scan_snapshot_files(with_dvs=True)"
        )
    return data_seq, pos_deletes, eq_deletes


def _conform_eq_delete_names(x, meta: dict | None):
    """Equality-delete files carry the key columns under the names
    current AT WRITE TIME; after a rename the anti-join must compare
    against the field's CURRENT name — translate via name-mapping →
    field id → current field name (no-op without a mapping)."""
    if meta is None:
        return x
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.iceberg import (
        _current_fields,
        _name_mapping_ids,
    )

    nm = _name_mapping_ids(meta)
    if not nm:
        return x
    id_to_cur = {f["id"]: f["name"] for f in _current_fields(meta)}
    cols = []
    for c in x.columns:
        cur = id_to_cur.get(nm.get(c))
        cols.append(F.col(c).alias(cur) if cur and cur != c else F.col(c))
    return x.select(*cols)


def _adoption_projection(meta, manifest_list_entries) -> dict | None:
    """path → {source column: typed constant} for ADOPTED tables'
    identity partition values (mirrors the reader's part_proj in
    sources/iceberg.py) — DML predicates must see the projected
    partition columns, or a DELETE WHERE on one would silently
    unmatch every adopted row (three-valued logic on the NULL the
    raw scan surfaces).  None for native tables (zero cost)."""
    if (meta.get("properties") or {}).get(
        "adoption.contains-foreign-files"
    ) != "true":
        return None
    from pg_analytics_spark.sources.avro import read_container
    from pg_analytics_spark.sources.iceberg import _identity_tuple_values
    from pg_analytics_spark.sources.iceberg_prune import (
        schema_field_types,
        spec_fields_for,
    )

    types, names = schema_field_types(meta)
    out: dict[str, dict] = {}
    for m in manifest_list_entries:
        if m.get("content", 0) == 1:
            continue
        spec_fields = spec_fields_for(
            meta, m.get("partition_spec_id", 0), names
        )
        if not spec_fields:
            continue
        _s, entries = read_container(m["manifest_path"])
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            vals = _identity_tuple_values(
                e["data_file"].get("partition"), spec_fields, types
            )
            if vals:
                out[e["data_file"]["file_path"]] = vals
    return out or None


def _visible_target(
    spark, data_seq, pos_deletes, eq_deletes, meta, part_proj=None,
    dv_entries=None,
):
    """The CURRENT snapshot's VISIBLE rows, conformed to the current
    schema (``iceberg._scan_files``, so DML predicates bind renamed and
    added columns), with ``_ifile``/``_ipos`` columns — position
    deletes and v3 deletion vectors anti-joined on (file, pos),
    equality deletes anti-joined null-safely on the delete file's own
    columns under the spec's sequence rule (data seq strictly below
    the delete's).  Every DML target (DELETE, UPDATE, MERGE, the
    compaction rewrites, the changelog's parent rows) is THIS
    relation: one built from raw data files + position deletes alone
    would resurrect equality-deleted rows into the match set (and no
    double-delete bookkeeping would catch it)."""
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.iceberg import (
        _delete_key_py,
        _pos_deletes,
        _read_footer_schema,
        _scan_files,
    )

    tgt = _scan_files(
        spark, sorted(data_seq), meta, coords="path", part_proj=part_proj
    )
    if pos_deletes:
        tgt = tgt.join(
            _pos_deletes(spark, pos_deletes, "path"),
            ["_ifile", "_ipos"],
            "left_anti",
        )
    if dv_entries:
        # v3 deletion vectors: decode the roaring blobs (KB-scale)
        # into the same (file, pos) anti-join the pos-delete path uses
        from pg_analytics_spark.sources.iceberg_dv import dv_positions_map

        rows = [
            (ref, int(p))
            for ref, positions in dv_positions_map(
                [(e[0], e[1], e[2], e[3]) for e in dv_entries]
            ).items()
            for p in positions
        ]
        if rows:
            dvdf = local_frame(spark, rows, "_ifile string, _ipos long")
            tgt = tgt.join(
                F.broadcast(dvdf), ["_ifile", "_ipos"], "left_anti"
            )
    if eq_deletes:
        seq_map = local_frame(
            spark,
            [
                (_delete_key_py(os.path.abspath(p)), s)
                for p, s in data_seq.items()
            ],
            "_ik string, _iseq bigint",
        )
        key_expr = F.regexp_replace(F.col("_ifile"), r"^.*/(?=data/)", "")
        tgt = tgt.withColumn("_ik", key_expr).join(
            F.broadcast(seq_map), "_ik", "left"
        )
        for dpath, dseq in sorted(eq_deletes):
            d = tgt.alias("d")
            x = _conform_eq_delete_names(
                _read_footer_schema(spark, dpath), meta
            ).alias("x")
            cond = F.col("d._iseq") < F.lit(int(dseq))
            for c in x.columns:
                cond = cond & F.col(f"d.{c}").eqNullSafe(F.col(f"x.{c}"))
            tgt = d.join(x, cond, "left_anti")
        tgt = tgt.drop("_ik", "_iseq")
    return tgt


def _publish_snapshot(
    path: str,
    prev_meta: dict,
    prev_version: int,
    snapshot_id: int,
    mf_entries: list[dict],
    seq: int,
    summary: dict,
) -> int:
    """Commit tail of every writer that adds a snapshot on top of the
    current one (the row deltas, the equality-delete writers and the
    maintenance rewrites): the manifest list, then the snapshot in the
    next metadata version through :func:`_publish_metadata_version`.
    Returns the new version."""
    import time as _time

    meta_dir = os.path.join(path, "metadata")
    mlist = os.path.join(meta_dir, f"snap-{snapshot_id}.avro")
    write_container(_MANIFEST_LIST_SCHEMA, mf_entries, mlist)
    now_ms = int(_time.time() * 1000)
    meta = dict(prev_meta)
    meta["last-sequence-number"] = seq
    meta["current-snapshot-id"] = snapshot_id
    meta["snapshots"] = list(prev_meta.get("snapshots", [])) + [
        {
            "snapshot-id": snapshot_id,
            "manifest-list": mlist,
            "timestamp-ms": now_ms,
            "sequence-number": seq,
            # parent = the head this commit replaces — required for
            # lineage walks (WAP fast-forward divergence refusal, the
            # streaming source's main-lineage filter)
            **(
                {"parent-snapshot-id": prev_meta["current-snapshot-id"]}
                if prev_meta.get("current-snapshot-id") not in (None, -1)
                else {}
            ),
            "summary": summary,
        }
    ]
    meta["snapshot-log"] = list(prev_meta.get("snapshot-log", [])) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    ]
    return _publish_metadata_version(path, meta, prev_version)


def _eq_manifest_entry_schema() -> dict:
    """Manifest-entry schema for EQUALITY-delete files: the base shape
    plus the spec's ``equality_ids`` (field ids the delete file's
    columns equality-match on, spec §equality-delete-files)."""
    base = _manifest_entry_schema([])
    df_fields = base["fields"][2]["type"]["fields"]
    df_fields.insert(
        2,
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int"}],
        },
    )
    return base


def _dv_manifest_entry_schema() -> dict:
    """Manifest-entry schema for v3 DELETION-VECTOR entries: the base
    delete shape plus the spec's ``referenced_data_file`` (the one
    data file the DV applies to), ``content_offset`` and
    ``content_size_in_bytes`` (the blob's span inside the Puffin
    file), plus explicit ``sequence_number`` for carried entries."""
    base = _manifest_entry_schema([])
    df_fields = base["fields"][2]["type"]["fields"]
    df_fields.insert(3, {"name": "referenced_data_file",
                         "type": ["null", "string"]})
    df_fields.insert(4, {"name": "content_offset",
                         "type": ["null", "long"]})
    df_fields.insert(5, {"name": "content_size_in_bytes",
                         "type": ["null", "long"]})
    return _entry_schema_with_seq(base)


def _dv_manifests(
    path, prev_meta, prev_list, pos_rows, existing_dvs, snapshot_id, seq
) -> tuple[list[dict], int]:
    """The delete half of a commit on a format-version-3 table: the
    matched rows' physical positions (``pos_rows``, ``file_path`` /
    ``pos``) become DELETION VECTORS (Puffin deletion-vector-v1
    blobs) — one DV per affected data file, UNIONED with the file's
    existing DV, which this commit SUPERSEDES (the spec's one-live-DV-
    per-file rule): delete manifests holding a superseded entry are
    rewritten without it (other entries carried as EXISTING with
    explicit sequence numbers), and one new delete manifest adds the
    fresh DV entries.  Returns (the manifest-list entries, the number
    of files given a new DV).  O(matched rows) driver work — the same
    bound as the Delta DV path and the blob itself."""
    from pg_analytics_spark.sources.iceberg_dv import (
        read_dv_positions,
        write_dv_puffin,
    )

    meta_dir = os.path.join(path, "metadata")
    new_pos: dict[str, list[int]] = {}
    for r in pos_rows:
        new_pos.setdefault(
            os.path.abspath(r["file_path"]), []
        ).append(int(r["pos"]))
    # union with each affected file's EXISTING DV (superseded below)
    live_dv_by_ref = {
        os.path.abspath(e[3]): e for e in existing_dvs
    }
    superseded: set[tuple] = set()
    for ref in list(new_pos):
        old = live_dv_by_ref.get(ref)
        if old is not None:
            new_pos[ref].extend(read_dv_positions(old[0], old[1], old[2]))
            superseded.add((old[0], os.path.abspath(old[3])))
    puffin_path = os.path.join(
        meta_dir, f"dv-{snapshot_id}-{uuid.uuid4().hex}.puffin"
    )
    spans = write_dv_puffin(puffin_path, new_pos, snapshot_id, seq)

    dv_schema = _dv_manifest_entry_schema()
    added = [
        {
            "status": 1,
            "snapshot_id": snapshot_id,
            "sequence_number": None,  # ADDED: inherits the commit seq
            "data_file": {
                "content": 1,
                "file_path": puffin_path,
                "file_format": "PUFFIN",
                "referenced_data_file": ref,
                "content_offset": spans[ref][0],
                "content_size_in_bytes": spans[ref][1],
                "record_count": spans[ref][2],
                "file_size_in_bytes": os.path.getsize(puffin_path),
                "lower_bounds": None,
                "upper_bounds": None,
            },
        }
        for ref in sorted(new_pos)
    ]
    new_mf_entry = _write_manifest(
        os.path.join(meta_dir, f"man-dv-{snapshot_id}.avro"),
        dv_schema,
        added,
        prev_meta.get("default-spec-id", 0), 1, seq, snapshot_id,
    )
    # carry/rewrite the previous manifests: data manifests verbatim;
    # delete manifests verbatim UNLESS they hold a superseded DV entry
    # — those rewrite without it (surviving entries carried EXISTING
    # with their original sequence numbers)
    mf_entries = []
    for m in prev_list:
        if m.get("content", 0) != 1:
            mf_entries.append(m)
            continue
        schema_m, entries = read_container(m["manifest_path"])
        m_seq = int(m.get("sequence_number") or 0)
        keep = []
        dropped = False
        for e in entries:
            rec = e["data_file"]
            is_sup = (
                str(rec.get("file_format", "")).upper() == "PUFFIN"
                and (
                    rec["file_path"],
                    os.path.abspath(rec["referenced_data_file"]),
                )
                in superseded
            )
            if is_sup:
                dropped = True
            else:
                keep.append(e)
        if not dropped:
            mf_entries.append(m)
            continue
        if not keep:
            continue  # manifest emptied: drop it from the list
        carried = [
            {
                **e,
                "status": 0,
                "sequence_number": (
                    e.get("sequence_number")
                    if e.get("sequence_number") is not None
                    else m_seq
                ),
            }
            for e in keep
        ]
        mf_entries.append(
            _write_manifest(
                os.path.join(
                    meta_dir,
                    f"man-dvcarry-{snapshot_id}-{uuid.uuid4().hex}.avro",
                ),
                _entry_schema_with_seq(schema_m),
                carried,
                m.get("partition_spec_id", 0), 1, seq, snapshot_id,
            )
        )
    mf_entries.append(new_mf_entry)
    return mf_entries, len(new_pos)


def _commit_row_delta(
    path: str,
    prev_meta: dict,
    prev_version: int,
    prev_list: list[dict],
    existing_dvs: list,
    dels: DataFrame | None,
    adds: DataFrame | None,
    operation: str,
) -> tuple[int | None, int, int, int]:
    """The one merge-on-read commit of DELETE, UPDATE and MERGE: a
    snapshot that deletes the rows named by ``dels`` (``file_path``,
    ``pos``) and adds the rows of ``adds`` (the current schema's
    columns), both halves in ONE metadata version, so a reader never
    sees one without the other.  Either half may be None.

    * Delete half, format version 2: one position-delete file sorted
      by (file_path, pos) as the spec requires, staged by
      :func:`_stage_one_parquet` and counted from its footer.
    * Delete half, format version 3: deletion vectors through
      :func:`_dv_manifests` (v3 forbids new position-delete files);
      the collected pairs are the DV payload itself.
    * Data half: one file written by the INSERT kernel
      (:func:`_write_data_files_direct`) with its bounds computed in
      the task; no rows, no file.

    Returns (snapshot_id, rows deleted, rows added, version); when both
    halves are empty nothing is committed and snapshot_id is None."""
    import pyarrow.parquet as pq

    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    snapshot_id = _new_snapshot_id()
    seq = prev_meta.get("last-sequence-number", 0) + 1
    spec_id = prev_meta.get("default-spec-id", 0)
    v3 = int(prev_meta.get("format-version", 2)) >= 3
    mf_entries = list(prev_list)
    n_del = n_dvs = 0
    if dels is not None and v3:
        pos_rows = dels.collect()
        n_del = len(pos_rows)
        if n_del:
            mf_entries, n_dvs = _dv_manifests(
                path, prev_meta, prev_list, pos_rows, existing_dvs,
                snapshot_id, seq,
            )
    elif dels is not None:
        part, staging = _stage_one_parquet(
            dels.coalesce(1).sortWithinPartitions("file_path", "pos"),
            path, "del",
        )
        n_del = pq.ParquetFile(part).metadata.num_rows if part else 0
        if n_del:
            dpath = os.path.join(
                data_dir, f"delete-{snapshot_id}-{uuid.uuid4().hex}.parquet"
            )
            os.replace(part, dpath)
            mf_entries.append(
                _write_manifest(
                    os.path.join(meta_dir, f"man-del-{snapshot_id}.avro"),
                    _manifest_entry_schema([]),
                    [
                        _added_entry(
                            snapshot_id, 1, dpath, n_del,
                            os.path.getsize(dpath),
                        )
                    ],
                    spec_id, 1, seq, snapshot_id,
                )
            )
        shutil.rmtree(staging, ignore_errors=True)
    added = []
    if adds is not None:
        added = _write_data_files_direct(
            adds.coalesce(1), len(adds.columns), data_dir, snapshot_id,
            _schema_fields(prev_meta), "snappy",
        )
    n_add = sum(rows for _k, _dst, rows, *_rest in added)
    if not n_del and not n_add:
        return None, 0, 0, prev_version
    if added:
        mf_entries.append(
            _write_manifest(
                os.path.join(meta_dir, f"man-{snapshot_id}.avro"),
                _manifest_entry_schema([]),
                [
                    _added_entry(snapshot_id, 0, dst, rows, size, lo, up)
                    for _k, dst, rows, size, lo, up in added
                ],
                spec_id, 0, seq, snapshot_id,
            )
        )
    summary = {"operation": operation}
    if operation == "delete":
        summary.update(
            {
                "added-delete-files": "1",
                **({"added-dvs": str(n_dvs)} if v3 else {}),
                "added-position-deletes": str(n_del),
                "deleted-records": str(n_del),
            }
        )
    version = _publish_snapshot(
        path, prev_meta, prev_version, snapshot_id, mf_entries, seq, summary
    )
    return snapshot_id, n_del, n_add, version


def delete_iceberg(spark, path: str, where: str | None = None) -> dict:
    """``DELETE FROM <iceberg table> [WHERE cond]`` as a MERGE-ON-READ
    commit (Iceberg v2 position deletes, spec §position-delete-files;
    deletion vectors on a format-version-3 table): matched VISIBLE rows
    are recorded as (file_path, pos) by :func:`_commit_row_delta`; no
    data file rewrites.  This is the other half of the
    write-amplification trade vs the Delta writer's copy-on-write
    DELETE (sources/delta_write.delete_delta): merge-on-read commits
    O(matched rows) instead of rewriting touched files, and readers
    pay the anti-join — the repo's own replay reader applies exactly
    these files (sources/iceberg._apply_row_deletes), so the loop
    closes end-to-end with zero external dependencies.

    SQL three-valued logic: NULL-predicate rows are NOT matched.
    Rows already deleted by prior delete files are invisible to the
    predicate (no double-count).  A missing WHERE deletes every
    visible row.  Returns {"snapshot_id", "rows_deleted", "version"};
    matching nothing returns rows_deleted=0 WITHOUT committing a
    snapshot.  Reference scope: the reference FDW is read-only —
    additive parity-plus, symmetric with the Delta DML surface.
    """
    from pyspark.sql import functions as F

    prev_version, prev_meta = _latest_metadata(os.path.join(path, "metadata"))
    if prev_meta is None:
        raise UnsupportedFormat(f"DELETE target is not an iceberg table: {path}")
    prev_list = _current_manifests(prev_meta)
    data_seq, pos_deletes, eq_deletes, existing_dvs = _scan_snapshot_files(
        prev_list, with_dvs=True
    )
    if not data_seq:
        return {"snapshot_id": None, "rows_deleted": 0, "version": prev_version}
    # the target is every VISIBLE row under the current schema: older
    # files of an evolved table surface added columns as NULL (so
    # three-valued logic leaves them unmatched), and equality deletes
    # apply under the sequence rule
    tgt = _visible_target(
        spark, data_seq, pos_deletes, eq_deletes,
        meta=prev_meta,
        part_proj=_adoption_projection(prev_meta, prev_list),
        dv_entries=existing_dvs,
    )
    match = F.expr(where) if where is not None else F.lit(True)
    dels = tgt.filter(F.coalesce(match, F.lit(False))).select(
        F.col("_ifile").alias("file_path"), F.col("_ipos").alias("pos")
    )
    snapshot_id, n_del, _n_add, version = _commit_row_delta(
        path, prev_meta, prev_version, prev_list, existing_dvs, dels, None,
        "delete",
    )
    return {"snapshot_id": snapshot_id, "rows_deleted": n_del, "version": version}


def compact_iceberg(spark, path: str) -> dict:
    """Compact merge-on-read delete debt: rewrite every data file that
    has position-delete rows against it WITHOUT the deleted rows, and
    commit a snapshot whose single new manifest carries the untouched
    files' entries verbatim plus the rewritten files — no delete
    manifests remain, so readers stop paying the anti-join.  The
    lifecycle closer for :func:`delete_iceberg`: delete cheaply
    (O(matched rows)), read with the anti-join, compact when the debt
    is worth one rewrite of the AFFECTED files (never the table).

    Partitioned tables: each affected file's rows rewrite under the
    SAME partition tuple its manifest entry recorded (the rewrite
    stages under a synthetic per-source-tuple dir column).  Prior
    snapshots still time-travel through their own manifest lists.
    Returns {"snapshot_id", "files_rewritten", "files_untouched",
    "deletes_dropped", "version"} (no-op: snapshot_id None).
    """
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.iceberg import (
        _delete_key_py,
        _pos_deletes,
        _read_footer_schema,
        _scan_files,
    )

    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(f"compact target is not an iceberg table: {path}")
    prev_list = _current_manifests(prev_meta)
    entry_schema = None
    data_entries: list[dict] = []
    data_seq_of: dict[str, int] = {}
    pos_delete_paths: list[str] = []
    eq_delete_files: list[tuple[str, int]] = []
    dv_list: list[tuple[str, int, int, str, int]] = []  # v3 DVs
    n_delete_files = 0
    for m in prev_list:
        schema_m, entries = read_container(m["manifest_path"])
        m_seq = int(m.get("sequence_number") or 0)
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            e_seq = e.get("sequence_number")
            seq = m_seq if e_seq is None else int(e_seq)
            rec = e["data_file"]
            if m.get("content", 0) == 1:
                n_delete_files += 1
                if str(rec.get("file_format", "")).upper() == "PUFFIN":
                    dv_list.append(
                        (
                            rec["file_path"],
                            int(rec.get("content_offset") or 0),
                            int(rec.get("content_size_in_bytes") or 0),
                            rec["referenced_data_file"],
                            seq,
                        )
                    )
                elif rec.get("content", 1) == 2:
                    eq_delete_files.append((rec["file_path"], seq))
                else:
                    pos_delete_paths.append(rec["file_path"])
            else:
                entry_schema = entry_schema or schema_m
                data_entries.append(e)
                data_seq_of[rec["file_path"]] = seq
    if not pos_delete_paths and not eq_delete_files and not dv_list:
        return {
            "snapshot_id": None,
            "files_rewritten": 0,
            "files_untouched": len(data_entries),
            "deletes_dropped": 0,
            "version": prev_version,
        }
    # which data files do the delete rows actually name?  Position
    # deletes name files explicitly (file-list-sized collect).
    # Equality deletes name KEYS, not files: ONE distributed probe —
    # scan each sequence-eligible data file's key columns, semi-join
    # the (tiny, broadcast) delete key sets, collect the DISTINCT
    # file paths that lost rows (file-list-sized result; the corpus-
    # scale work is the semi-join, not a driver loop).
    affected_keys = set()
    if pos_delete_paths:
        affected_keys |= {
            r["_ice_file"]
            for r in _pos_deletes(spark, pos_delete_paths, "key")
            .select("_ice_file")
            .distinct()
            .collect()
        }
    # v3 DVs name their referenced file directly — no scan needed
    affected_keys |= {_delete_key_py(e[3]) for e in dv_list}
    part_proj = _adoption_projection(prev_meta, prev_list)
    for dpath, dseq in eq_delete_files:
        eligible = sorted(
            p for p, s in data_seq_of.items() if s < dseq
        )
        if not eligible:
            continue
        # both sides under CURRENT names, as _visible_target compares
        keys_df = _conform_eq_delete_names(
            _read_footer_schema(spark, dpath), prev_meta
        )
        probe = _scan_files(
            spark, eligible, prev_meta, coords="path", part_proj=part_proj
        ).select(*keys_df.columns, "_ifile")
        cond = None
        for c in keys_df.columns:
            eq = F.col(f"d.{c}").eqNullSafe(F.col(f"x.{c}"))
            cond = eq if cond is None else cond & eq
        hit = (
            probe.alias("d")
            .join(F.broadcast(keys_df.alias("x")), cond, "left_semi")
            .select("_ifile")
            .distinct()
            .collect()
        )
        affected_keys |= {_delete_key_py(r["_ifile"]) for r in hit}
    if not affected_keys:
        # delete files exist but currently erase nothing (e.g. eq keys
        # only in files at/after their sequence): still commit, so the
        # delete debt is dropped and readers stop paying the anti-join
        pass
    untouched, affected = [], []
    for e in data_entries:
        (affected if _delete_key_py(e["data_file"]["file_path"]) in affected_keys
         else untouched).append(e)
    fields = _schema_fields(prev_meta)
    colnames = [f["name"] for f in fields]

    new_entries: list[dict] = []
    snapshot_id = _new_snapshot_id()
    if affected:
        # per-source-file tuple index rides a synthetic dir column so
        # ONE distributed write regroups rows under their partition
        key_of = [
            _delete_key_py(e["data_file"]["file_path"]) for e in affected
        ]
        idx_of = {k: i for i, k in enumerate(key_of)}
        # visible rows of the AFFECTED files only: position deletes
        # anti-joined on (file, pos), equality deletes under the
        # sequence rule — the same relation readers see, restricted to
        # the files being rewritten
        kept = _visible_target(
            spark,
            {
                e["data_file"]["file_path"]: data_seq_of[
                    e["data_file"]["file_path"]
                ]
                for e in affected
            },
            pos_delete_paths,
            eq_delete_files,
            dv_entries=dv_list,
            meta=prev_meta,
            # adopted files' identity partition constants materialize
            # INTO the compacted rewrite (the new files physically
            # carry the columns, so they need no projection)
            part_proj=part_proj,
        )
        key_expr = F.regexp_replace(F.col("_ifile"), r"^.*/(?=data/)", "")
        idx_map = local_frame(spark, list(idx_of.items()), "_k string, _pt int")
        staged = (
            kept.withColumn("_k", key_expr)
            .join(F.broadcast(idx_map), "_k")
            .select(*colnames, "_pt")
        )
        data_dir = os.path.join(path, "data")
        os.makedirs(data_dir, exist_ok=True)
        # direct task-side write (the write_iceberg kernel): no
        # staging dir, no driver rename walk, no second bounds job
        for parts, dst, rows, size, lowers, uppers in (
            _write_data_files_direct(
                staged, len(colnames), data_dir, snapshot_id, fields,
                "snappy",
            )
        ):
            new_entries.append(
                _added_entry(
                    snapshot_id, 0, dst, rows, size, lowers, uppers,
                    partition=affected[int(parts[0])]["data_file"].get(
                        "partition"
                    ),
                )
            )

    seq = prev_meta.get("last-sequence-number", 0) + 1
    # Iceberg v2 spec: entries CARRIED into a rewritten manifest are
    # status=0 EXISTING and keep their ORIGINAL snapshot_id AND their
    # ORIGINAL data sequence number explicitly (inheritance applies
    # only to ADDED entries) — leaving them status=1 ADDED would claim
    # this snapshot added them (r7 ADVICE; spec §Manifests)
    entry_schema = _entry_schema_with_seq(entry_schema)
    carried = [
        {
            **e,
            "status": 0,
            "sequence_number": data_seq_of[e["data_file"]["file_path"]],
        }
        for e in untouched
    ]
    for e in new_entries:
        e["sequence_number"] = seq
    mf_entries = [
        _write_manifest(
            os.path.join(meta_dir, f"man-compact-{snapshot_id}.avro"),
            entry_schema,
            carried + new_entries,
            prev_meta.get("default-spec-id", 0), 0, seq, snapshot_id,
        )
    ]
    # spec-required operation + the count fields external clients
    # expect on a replace (all values are strings)
    version = _publish_snapshot(
        path, prev_meta, prev_version, snapshot_id, mf_entries, seq,
        {
            "operation": "replace",
            "added-data-files": str(len(new_entries)),
            "deleted-data-files": str(len(affected)),
            "removed-delete-files": str(n_delete_files),
            "total-data-files": str(len(untouched) + len(new_entries)),
            "total-delete-files": "0",
            "added-records": str(
                sum(
                    int(e["data_file"].get("record_count") or 0)
                    for e in new_entries
                )
            ),
            "total-records": str(
                sum(
                    int(e["data_file"].get("record_count") or 0)
                    for e in untouched + new_entries
                )
            ),
        },
    )
    return {
        "snapshot_id": snapshot_id,
        "files_rewritten": len(affected),
        "files_untouched": len(untouched),
        "deletes_dropped": n_delete_files,
        "version": version,
    }


def update_iceberg(
    spark, path: str, set_map: dict[str, str], where: str | None = None
) -> dict:
    """``UPDATE <iceberg table> SET col = expr[, …] [WHERE cond]`` as
    ONE merge-on-read snapshot (:func:`_commit_row_delta`): matched
    VISIBLE rows are deleted (a position-delete file, or deletion
    vectors on a format-version-3 table) AND their updated images
    append as one new data file — both halves commit atomically in a
    single metadata version, so a reader never observes the
    half-updated state a delete-then-append pair would expose.  SET
    expressions evaluate against the OLD row (SQL UPDATE semantics,
    parallel assignment); NULL predicates match nothing (three-valued
    logic).  Unpartitioned tables only — new rows for a partitioned
    spec need the write-side transform machinery; use the Delta
    writer's copy-on-write UPDATE or an overwrite there (clear error
    says so).  Returns {"snapshot_id", "rows_updated", "version"};
    matching nothing commits nothing."""
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.iceberg import _ice_to_spark_type

    prev_version, prev_meta = _latest_metadata(os.path.join(path, "metadata"))
    if prev_meta is None:
        raise UnsupportedFormat(f"UPDATE target is not an iceberg table: {path}")
    if _default_spec_fields(prev_meta):
        raise UnsupportedFormat(
            "update_iceberg supports UNPARTITIONED tables; partitioned "
            "targets need write-side transforms for the new rows — use "
            "the Delta writer's copy-on-write UPDATE or an overwrite"
        )
    fields = _schema_fields(prev_meta)
    colnames = [f["name"] for f in fields]
    bad = [c for c in set_map if c not in colnames]
    if bad:
        raise UnsupportedFormat(f"UPDATE: unknown column(s) {bad}")
    # only SET targets cast (to the column's declared type); untouched
    # columns pass through AS-IS — casting them through a string
    # fallback would corrupt nested types
    upd_cols = []
    for f in fields:
        c = f["name"]
        if c not in set_map:
            upd_cols.append(F.col(c))
            continue
        t = _ice_to_spark_type(f["type"])
        if t is None:
            raise UnsupportedFormat(
                f"UPDATE: column {c!r} has a nested type — unsupported "
                "as a SET target"
            )
        upd_cols.append(F.expr(set_map[c]).cast(t).alias(c))

    prev_list = _current_manifests(prev_meta)
    data_seq, pos_deletes, eq_deletes, existing_dvs = _scan_snapshot_files(
        prev_list, with_dvs=True
    )
    if not data_seq:
        return {"snapshot_id": None, "rows_updated": 0, "version": prev_version}
    # eq-aware visibility: see delete_iceberg (sequence-rule anti-join)
    tgt = _visible_target(
        spark, data_seq, pos_deletes, eq_deletes,
        meta=prev_meta,
        part_proj=_adoption_projection(prev_meta, prev_list),
        dv_entries=existing_dvs,
    )
    match = F.expr(where) if where is not None else F.lit(True)
    # both halves read the matched rows: scan and filter once
    matched = tgt.filter(F.coalesce(match, F.lit(False))).persist()
    try:
        snapshot_id, n_upd, _n_add, version = _commit_row_delta(
            path, prev_meta, prev_version, prev_list, existing_dvs,
            matched.select(
                F.col("_ifile").alias("file_path"),
                F.col("_ipos").alias("pos"),
            ),
            matched.select(*upd_cols),
            "overwrite",
        )
    finally:
        matched.unpersist()
    return {"snapshot_id": snapshot_id, "rows_updated": n_upd, "version": version}


def _schema_fields(prev_meta: dict) -> list[dict]:
    return next(
        s for s in prev_meta.get("schemas", [])
        if s.get("schema-id") == prev_meta.get("current-schema-id", 0)
    )["fields"]


def _key_exprs(fields: list[dict], key_cols: list[str], op: str):
    """Cast each key column to its DECLARED Iceberg type → (select
    exprs, equality field ids).  Declared-type casts make the reader's
    null-safe equality anti-join type-exact regardless of how the
    source frame typed its literals."""
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.iceberg import _ice_to_spark_type

    by_name = {f["name"]: f for f in fields}
    bad = [c for c in key_cols if c not in by_name]
    if bad:
        raise UnsupportedFormat(f"{op}: unknown key column(s) {bad}")
    exprs, ids = [], []
    for c in key_cols:
        t = _ice_to_spark_type(by_name[c]["type"])
        if t is None:
            raise UnsupportedFormat(
                f"{op}: key column {c!r} has a nested type — equality "
                "deletes need primitive keys"
            )
        exprs.append(F.col(c).cast(t).alias(c))
        ids.append(int(by_name[c].get("id", 0)))
    return exprs, ids


def _stage_one_parquet(df, path: str, tag: str) -> tuple[str | None, str]:
    """Write ``df`` as ONE parquet part into a staging dir beside the
    table; returns (part path or None when empty, staging dir)."""
    staging = os.path.join(
        os.path.dirname(path.rstrip("/")) or ".",
        f"_ice_{tag}-{uuid.uuid4().hex}",
    )
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(
        (
            os.path.join(r, n)
            for r, _d, ns in os.walk(staging)
            for n in sorted(ns)
            if n.endswith(".parquet")
        ),
        None,
    )
    return part, staging


def _stage_upsert_parts(
    src: DataFrame, path: str, key_cols: list[str], fields: list[dict]
) -> tuple[list[tuple], str | None, str, int, int]:
    """ONE-JOB, N-TASK staging for :func:`upsert_iceberg_eq`: every
    task writes its own add file (Appendix-D bounds computed in the
    same task) plus its own per-task-DISTINCT key file, all from the
    same Arrow batches — so a large CDC trigger's change set is
    written by every core that holds it, not serialized through one
    ``coalesce(1)`` task (r14; guide §2 — the r13 shape halved the
    passes but cemented a single-task write).  The driver then merges
    the per-task key files (pyarrow concat + C-side hash distinct —
    O(change-set keys), the same bytes the single delete file must
    hold anyway) into the one equality-delete part.

    Returns ``(add_parts, del_part|None, staging_dir, n_rows,
    n_keys)`` where ``add_parts`` is
    ``[(path, rows, size, lowers, uppers)]`` — one per task that held
    rows — and ``n_keys`` is the GLOBAL distinct key count (the
    duplicate-key guard's input).  Executor closure imports the repo
    via the _REPO_ROOT fallback (vanilla-driver rule).
    """
    import pickle as _pickle

    import pyarrow as _pa_drv
    import pyarrow.parquet as _pq_drv

    from pg_analytics_spark.sources.arrow_part import (
        require_local_master,
        shippable,
    )

    require_local_master(src.sparkSession.sparkContext, path)
    staging = os.path.join(
        os.path.dirname(path.rstrip("/")) or ".",
        f"_ice_upsboth-{uuid.uuid4().hex}",
    )
    os.makedirs(staging, exist_ok=True)
    del_part = os.path.join(staging, "del.parquet")
    kcols = list(key_cols)
    repo_root = _REPO_ROOT
    bounds_ref = shippable(_file_bounds)

    def _stage(batches):
        import os as _os
        import pickle as _pk
        import sys as _sys
        import uuid as _uuid

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        if repo_root not in _sys.path:
            _sys.path.insert(0, repo_root)
        from pg_analytics_spark.sources.arrow_part import (
            resolve,
            stat_columns,
        )

        _file_bounds = resolve(bounds_ref)

        tag = _uuid.uuid4().hex
        add_part = _os.path.join(staging, f"add-{tag}.parquet")
        key_part = _os.path.join(staging, f"keys-{tag}.parquet")
        writer = None
        kparts = []
        for b in batches:
            if b.num_rows == 0:
                continue
            t = _pa.Table.from_batches([b])
            if writer is None:
                writer = _pq.ParquetWriter(
                    add_part + ".tmp", t.schema, compression="snappy",
                    write_statistics=stat_columns(t.schema),
                )
            writer.write_table(t)
            kparts.append(t.select(kcols))
        if writer is None:
            return
        writer.close()
        _os.replace(add_part + ".tmp", add_part)
        kt = (
            kparts[0]
            if len(kparts) == 1
            else _pa.concat_tables(kparts)
        )
        # per-task vectorized DISTINCT (C-side hash group-by; NULL
        # keys group together — Spark's distinct semantics); the
        # driver distincts ACROSS tasks
        kt = kt.group_by(kcols).aggregate([])
        _pq.write_table(kt, key_part + ".tmp", compression="snappy")
        _os.replace(key_part + ".tmp", key_part)
        lowers, uppers, a_rows = _file_bounds(add_part, fields)
        yield _pa.RecordBatch.from_pydict(
            {
                "add": [add_part],
                "keys": [key_part],
                "rows": [int(a_rows)],
                "size": [_os.path.getsize(add_part)],
                "bounds": [_pk.dumps((lowers, uppers))],
            }
        )

    got = src.mapInArrow(
        _stage,
        "add STRING, keys STRING, rows BIGINT, size BIGINT, "
        "bounds BINARY",
    ).collect()
    if not got:
        return [], None, staging, 0, 0
    add_parts = []
    n_rows = 0
    for r in got:
        lowers, uppers = _pickle.loads(bytes(r["bounds"]))
        add_parts.append(
            (r["add"], int(r["rows"]), int(r["size"]), lowers, uppers)
        )
        n_rows += int(r["rows"])
    key_tabs = [_pq_drv.read_table(r["keys"]) for r in got]
    kt = (
        key_tabs[0]
        if len(key_tabs) == 1
        else _pa_drv.concat_tables(key_tabs)
    )
    kt = kt.group_by(kcols).aggregate([])
    n_keys = kt.num_rows
    _pq_drv.write_table(kt, del_part + ".tmp", compression="snappy")
    os.replace(del_part + ".tmp", del_part)
    return add_parts, del_part, staging, n_rows, n_keys


def equality_delete_iceberg(
    spark, path: str, keys, key_cols: list[str] | None = None
) -> dict:
    """Commit an Iceberg v2 EQUALITY-delete snapshot (spec
    §equality-delete-files): every row of the table whose key columns
    null-safely equal ANY tuple in ``keys`` becomes invisible — with
    **no read of the target data at all**.  The delete file holds just
    the distinct key tuples (content=2, ``equality_ids`` = the key
    columns' field ids); readers apply it to data files whose sequence
    number is STRICTLY below the delete's (this repo's reader:
    sources/iceberg._apply_row_deletes).  That makes CDC deletes
    O(changed keys): a position delete must first JOIN the change set
    against the table to find (file, pos) pairs — an equality delete
    ships the keys and is done, the lever at 100 TB where the target
    scan IS the cost.  Works on partitioned tables (no new data files
    are written).  ``keys``: a DataFrame; ``key_cols`` defaults to all
    its columns.  Returns {"snapshot_id", "keys_deleted", "version"};
    an empty key set commits nothing.  Reference scope: read-only FDW
    — additive parity-plus, the MoR twin of Delta CDC upserts."""
    import pyarrow.parquet as _pq

    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(
            f"equality-delete target is not an iceberg table: {path}"
        )
    fields = _schema_fields(prev_meta)
    key_cols = list(key_cols or keys.columns)
    exprs, eq_ids = _key_exprs(fields, key_cols, "equality_delete")
    part, staging = _stage_one_parquet(
        keys.select(*exprs).distinct(), path, "eqdel"
    )
    n_keys = _pq.ParquetFile(part).metadata.num_rows if part else 0
    if not n_keys:
        shutil.rmtree(staging, ignore_errors=True)
        return {"snapshot_id": None, "keys_deleted": 0, "version": prev_version}
    prev_list = _current_manifests(prev_meta)
    snapshot_id = _new_snapshot_id()
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    dpath = os.path.join(
        data_dir, f"eqdelete-{snapshot_id}-{uuid.uuid4().hex}.parquet"
    )
    os.replace(part, dpath)
    shutil.rmtree(staging, ignore_errors=True)
    seq = prev_meta.get("last-sequence-number", 0) + 1
    mf_entries = list(prev_list) + [
        _write_manifest(
            os.path.join(meta_dir, f"man-eqdel-{snapshot_id}.avro"),
            _eq_manifest_entry_schema(),
            [
                _added_entry(
                    snapshot_id, 2, dpath, n_keys, os.path.getsize(dpath),
                    equality_ids=eq_ids,
                )
            ],
            prev_meta.get("default-spec-id", 0), 1, seq, snapshot_id,
        )
    ]
    version = _publish_snapshot(
        path,
        prev_meta,
        prev_version,
        snapshot_id,
        mf_entries,
        seq,
        {
            "operation": "delete",
            "added-delete-files": "1",
            "added-equality-deletes": str(n_keys),
        },
    )
    return {
        "snapshot_id": snapshot_id,
        "keys_deleted": int(n_keys),
        "version": version,
    }


def upsert_iceberg_eq(spark, path: str, source, key_cols: list[str]) -> dict:
    """CDC upsert as ONE Iceberg v2 row-delta snapshot: an equality-
    delete file on ``source``'s distinct keys PLUS the full source
    rows as a new data file, committed atomically in a single metadata
    version (a delete-then-append pair would expose a keys-deleted/
    rows-missing state to a reader between the commits).  Both
    manifests share the snapshot's sequence number S; the spec's
    strict ``data_seq < S`` rule means the delete erases every OLDER
    row for the keys while the rows added in this same snapshot
    survive — the sequence mechanics ARE the upsert.  No target read
    happens at any point: cost is O(change set), the property that
    makes per-micro-batch CDC apply viable on a 100 TB table
    (foreachBatch → upsert_iceberg_eq, the Iceberg twin of
    streaming_cdc_upsert's Delta MERGE which must join every batch
    against the target).  Unpartitioned tables only (new rows for a
    partitioned spec need the write-side transform machinery, same
    constraint as update_iceberg).  Returns {"snapshot_id",
    "rows_upserted", "version"}."""
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.iceberg import _ice_to_spark_type

    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(f"upsert target is not an iceberg table: {path}")
    if _default_spec_fields(prev_meta):
        raise UnsupportedFormat(
            "upsert_iceberg_eq supports UNPARTITIONED tables; partitioned "
            "targets need write-side transforms for the new rows"
        )
    fields = _schema_fields(prev_meta)
    colnames = [f["name"] for f in fields]
    missing = [c for c in colnames if c not in source.columns]
    if missing:
        raise UnsupportedFormat(
            f"upsert source is missing table column(s) {missing}"
        )
    _key, eq_ids = _key_exprs(fields, list(key_cols), "upsert")
    conform = []
    for f in fields:
        t = _ice_to_spark_type(f["type"])
        c = F.col(f["name"])
        conform.append((c.cast(t) if t is not None else c).alias(f["name"]))
    src = source.select(*conform)
    # ONE Spark job, N tasks: each task stages its own add file (with
    # task-side bounds) plus its per-task-distinct keys from the same
    # pass — no keys-only second pass (guide §1.2), no coalesce(1)
    # serialization of the change set (guide §2)
    add_parts, del_part, staging, n_rows, n_keys = _stage_upsert_parts(
        src, path, list(key_cols), fields
    )
    if not n_rows:
        shutil.rmtree(staging, ignore_errors=True)
        return {"snapshot_id": None, "rows_upserted": 0, "version": prev_version}
    if n_keys != n_rows:
        # two changes for one key in a single batch: the eq-delete
        # erases the OLD row but BOTH new images would land at
        # sequence S — a duplicate-keyed table, silently.  Delta's
        # MERGE raises on duplicate source keys for the same reason;
        # the caller must reduce the batch first (cdc_upsert's
        # latest_per_key is the standard reduction).
        shutil.rmtree(staging, ignore_errors=True)
        raise UnsupportedFormat(
            f"upsert source has duplicate keys ({n_rows} rows, "
            f"{n_keys} distinct {key_cols}): reduce to one change per "
            "key first (e.g. streaming.cdc_upsert.latest_per_key)"
        )
    prev_list = _current_manifests(prev_meta)
    snapshot_id = _new_snapshot_id()
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    dpath = os.path.join(
        data_dir, f"eqdelete-{snapshot_id}-{uuid.uuid4().hex}.parquet"
    )
    os.replace(del_part, dpath)
    adds_final = []  # (path, rows, size, lowers, uppers)
    for add_part, a_rows, a_size, lowers, uppers in add_parts:
        apath = os.path.join(
            data_dir, f"{snapshot_id}-{uuid.uuid4().hex}.parquet"
        )
        os.replace(add_part, apath)
        adds_final.append((apath, a_rows, a_size, lowers, uppers))
    shutil.rmtree(staging, ignore_errors=True)
    seq = prev_meta.get("last-sequence-number", 0) + 1
    spec_id = prev_meta.get("default-spec-id", 0)
    total_added = sum(a_rows for _p, a_rows, _sz, _lo, _up in adds_final)
    mf_entries = list(prev_list) + [
        _write_manifest(
            os.path.join(meta_dir, f"man-eqdel-{snapshot_id}.avro"),
            _eq_manifest_entry_schema(),
            [
                _added_entry(
                    snapshot_id, 2, dpath, n_keys, os.path.getsize(dpath),
                    equality_ids=eq_ids,
                )
            ],
            spec_id, 1, seq, snapshot_id,
        ),
        _write_manifest(
            os.path.join(meta_dir, f"man-{snapshot_id}.avro"),
            _manifest_entry_schema([]),
            [_added_entry(snapshot_id, 0, *add) for add in adds_final],
            spec_id, 0, seq, snapshot_id,
        ),
    ]
    version = _publish_snapshot(
        path,
        prev_meta,
        prev_version,
        snapshot_id,
        mf_entries,
        seq,
        {
            "operation": "overwrite",
            "added-delete-files": "1",
            "added-equality-deletes": str(n_keys),
            "added-data-files": str(len(adds_final)),
            "added-records": str(total_added),
        },
    )
    return {
        "snapshot_id": snapshot_id,
        "rows_upserted": int(n_rows),
        "version": version,
    }


def _entry_schema_with_seq(entry_schema: dict) -> dict:
    """Entry schema with an entry-level optional ``sequence_number``
    (inserted after snapshot_id if absent) — required for EXISTING
    entries, which must record their original data sequence explicitly
    (spec: sequence inheritance applies only to ADDED entries)."""
    schema = json.loads(json.dumps(entry_schema))  # deep copy
    fields = schema["fields"]
    if any(f["name"] == "sequence_number" for f in fields):
        return schema
    at = next(
        (i + 1 for i, f in enumerate(fields) if f["name"] == "snapshot_id"),
        1,
    )
    fields.insert(at, {"name": "sequence_number", "type": ["null", "long"]})
    return schema


def rewrite_manifests_iceberg(path: str, *, min_group: int = 2) -> dict:
    """Iceberg's ``rewrite_manifests`` maintenance action: consolidate
    the current snapshot's many small DATA manifests into one manifest
    per partition-spec — PURE METADATA, no data file moves, no row
    reads.  Every commit this writer makes mints a manifest, so a long
    history accumulates tiny manifests: the small-file problem at the
    metadata tier, paid on EVERY scan's planning walk.  After the
    rewrite, planning opens one manifest per spec instead of one per
    historical commit.

    Carried entries are status=0 EXISTING with their ORIGINAL
    snapshot_id and an EXPLICIT per-entry ``sequence_number`` (the
    source manifest's, or the entry's own if it was already carried) —
    the spec's existing-entry rule, and what keeps equality-delete
    visibility (strict ``data_seq < delete_seq``) exact across the
    rewrite.  The reader and every DML scan resolve per-entry sequence
    first (sources/iceberg.py, _scan_snapshot_files).  DELETE manifests
    are left as-is: they are few (compaction is their lifecycle), and
    merging mixed pos/eq schemas buys nothing.  The commit is a
    ``replace`` snapshot (same data, new layout) — the changelog scan
    skips it as physical reorg, exactly like compaction.

    Returns {"snapshot_id", "manifests_before", "manifests_after",
    "version"} (no-op when nothing consolidates: snapshot_id None).
    """
    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(
            f"rewrite_manifests target is not an iceberg table: {path}"
        )
    prev_list = _current_manifests(prev_meta)
    groups: dict[int, list[dict]] = {}
    keep_mf: list[dict] = []
    for m in prev_list:
        if m.get("content", 0) == 0:
            groups.setdefault(int(m.get("partition_spec_id", 0)), []).append(m)
        else:
            keep_mf.append(m)
    if all(len(g) < min_group for g in groups.values()):
        return {
            "snapshot_id": None,
            "manifests_before": len(prev_list),
            "manifests_after": len(prev_list),
            "version": prev_version,
        }
    snapshot_id = _new_snapshot_id()
    seq = prev_meta.get("last-sequence-number", 0) + 1
    new_mf: list[dict] = []
    n_entries = 0
    for spec_id, ms in sorted(groups.items()):
        if len(ms) < min_group:
            new_mf.extend(ms)
            continue
        entry_schema = None
        merged: list[dict] = []
        for m in ms:
            schema_m, entries = read_container(m["manifest_path"])
            entry_schema = entry_schema or schema_m
            m_seq = int(m.get("sequence_number") or 0)
            for e in entries:
                if e.get("status", 0) == 2:
                    continue
                e_seq = e.get("sequence_number")
                merged.append(
                    {
                        **e,
                        "status": 0,
                        "sequence_number": (
                            m_seq if e_seq is None else int(e_seq)
                        ),
                    }
                )
        n_entries += len(merged)
        new_mf.append(
            _write_manifest(
                os.path.join(
                    meta_dir, f"man-rewrite-{snapshot_id}-{spec_id}.avro"
                ),
                _entry_schema_with_seq(entry_schema),
                merged,
                spec_id, 0, seq, snapshot_id,
            )
        )
    new_mf.extend(keep_mf)
    version = _publish_snapshot(
        path,
        prev_meta,
        prev_version,
        snapshot_id,
        new_mf,
        seq,
        {
            "operation": "replace",
            "manifests-replaced": str(
                sum(len(g) for g in groups.values() if len(g) >= min_group)
            ),
            "manifests-created": str(
                sum(1 for g in groups.values() if len(g) >= min_group)
            ),
            "total-data-files": str(n_entries),
        },
    )
    return {
        "snapshot_id": snapshot_id,
        "manifests_before": len(prev_list),
        "manifests_after": len(new_mf),
        "version": version,
    }


def rewrite_data_files_iceberg(
    spark,
    path: str,
    *,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    min_input_files: int = 2,
    strategy: str = "binpack",
    sort_order: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """Iceberg's ``rewrite_data_files``: ``strategy="binpack"`` groups
    SMALL data files per partition up to ``target_file_size_bytes``
    and rewrites each group as one file; ``strategy="sort"``
    (``sort_order=[cols]``) and ``strategy="zorder"``
    (``zorder_by=[cols]``) rewrite EVERY group with >=
    ``min_input_files`` files CLUSTERED — range-partitioned and
    sorted on the sort columns, or along the Morton curve of the
    z-order columns (operators/zorder.py's compiled bin +
    interleave expressions) — so each output file's manifest
    lower/upper bounds are tight on the clustering columns and later
    selective scans prune to few files (the runtime's sort/zorder
    strategies; file-skipping is the whole point of sorted rewrites
    at 100 TB).  All strategies commit a single ``replace`` snapshot
    — the DATA-tier answer to the small files a long-running
    streaming CDC sink mints one-per-micro-batch
    (streaming/cdc_upsert.py), where :func:`rewrite_manifests_iceberg`
    only fixed the metadata tier.  Clustered rewrites run one Spark
    job per file group (the runtime's per-file-group execution model:
    each job reads only its own group's files), splitting each group
    into ``ceil(group_bytes / target_file_size_bytes)`` range-disjoint
    files.

    Semantics mirror the runtime's action:

    * rewritten rows are the VISIBLE rows of the input files —
      position AND equality deletes apply during the rewrite scan, so
      the new files (committed at the NEW data sequence, above every
      existing delete) need no deletes; untouched files CARRY their
      original sequence numbers explicitly (status=0 EXISTING, the
      rewrite_manifests rule), so existing equality deletes keep
      applying to them under the strict ``data_seq < delete_seq`` rule;
    * delete manifests carry verbatim (they may still prune untouched
      files; fully-superseded ones fall to compact/expire);
    * data manifests with NO rewritten entry carry verbatim — the
      rewrite touches only the metadata it must;
    * refs and prior snapshots are untouched: time travel to
      pre-compaction snapshots reads the old (still on-disk) files,
      and physical reclamation stays expire_snapshots' job;
    * adopted files' identity partition constants materialize INTO
      the rewritten files (the same projection the readers use), and
      every output file's manifest entry records its partition tuple,
      so pruning survives the rewrite.

    Returns {"snapshot_id", "files_rewritten", "files_added",
    "files_untouched", "version"}; nothing to pack returns
    snapshot_id None."""
    from pyspark.sql import functions as F

    if strategy not in ("binpack", "sort", "zorder"):
        raise ValueError(
            f"rewrite_data_files: unknown strategy {strategy!r} "
            "(binpack | sort | zorder)"
        )
    cluster_cols = list(
        (sort_order if strategy == "sort" else zorder_by) or []
    )
    if strategy != "binpack" and not cluster_cols:
        raise ValueError(
            f"rewrite_data_files: strategy={strategy!r} needs "
            f"{'sort_order' if strategy == 'sort' else 'zorder_by'}=[cols]"
        )
    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(
            f"rewrite_data_files target is not an iceberg table: {path}"
        )
    prev_list = _current_manifests(prev_meta)
    # walk: data entries with resolved seqs; delete files for the
    # visible-row rewrite scan; per-manifest bookkeeping for carries
    data_seq_of: dict[str, int] = {}
    pos_delete_paths: list[str] = []
    eq_delete_files: list[tuple[str, int]] = []
    manifests: list[tuple[dict, dict | None, list[dict]]] = []
    for m in prev_list:
        if m.get("content", 0) == 1:
            _s2, entries = read_container(m["manifest_path"])
            m_seq = int(m.get("sequence_number") or 0)
            for e in entries:
                if e.get("status", 0) == 2:
                    continue
                e_seq = e.get("sequence_number")
                seq = m_seq if e_seq is None else int(e_seq)
                rec = e["data_file"]
                if str(rec.get("file_format", "")).upper() == "PUFFIN":
                    raise UnsupportedFormat(
                        "rewrite_data_files on a table with live v3 "
                        "deletion vectors is not supported yet — run "
                        "compact_iceberg first (it materializes DV "
                        "debt), then rewrite"
                    )
                if rec.get("content", 1) == 2:
                    eq_delete_files.append((rec["file_path"], seq))
                else:
                    pos_delete_paths.append(rec["file_path"])
            manifests.append((m, None, []))
            continue
        schema_m, entries = read_container(m["manifest_path"])
        m_seq = int(m.get("sequence_number") or 0)
        live = []
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            e_seq = e.get("sequence_number")
            seq = m_seq if e_seq is None else int(e_seq)
            data_seq_of[e["data_file"]["file_path"]] = seq
            live.append(e)
        manifests.append((m, schema_m, live))

    # ---- select: per (spec, partition tuple).  binpack takes files
    # under the size target and bins them up to it; sort/zorder take
    # EVERY group (clustering rewrites regardless of size — the files
    # are assumed unsorted).  Only groups/bins with >=
    # min_input_files pay off.
    groups: dict[tuple, list[dict]] = {}
    for m, schema_m, live in manifests:
        if schema_m is None:
            continue
        spec_id = m.get("partition_spec_id", 0)
        for e in live:
            rec = e["data_file"]
            if strategy == "binpack" and int(
                rec.get("file_size_in_bytes") or 0
            ) >= int(target_file_size_bytes):
                continue
            key = (
                spec_id,
                json.dumps(rec.get("partition"), sort_keys=True, default=str),
            )
            groups.setdefault(key, []).append(e)
    bins: list[tuple[int, list[dict]]] = []  # (spec_id, entries)
    for key in sorted(groups):
        spec_id = key[0]
        es = sorted(
            groups[key], key=lambda e: e["data_file"]["file_path"]
        )
        if strategy != "binpack":
            if len(es) >= min_input_files:
                bins.append((spec_id, es))
            continue
        cur: list[dict] = []
        cur_bytes = 0
        for e in es:
            sz = int(e["data_file"].get("file_size_in_bytes") or 0)
            if cur and cur_bytes + sz > int(target_file_size_bytes):
                if len(cur) >= min_input_files:
                    bins.append((spec_id, cur))
                cur, cur_bytes = [], 0
            cur.append(e)
            cur_bytes += sz
        if len(cur) >= min_input_files:
            bins.append((spec_id, cur))
    if not bins:
        return {
            "snapshot_id": None,
            "files_rewritten": 0,
            "files_added": 0,
            "files_untouched": len(data_seq_of),
            "version": prev_version,
        }
    selected = {
        e["data_file"]["file_path"]: i
        for i, (_sid, b) in enumerate(bins)
        for e in b
    }
    # entry schema per spec — a mixed-spec add manifest would bind one
    # partition record shape to another spec's tuples
    schema_of_spec: dict[int, dict] = {}
    for m, schema_m, live in manifests:
        if schema_m is None:
            continue
        if any(e["data_file"]["file_path"] in selected for e in live):
            schema_of_spec.setdefault(m.get("partition_spec_id", 0), schema_m)

    # ---- rewrite: VISIBLE rows of the selected files (deletes
    # applied), regrouped under a synthetic bin column so the whole
    # rewrite is ONE distributed write; repartition on the bin keeps
    # each bin in one task → exactly one output file per bin
    fields = _schema_fields(prev_meta)
    colnames = [f["name"] for f in fields]
    if cluster_cols:
        missing = [c for c in cluster_cols if c not in colnames]
        if missing:
            raise ValueError(
                f"rewrite_data_files: clustering columns {missing} not "
                f"in the current schema {colnames}"
            )
    snapshot_id = _new_snapshot_id()
    part_proj = _adoption_projection(prev_meta, prev_list)
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    # direct task-side write (the write_iceberg kernel): each task
    # writes its bins' files straight into data/ with footer bounds
    # computed in the same pass — no staging dir, no driver rename
    # walk, no second bounds job (guide §5/§6: the staged shape paid
    # ~18 ms/file of committer overhead plus two extra passes)
    written: list[tuple[int, str, int, int, dict, dict]] = []
    if strategy == "binpack":
        kept = _visible_target(
            spark,
            {p: data_seq_of[p] for p in selected},
            pos_delete_paths,
            eq_delete_files,
            meta=prev_meta,
            part_proj=part_proj,
        )
        bin_map = local_frame(
            spark,
            [(os.path.abspath(p), i) for p, i in sorted(selected.items())],
            "_ifile string, _bin int",
        )
        staged = (
            kept.join(F.broadcast(bin_map), "_ifile")
            .select(*colnames, "_bin")
            .repartition(len(bins), "_bin")
        )
        for parts, dst, rows, size, lowers, uppers in (
            _write_data_files_direct(
                staged, len(colnames), data_dir, snapshot_id, fields,
                "snappy",
            )
        ):
            written.append((int(parts[0]), dst, rows, size, lowers, uppers))
    else:
        # one Spark job per file group (the runtime's per-file-group
        # execution model — each job scans ONLY its group's files),
        # each group split into range-disjoint clustered files
        from pg_analytics_spark.operators.zorder import (
            zorder_bins,
            zorder_key_expr,
        )

        for b, (_sid, es) in enumerate(bins):
            gfiles = {
                e["data_file"]["file_path"]: data_seq_of[
                    e["data_file"]["file_path"]
                ]
                for e in es
            }
            gbytes = sum(
                int(e["data_file"].get("file_size_in_bytes") or 0)
                for e in es
            )
            n_out = max(
                1, -(-gbytes // max(1, int(target_file_size_bytes)))
            )
            kept_g = _visible_target(
                spark,
                gfiles,
                pos_delete_paths,
                eq_delete_files,
                meta=prev_meta,
                part_proj=part_proj,
            ).select(*colnames)
            if strategy == "sort":
                clustered = kept_g.repartitionByRange(
                    n_out, *cluster_cols
                ).sortWithinPartitions(*cluster_cols)
            else:
                binned, bin_cols = zorder_bins(kept_g, cluster_cols)
                clustered = (
                    binned.withColumn(
                        "__zkey", zorder_key_expr(bin_cols, 8)
                    )
                    .repartitionByRange(n_out, "__zkey")
                    .sortWithinPartitions("__zkey")
                    .select(*colnames)
                )
            # constant trailing _bin keeps the kernel on its
            # partitioned path (one sorted file per range task; an
            # all-deleted group yields zero files, not a schema stub)
            for parts, dst, rows, size, lowers, uppers in (
                _write_data_files_direct(
                    clustered.withColumn("_bin", F.lit(b)),
                    len(colnames), data_dir, snapshot_id, fields,
                    "snappy",
                )
            ):
                written.append(
                    (int(parts[0]), dst, rows, size, lowers, uppers)
                )
    seq = prev_meta.get("last-sequence-number", 0) + 1
    new_by_spec: dict[int, list[dict]] = {}
    n_added = 0
    for b, dst, rows, size, lowers, uppers in written:
        spec_id, bin_entries = bins[b]
        entry = _added_entry(
            snapshot_id, 0, dst, rows, size, lowers, uppers,
            partition=bin_entries[0]["data_file"].get("partition"),
        )
        new_by_spec.setdefault(spec_id, []).append(
            {**entry, "sequence_number": seq}
        )
        n_added += 1

    # ---- manifests: delete + untouched-data manifests carry
    # VERBATIM; manifests that lost entries re-emit their survivors
    # as EXISTING with explicit original sequences; one new manifest
    # holds the packed files
    new_mf: list[dict] = []
    n_untouched = 0
    for m, schema_m, live in manifests:
        if schema_m is None:
            new_mf.append(m)  # delete manifest, carried verbatim
            continue
        hit = [e for e in live if e["data_file"]["file_path"] in selected]
        if not hit:
            new_mf.append(m)
            n_untouched += len(live)
            continue
        survivors = [
            {
                **e,
                "status": 0,
                "sequence_number": data_seq_of[e["data_file"]["file_path"]],
            }
            for e in live
            if e["data_file"]["file_path"] not in selected
        ]
        n_untouched += len(survivors)
        if not survivors:
            continue
        new_mf.append(
            _write_manifest(
                os.path.join(
                    meta_dir,
                    f"man-rwsurv-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro",
                ),
                _entry_schema_with_seq(schema_m),
                survivors,
                m.get("partition_spec_id", 0), 0, seq, snapshot_id,
            )
        )
    for spec_id in sorted(new_by_spec):
        new_mf.append(
            _write_manifest(
                os.path.join(
                    meta_dir, f"man-rwadd-{snapshot_id}-{spec_id}.avro"
                ),
                _entry_schema_with_seq(schema_of_spec[spec_id]),
                new_by_spec[spec_id],
                spec_id, 0, seq, snapshot_id,
            )
        )
    version = _publish_snapshot(
        path,
        prev_meta,
        prev_version,
        snapshot_id,
        new_mf,
        seq,
        {
            "operation": "replace",
            "added-data-files": str(n_added),
            "deleted-data-files": str(len(selected)),
            "added-records": str(
                sum(
                    int(e["data_file"].get("record_count") or 0)
                    for es in new_by_spec.values()
                    for e in es
                )
            ),
            "total-data-files": str(n_untouched + n_added),
        },
    )
    return {
        "snapshot_id": snapshot_id,
        "files_rewritten": len(selected),
        "files_added": n_added,
        "files_untouched": n_untouched,
        "version": version,
    }


def remove_orphan_files_iceberg(
    path: str, *, older_than_hours: float = 72.0
) -> dict:
    """Iceberg's ``remove_orphan_files`` maintenance action: delete
    files under the table location that NO metadata version and NO
    snapshot references — the debris of failed/aborted writes and of
    expire_snapshots' dropped history.  The referenced set is built
    from EVERY surviving metadata version (all their snapshots'
    manifest lists → manifests → data/delete file paths) plus the
    metadata files themselves, so a concurrent reader of any
    resolvable version never loses a file; ``older_than_hours``
    (default 3 days, the runtime's default) additionally protects
    in-flight writers staging files that are not yet committed.
    Never follows paths OUTSIDE the table root.

    A metadata JSON, manifest list or manifest that exists but cannot
    be read raises ``UnsupportedFormat`` naming it, before any file is
    unlinked: the files it references would otherwise drop out of the
    referenced set and be deleted.  A manifest list or manifest that
    no longer exists (an expired snapshot's) is skipped.  Returns
    {"files_deleted", "bytes_deleted", "files_kept"}."""
    import time as _time

    def _unreadable(what: str, f: str, e: Exception):
        return UnsupportedFormat(
            f"remove_orphan_files: cannot read {what} {f} ({e}); "
            "refusing to sweep — the files it references would be "
            "deleted"
        )

    meta_dir = os.path.join(path, "metadata")
    if not os.path.isdir(meta_dir):
        raise UnsupportedFormat(
            f"remove_orphan_files target is not an iceberg table: {path}"
        )
    root = os.path.abspath(path)
    referenced: set[str] = set()
    for name in os.listdir(meta_dir):
        full = os.path.join(meta_dir, name)
        if name.endswith(".metadata.json"):
            referenced.add(os.path.abspath(full))
            try:
                with open(full) as fh:
                    meta = json.load(fh)
            except (OSError, ValueError) as e:
                raise _unreadable("metadata", full, e) from e
            # Puffin statistics files are part of the referenced set —
            # an orphan sweep must never delete a live stats file
            for st in meta.get("statistics", []):
                if st.get("statistics-path"):
                    referenced.add(os.path.abspath(st["statistics-path"]))
            for snap in meta.get("snapshots", []):
                ml = snap.get("manifest-list")
                if not ml or not os.path.isfile(ml):
                    continue
                referenced.add(os.path.abspath(ml))
                try:
                    _s, mlist = read_container(ml)
                except Exception as e:
                    raise _unreadable("manifest list", ml, e) from e
                for m in mlist:
                    mp = m["manifest_path"]
                    referenced.add(os.path.abspath(mp))
                    if not os.path.isfile(mp):
                        continue
                    try:
                        _s2, entries = read_container(mp)
                    except Exception as e:
                        raise _unreadable("manifest", mp, e) from e
                    for e in entries:
                        # status=2 DELETED entries still name a real
                        # file other snapshots may reference; keep
                        referenced.add(
                            os.path.abspath(e["data_file"]["file_path"])
                        )
        elif name == "version-hint.text":
            referenced.add(os.path.abspath(full))
    cutoff = _time.time() - older_than_hours * 3600.0
    deleted = freed = kept = 0
    for walk_root, _dirs, names in os.walk(root):
        for name in names:
            full = os.path.abspath(os.path.join(walk_root, name))
            if full in referenced:
                kept += 1
                continue
            st = os.stat(full)
            if st.st_mtime > cutoff:
                kept += 1
                continue
            freed += st.st_size
            os.unlink(full)
            deleted += 1
    for walk_root, dirs, names in os.walk(root, topdown=False):
        if walk_root != root and not dirs and not names:
            try:
                os.rmdir(walk_root)
            except OSError:
                pass
    return {
        "files_deleted": deleted,
        "bytes_deleted": freed,
        "files_kept": kept,
    }


def expire_iceberg_snapshots(
    spark, path: str, *, retain_last: int = 1
) -> dict:
    """Iceberg's ``expire_snapshots`` maintenance procedure — the
    other half of the MoR cost model beside :func:`compact_iceberg`:
    drop all but the most recent ``retain_last`` snapshots from the
    table metadata, then PHYSICALLY delete every data/delete file and
    manifest referenced ONLY by the dropped snapshots.  The current
    snapshot is always retained.

    Snapshot REFS are retention roots (spec §refs / the runtime's
    branch-and-tag retention): a TAGGED snapshot is pinned forever
    until the tag is dropped, and a BRANCH keeps its head plus its
    ref-exclusive ancestry — every parent back to the nearest
    snapshot the main-lineage policy already retains.  That chain is
    exactly the branch's unpublished commits (the WAP audit window),
    so it is small by construction AND it keeps
    :func:`fast_forward_iceberg`'s parent-pointer ancestry walk
    intact: a staged-but-unpublished branch survives an expire
    between stage and publish and still fast-forwards.
    ``expire_snapshots`` therefore never publishes a metadata version
    whose ``refs`` point at a missing snapshot.  Drop the ref first
    (:func:`alter_iceberg_refs` ``drop=``) to reclaim pinned files.

    The trimmed snapshot list commits as a NEW metadata version
    (put-if-absent, like every writer here), so readers racing the
    expiry keep resolving a complete table; time travel to an expired
    snapshot fails with the standard missing-version error.  Returns
    {"snapshots_expired", "files_deleted", "bytes_deleted",
    "version"}.
    """
    from pg_analytics_spark.sources.avro import read_container

    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(f"expire target is not an iceberg table: {path}")
    snaps = list(prev_meta.get("snapshots", []))
    if len(snaps) <= retain_last:
        return {
            "snapshots_expired": 0,
            "files_deleted": 0,
            "bytes_deleted": 0,
            "version": prev_version,
        }
    snaps_sorted = sorted(snaps, key=lambda s: s["sequence-number"])
    by_id = {s["snapshot-id"]: s for s in snaps}
    current_id = prev_meta["current-snapshot-id"]
    kept_ids = {s["snapshot-id"] for s in snaps_sorted[-retain_last:]}
    kept_ids.add(current_id)
    # refs are retention ROOTS: tags pin their snapshot forever;
    # branches keep head + ref-exclusive ancestry (walk parents until
    # hitting an otherwise-retained snapshot or main's lineage) so
    # fast_forward's ancestry walk — and time travel within the audit
    # window — stay intact.  Shared ancestry BELOW main's retained
    # window may still expire: a branch rooted there has diverged from
    # main and fast_forward refuses it regardless.
    base_kept = set(kept_ids)
    main_anc: set = set()
    node = current_id
    while node is not None and node not in main_anc:
        main_anc.add(node)
        node = (by_id.get(node) or {}).get("parent-snapshot-id")
    stop = base_kept | main_anc
    # per-ref retention fields (spec §refs, the runtime's branch/tag
    # retention): a ref past its max-ref-age-ms (measured from its
    # snapshot's commit time) ages OUT of the refs map and stops
    # pinning anything; a branch's ancestry is bounded by
    # min-snapshots-to-keep (head always kept, default 1) and
    # max-snapshot-age-ms (older ancestors release once the minimum
    # is satisfied).  Absent fields keep today's safe default: the
    # whole ref-exclusive ancestry back to main's retained lineage.
    import time as _time

    now_ms = int(_time.time() * 1000)
    refs_out = dict(prev_meta.get("refs") or {})
    for _name, ref in list(refs_out.items()):
        rid = ref.get("snapshot-id")
        if rid not in by_id:
            raise UnsupportedFormat(
                f"refusing to expire {path}: ref {_name!r} points at "
                f"snapshot {rid} which is not in the table metadata"
            )
        max_ref_age = ref.get("max-ref-age-ms")
        if (
            max_ref_age is not None
            and now_ms - int(by_id[rid].get("timestamp-ms") or 0)
            > int(max_ref_age)
        ):
            del refs_out[_name]  # aged out: no longer a retention root
            continue
        if ref.get("type") == "branch":
            min_keep = int(ref.get("min-snapshots-to-keep") or 1)
            max_age = ref.get("max-snapshot-age-ms")
            node = rid
            kept_n = 0
            while node is not None:
                if node != rid and node in stop:
                    break
                if (
                    node != rid
                    and kept_n >= min_keep
                    and max_age is not None
                    and now_ms
                    - int((by_id.get(node) or {}).get("timestamp-ms") or 0)
                    > int(max_age)
                ):
                    break
                kept_ids.add(node)
                kept_n += 1
                node = (by_id.get(node) or {}).get("parent-snapshot-id")
        else:
            kept_ids.add(rid)
    kept = [s for s in snaps_sorted if s["snapshot-id"] in kept_ids]
    dropped = [s for s in snaps_sorted if s["snapshot-id"] not in kept_ids]
    if not dropped:
        return {
            "snapshots_expired": 0,
            "files_deleted": 0,
            "bytes_deleted": 0,
            "version": prev_version,
        }

    def _referenced(snapshot) -> tuple[set, set]:
        """(data/delete file paths, manifest-level file paths)."""
        data_files: set = set()
        meta_files = {snapshot["manifest-list"]}
        _s, mlist = read_container(snapshot["manifest-list"])
        for m in mlist:
            meta_files.add(m["manifest_path"])
            _s2, entries = read_container(m["manifest_path"])
            for e in entries:
                if e.get("status", 0) == 2:
                    continue
                data_files.add(e["data_file"]["file_path"])
        return data_files, meta_files

    keep_data: set = set()
    keep_meta: set = set()
    for s in kept:
        d, mt = _referenced(s)
        keep_data |= d
        keep_meta |= mt
    drop_data: set = set()
    drop_meta: set = set()
    for s in dropped:
        d, mt = _referenced(s)
        drop_data |= d
        drop_meta |= mt

    new_meta = dict(prev_meta)
    new_meta["refs"] = refs_out  # aged-out refs leave the map here
    new_meta["snapshots"] = [
        s for s in snaps if s["snapshot-id"] in kept_ids
    ]
    new_meta["snapshot-log"] = [
        e
        for e in prev_meta.get("snapshot-log", [])
        if e["snapshot-id"] in kept_ids
    ]
    # statistics files of EXPIRED snapshots drop with them (the
    # runtime's expireSnapshots does the same); kept-snapshot stats
    # stay referenced
    dropped_stats = [
        s
        for s in prev_meta.get("statistics", [])
        if s.get("snapshot-id") not in kept_ids
    ]
    if prev_meta.get("statistics"):
        new_meta["statistics"] = [
            s
            for s in prev_meta["statistics"]
            if s.get("snapshot-id") in kept_ids
        ]
    # invariant: the emitted metadata NEVER carries a dangling ref
    for _name, ref in (new_meta.get("refs") or {}).items():
        if ref.get("snapshot-id") not in kept_ids:
            raise AssertionError(
                f"internal: expire would dangle ref {_name!r} at "
                f"{ref.get('snapshot-id')} — retention-root union bug"
            )
    version = _publish_metadata_version(path, new_meta, prev_version)

    # physical deletion AFTER the commit: a crash mid-delete leaves
    # only orphans (re-expire cleans them), never a broken table
    n_del = 0
    bytes_del = 0
    stats_paths = {
        s["statistics-path"] for s in dropped_stats if s.get("statistics-path")
    }
    for f in sorted(
        (drop_data - keep_data) | (drop_meta - keep_meta) | stats_paths
    ):
        try:
            bytes_del += os.path.getsize(f)
            os.unlink(f)
            n_del += 1
        except OSError:
            pass
    return {
        "snapshots_expired": len(dropped),
        "files_deleted": n_del,
        "bytes_deleted": bytes_del,
        "version": version,
    }


#: spark/duckdb-ish type-name → iceberg type, for DECLARED identity
#: partition columns on adoption (the partition-tuple avro encoding
#: supports int/long/string/date — same set the native writer allows)
_ADOPT_PART_TYPES = {
    "int": "int",
    "integer": "int",
    "long": "long",
    "bigint": "long",
    "string": "string",
    "varchar": "string",
    "text": "string",
    "date": "date",
}


def _typed_tuple_value(raw: str | None, ice_t: str):
    """Hive/Delta-serialized partition value string → the python value
    the manifest partition tuple stores (dates as epoch days)."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if ice_t in ("int", "long"):
        return int(raw)
    if ice_t == "date":
        import datetime as dt

        return (dt.date.fromisoformat(raw) - dt.date(1970, 1, 1)).days
    return raw


def _mint_adopted_table(
    spark,
    target_path: str,
    fields: list[dict],
    part_decls: list[tuple[str, str]],
    file_tuples: list[tuple[str, dict]],
    properties: dict,
) -> dict:
    """Shared metadata mint for ZERO-COPY adoption (`add_files` and
    Delta→Iceberg `snapshot`): one v1 metadata file whose first
    snapshot references foreign parquet files in place.  ``fields``
    is the full ordered schema (ids assigned); ``part_decls`` names
    the identity partition columns (with iceberg types) whose VALUES
    live in ``file_tuples`` rather than in the files; the minted
    properties always carry ``adoption.contains-foreign-files`` so
    the reader knows to project identity partition constants
    (sources/iceberg.py::_project_partition_constants) — hive-layout
    files do not CONTAIN their partition columns."""
    fid = {f["name"]: f["id"] for f in fields}
    part_fields = [
        {
            "source-id": fid[name],
            "field-id": 1000 + i,
            "name": name,
            "transform": "identity",
            "_ice_type": t,
        }
        for i, (name, t) in enumerate(part_decls)
    ]
    files = [p for p, _ in file_tuples]
    per_file = _bounds_for_files(spark, files, fields)
    snapshot_id = _new_snapshot_id()
    entries = []
    n_rows = 0
    for f, tup in file_tuples:
        lowers, uppers, rows, size = per_file[f]
        n_rows += rows
        part = {pf["name"]: (tup or {}).get(pf["name"]) for pf in part_fields}
        entries.append(
            _added_entry(
                snapshot_id, 0, f, rows, size, lowers, uppers,
                partition=part or None,
            )
        )
    meta_dir = os.path.join(target_path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    mlist = os.path.join(meta_dir, f"snap-{snapshot_id}.avro")
    mf_entries = [
        _write_manifest(
            os.path.join(meta_dir, f"man-snapshot-{snapshot_id}.avro"),
            _manifest_entry_schema(part_fields),
            entries,
            0, 0, 1, snapshot_id,
        )
    ]
    write_container(_MANIFEST_LIST_SCHEMA, mf_entries, mlist)
    now_ms = int(time.time() * 1000)
    nm = [{"field-id": f["id"], "names": [f["name"]]} for f in fields]
    spec_fields_public = [
        {k: v for k, v in pf.items() if not k.startswith("_")}
        for pf in part_fields
    ]
    meta = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "properties": {
            "schema.name-mapping.default": json.dumps(nm),
            "adoption.contains-foreign-files": "true",
            **properties,
        },
        "location": target_path,
        "last-sequence-number": 1,
        "last-column-id": len(fields),
        "current-snapshot-id": snapshot_id,
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "fields": fields}],
        "partition-specs": [{"spec-id": 0, "fields": spec_fields_public}],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(part_fields),
        "last-updated-ms": now_ms,
        "refs": {},
        "snapshots": [
            {
                "snapshot-id": snapshot_id,
                "manifest-list": mlist,
                "timestamp-ms": now_ms,
                "sequence-number": 1,
                "summary": {
                    "operation": "append",
                    **{
                        k: v
                        for k, v in properties.items()
                        if k.endswith(".source")
                    },
                },
            }
        ],
        "snapshot-log": [
            {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
        ],
    }
    version = _publish_metadata_version(target_path, meta, 0)
    return {"files": len(files), "rows": n_rows, "version": version}


def add_iceberg_files(
    spark,
    source_dir: str,
    target_path: str,
    *,
    partition_by: str | list[str] | None = None,
) -> dict:
    """ZERO-COPY hive-parquet→Iceberg adoption (the runtime's
    ``add_files`` procedure over a new table): mint a v2 Iceberg table
    at ``target_path`` whose first snapshot references every parquet
    file under ``source_dir`` in place — no data movement, O(files)
    metadata + one footer-stats pass.

    Hive-partitioned layouts must DECLARE their partition columns
    (``partition_by`` — ``"name"`` or ``"name type"`` entries; a bare
    name is STRING, the on-disk representation) exactly like CONVERT
    TO DELTA (sources/delta_write.convert_parquet_to_delta): hive
    INFERENCE would bake type guesses.  The identity partition spec
    records each file's partition tuple in its manifest entry, and the
    reader projects those values as CONSTANT columns at scan time —
    hive files do not contain the partition columns, which is also why
    a source file that DOES physically carry a declared partition
    column refuses loudly (two sources of truth).  Declared types are
    limited to int/long/string/date (the partition-tuple encoding the
    native writer uses).  After adoption the table takes every Iceberg
    operation: appends (which write native files that DO carry the
    source columns — the reader coalesces), deletes, compaction,
    time travel.  Returns {"files", "rows", "version"}."""
    src = os.path.abspath(source_dir)
    if not os.path.isdir(src):
        raise UnsupportedFormat(f"add_files source is not a dir: {src}")
    if os.path.isdir(os.path.join(target_path, "metadata")):
        raise UnsupportedFormat(
            f"add_files target already exists: {target_path}"
        )
    if os.path.isdir(os.path.join(src, "_delta_log")):
        raise UnsupportedFormat(
            "add_files source is a Delta table — use "
            "snapshot_delta_to_iceberg (the log, not the directory "
            "listing, is the source of truth for live files)"
        )
    decls = (
        [partition_by]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    part_decls: list[tuple[str, str]] = []
    for d in decls:
        name, _, t = d.strip().partition(" ")
        t = (t.strip() or "string").lower()
        if t not in _ADOPT_PART_TYPES:
            raise UnsupportedFormat(
                f"add_files partition column {name!r}: declared type "
                f"{t!r} unsupported — identity adoption supports "
                "int/long/string/date"
            )
        part_decls.append((name, _ADOPT_PART_TYPES[t]))
    part_names = [n for n, _ in part_decls]
    from urllib.parse import unquote

    data_files: list[str] = []
    for walk_root, _dirs, names in os.walk(src):
        for name in sorted(names):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                data_files.append(os.path.join(walk_root, name))
    if not data_files:
        raise UnsupportedFormat(f"no parquet files under {src}")
    data_files.sort()
    file_tuples: list[tuple[str, dict]] = []
    for f in data_files:
        rel = os.path.relpath(f, src).replace(os.sep, "/")
        raw: dict[str, str | None] = {}
        for seg in rel.split("/")[:-1]:
            if "=" in seg:
                k, _, v = seg.partition("=")
                raw[k] = unquote(v)
        missing = [c for c in part_names if c not in raw]
        if missing:
            raise UnsupportedFormat(
                f"declared partition column(s) {missing} not in the "
                f"hive path of {rel!r}"
            )
        extra = [k for k in raw if k not in part_names]
        if extra:
            raise UnsupportedFormat(
                f"file {rel!r} is hive-partitioned by {extra} — "
                "declare them via partition_by (inferring silently "
                "would bake string-typed guesses into the schema)"
            )
        tup = {
            n: _typed_tuple_value(raw[n], t) for n, t in part_decls
        }
        file_tuples.append((f, tup))
    # data schema from the FILES (explicit paths skip hive discovery,
    # which would re-infer — and type-guess — the partition columns)
    data_schema = (
        spark.read.option("mergeSchema", "true").parquet(*data_files).schema
    )
    clash = [n for n in part_names if n in data_schema.names]
    if clash:
        raise UnsupportedFormat(
            f"add_files: partition column(s) {clash} are physically "
            "present in the data files — identity projection would "
            "create two sources of truth; adopt with the column "
            "undeclared or rewrite the layout"
        )
    fields = [
        {
            "id": i + 1,
            "name": f.name,
            "type": _ice_type(f),
            "required": False,
        }
        for i, f in enumerate(data_schema.fields)
    ]
    for name, t in part_decls:
        fields.append(
            {"id": len(fields) + 1, "name": name, "type": t, "required": False}
        )
    return _mint_adopted_table(
        spark,
        target_path,
        fields,
        part_decls,
        file_tuples,
        {"add-files.source": src},
    )


def snapshot_delta_to_iceberg(spark, delta_path: str, target_path: str) -> dict:
    """ZERO-COPY Delta→Iceberg migration (the Iceberg runtime's
    ``snapshot`` procedure): mint a v2 Iceberg table at
    ``target_path`` whose first snapshot REFERENCES the Delta table's
    active parquet files by absolute path — no data movement, O(active
    files) metadata.  The files carry no Iceberg field ids, so the
    minted metadata seeds ``schema.name-mapping.default`` — the same
    mechanism this writer's own id-less files resolve through — and
    every subsequent Iceberg operation (appends, eq-deletes, upserts,
    compaction) works on the migrated table.

    PARTITIONED Delta sources migrate too (r11): the Delta log's
    per-file ``partitionValues`` become identity partition tuples in
    the minted manifest, and the reader projects them as constant
    columns at scan time (hive-style Delta files don't CONTAIN the
    partition columns) — partition sources typed int/long/string/date
    only, the partition-tuple encoding limit; others refuse.

    Refused loudly (each would silently corrupt): COLUMN-MAPPED
    sources (physical names differ from logical), and tables with
    LIVE deletion vectors (Iceberg would resurrect the erased rows) —
    rewrite those through a normal CTAS instead.  The source table is
    untouched and keeps working; like a shallow clone, VACUUM on the
    SOURCE is the one shared-fate hazard.  Returns {"files", "rows",
    "version"}."""
    from pg_analytics_spark.sources.delta import (
        _delta_type_to_spark,
        _replay_log,
    )

    log_dir = os.path.join(delta_path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise UnsupportedFormat(f"not a Delta table: {delta_path}")
    if os.path.isdir(os.path.join(target_path, "metadata")):
        raise UnsupportedFormat(
            f"snapshot target already exists: {target_path}"
        )
    active, meta_d = _replay_log(log_dir)
    if meta_d is None:
        raise UnsupportedFormat(f"no Delta metaData at {delta_path}")
    cfg_d = meta_d.get("configuration") or {}
    if cfg_d.get("delta.columnMapping.mode", "none") in ("name", "id"):
        raise UnsupportedFormat(
            "snapshot_delta_to_iceberg: column-mapped sources store "
            "PHYSICAL column names on disk — rewrite via CTAS"
        )
    if any(a.get("deletionVector") for a in active.values()):
        raise UnsupportedFormat(
            "snapshot_delta_to_iceberg: source has live deletion "
            "vectors — referencing its files would resurrect erased "
            "rows; compact the Delta table first (OPTIMIZE)"
        )
    spark_struct = _delta_type_to_spark(json.loads(meta_d["schemaString"]))
    fields = [
        {"id": i + 1, "name": f.name, "type": _ice_type(f), "required": False}
        for i, f in enumerate(spark_struct.fields)
    ]
    ftype = {f["name"]: f["type"] for f in fields}
    part_decls: list[tuple[str, str]] = []
    for c in meta_d.get("partitionColumns") or []:
        t = ftype.get(c)
        if t not in ("int", "long", "string", "date"):
            raise UnsupportedFormat(
                f"snapshot_delta_to_iceberg: partition column {c!r} "
                f"has type {t!r} — identity adoption supports "
                "int/long/string/date partition sources only; "
                "rewrite via CTAS"
            )
        part_decls.append((c, t))
    from pg_analytics_spark.sources.delta_write import _decode_log_path

    src = os.path.abspath(delta_path)
    file_tuples: list[tuple[str, dict]] = []
    for p in sorted(active):
        a = active[p]
        d = _decode_log_path(p)
        f = d if os.path.isabs(d) else os.path.join(src, d)
        pv = a.get("partitionValues") or {}
        tup = {
            c: _typed_tuple_value(pv.get(c), t) for c, t in part_decls
        }
        file_tuples.append((f, tup))
    return _mint_adopted_table(
        spark,
        target_path,
        fields,
        part_decls,
        file_tuples,
        {"snapshot.source": src},
    )


def _refs_after_commit(
    prev_meta: dict | None, branch: str | None, snapshot_id: int
) -> dict:
    refs = dict((prev_meta or {}).get("refs") or {})
    if branch is not None:
        refs[branch] = {"snapshot-id": snapshot_id, "type": "branch"}
    return refs


def fast_forward_iceberg(path: str, branch: str) -> dict:
    """PUBLISH a branch (WAP's last step / the runtime's
    ``fast_forward`` procedure): point the table's current snapshot at
    the branch head as one pure-metadata version.  Every snapshot the
    branch accumulated is already in the table metadata, so plain
    readers atomically see the audited state; the branch ref stays
    (drop it with alter_iceberg_refs when done).  Returns
    {"version", "snapshot_id"}."""
    import time as _time

    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(f"not an iceberg table: {path}")
    ref = (prev_meta.get("refs") or {}).get(branch)
    if ref is None or ref.get("type") != "branch":
        raise UnsupportedFormat(
            f"fast_forward: {branch!r} is not a branch on {path}"
        )
    sid = ref["snapshot-id"]
    # FAST-forward only: main's current head must be an ANCESTOR of
    # the branch head (walk parent-snapshot-id pointers), else the
    # publish would silently DROP commits main gained since the
    # branch — the real runtime refuses exactly this
    by_id = {
        snp["snapshot-id"]: snp for snp in prev_meta.get("snapshots", [])
    }
    cur = prev_meta.get("current-snapshot-id")
    node = sid
    seen = set()
    ok = False
    while node is not None and node not in seen:
        if node == cur:
            ok = True
            break
        seen.add(node)
        node = (by_id.get(node) or {}).get("parent-snapshot-id")
    if not ok:
        raise UnsupportedFormat(
            f"fast_forward: main has commits the branch {branch!r} "
            "does not contain (diverged) — re-stage the branch from "
            "the current head, or replace main explicitly via "
            "rollback_iceberg"
        )
    meta = dict(prev_meta)
    meta["current-snapshot-id"] = sid
    meta["last-updated-ms"] = int(_time.time() * 1000)
    meta["snapshot-log"] = list(prev_meta.get("snapshot-log", [])) + [
        {"snapshot-id": sid, "timestamp-ms": meta["last-updated-ms"]}
    ]
    version = _publish_metadata_version(path, meta, prev_version)
    return {"version": version, "snapshot_id": sid}


def alter_iceberg_refs(
    path: str,
    *,
    tag: str | None = None,
    branch: str | None = None,
    drop: str | None = None,
    snapshot_id: int | None = None,
    max_ref_age_ms: int | None = None,
    max_snapshot_age_ms: int | None = None,
    min_snapshots_to_keep: int | None = None,
) -> dict:
    """Snapshot REFS — Iceberg v2's named ``refs`` map (spec §refs):
    ``tag`` pins an IMMUTABLE name to a snapshot (audit marks,
    "the corpus we trained run X on"); ``branch`` is a MOVABLE
    pointer (re-invoking with an existing branch name repoints it —
    a tag repoint is refused).  Pure metadata, one version per
    change; ``snapshot_id`` defaults to the current snapshot.  Reads
    pin to a ref via the reader's ``ref`` option / ``VERSION AS OF
    '<name>'``.  Boundary, stated loudly: this writer's data commits
    always advance MAIN — branch-targeted writes (commit to a branch
    head) are out of scope; a branch here is a named read pin you can
    move, which with `rollback_iceberg` covers the audit/pin
    workflows tags+branches serve in read paths.  The ``main`` name
    is reserved.  Returns {"version", "name", "type", "snapshot_id"}.
    """
    import time as _time

    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(f"refs target is not an iceberg table: {path}")
    refs = dict(prev_meta.get("refs") or {})
    if drop is not None:
        if drop not in refs:
            raise UnsupportedFormat(f"ref {drop!r} does not exist on {path}")
        entry = refs.pop(drop)
        name, rtype, sid = drop, entry.get("type"), entry.get("snapshot-id")
    else:
        name = tag if tag is not None else branch
        rtype = "tag" if tag is not None else "branch"
        if name is None:
            raise UnsupportedFormat("alter_iceberg_refs: nothing to do")
        if name == "main":
            raise UnsupportedFormat("the ref name 'main' is reserved")
        sid = (
            int(snapshot_id)
            if snapshot_id is not None
            else prev_meta.get("current-snapshot-id")
        )
        if all(
            s["snapshot-id"] != sid for s in prev_meta.get("snapshots", [])
        ):
            raise UnsupportedFormat(
                f"snapshot {sid} not in table metadata (expired?)"
            )
        if name in refs:
            if refs[name].get("type") == "tag" or rtype == "tag":
                raise UnsupportedFormat(
                    f"ref {name!r} already exists as a "
                    f"{refs[name].get('type')} — tags are immutable "
                    "(drop it first)"
                )
        entry = {"snapshot-id": sid, "type": rtype}
        # spec §refs retention fields — consulted by expire_snapshots:
        # max-ref-age-ms ages the REF itself out (any type);
        # max-snapshot-age-ms / min-snapshots-to-keep bound how much
        # of a BRANCH's ancestry the ref pins (tags pin one snapshot,
        # so the branch-only fields are refused on them)
        if max_ref_age_ms is not None:
            entry["max-ref-age-ms"] = int(max_ref_age_ms)
        if max_snapshot_age_ms is not None or min_snapshots_to_keep is not None:
            if rtype != "branch":
                raise UnsupportedFormat(
                    "max-snapshot-age-ms / min-snapshots-to-keep are "
                    "branch retention fields (a tag pins exactly one "
                    "snapshot)"
                )
            if max_snapshot_age_ms is not None:
                entry["max-snapshot-age-ms"] = int(max_snapshot_age_ms)
            if min_snapshots_to_keep is not None:
                entry["min-snapshots-to-keep"] = int(
                    min_snapshots_to_keep
                )
        refs[name] = entry
    meta = dict(prev_meta)
    meta["refs"] = refs
    meta["last-updated-ms"] = int(_time.time() * 1000)
    version = _publish_metadata_version(path, meta, prev_version)
    return {
        "version": version,
        "name": name,
        "type": rtype,
        "snapshot_id": sid,
    }


def rollback_iceberg(spark, path: str, snapshot_id: int) -> dict:
    """Iceberg's ``rollback_to_snapshot`` — set the CURRENT snapshot
    back to ``snapshot_id`` as a NEW metadata version (the snapshot
    must still be in the table metadata, i.e. not expired).  Nothing
    is rewritten or deleted: Iceberg snapshots are immutable file
    sets, so rollback is pure metadata — the MoR mirror of the Delta
    writer's RESTORE.  Put-if-absent commit; a later rollback can
    roll forward again.  Returns {"rolled_back_to", "version"}."""
    import time as _time

    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if prev_meta is None:
        raise UnsupportedFormat(f"rollback target is not an iceberg table: {path}")
    snaps = prev_meta.get("snapshots", [])
    if all(s["snapshot-id"] != snapshot_id for s in snaps):
        raise UnsupportedFormat(
            f"iceberg table at {path} has no snapshot {snapshot_id} "
            "(expired or never existed) — cannot roll back"
        )
    if prev_meta.get("current-snapshot-id") == snapshot_id:
        return {"rolled_back_to": snapshot_id, "version": prev_version}
    meta = dict(prev_meta)
    meta["current-snapshot-id"] = snapshot_id
    meta["snapshot-log"] = list(prev_meta.get("snapshot-log", [])) + [
        {
            "snapshot-id": snapshot_id,
            "timestamp-ms": int(_time.time() * 1000),
        }
    ]
    version = _publish_metadata_version(path, meta, prev_version)
    return {"rolled_back_to": snapshot_id, "version": version}


def merge_iceberg(
    source,
    path: str,
    on: str,
    clauses: list[dict],
    *,
    target_alias: str = "t",
    source_alias: str = "s",
) -> dict:
    """``MERGE INTO`` for the native Iceberg writer — MERGE-ON-READ,
    committed by :func:`_commit_row_delta`: matched rows claimed by
    UPDATE/DELETE clauses become POSITION DELETES (deletion vectors on
    a format-version-3 table), updated images and NOT-MATCHED inserts
    append as one new data file, and both halves commit atomically in
    ONE snapshot — a reader never observes a half-merged state.  The
    target is :func:`_visible_target`, the relation UPDATE and DELETE
    match.  The source joins it ONCE (a left join when there are
    NOT MATCHED clauses); the join is persisted, so the duplicate-match
    probe, the delete half, the update images and the inserts all read
    that one join.  The write-amplification mirror of
    :func:`merge_delta`'s copy-on-write: cost is O(matched + inserted
    rows) with NO data-file rewrites (compact_iceberg later folds the
    delete debt).  Clause dicts and semantics are merge_delta's
    exactly (``merge_clauses``) — first matching clause wins, a target
    row matching >1 source row errors, NULL join conditions never
    match — so `iceberg_merge_roundtrip` can share the delta twin's
    relational oracle (CoW == MoR, proven at the gate).  Unpartitioned
    tables only (new rows under a partitioned spec need write-side
    transforms; clear error says so, like update_iceberg).

    Returns {"snapshot_id", "rows_written", "rows_deleted",
    "files_added", "files_removed", "version"} (files_removed is
    always 0 — MoR never rewrites).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    from pg_analytics_spark.sources.iceberg import _ice_to_spark_type
    from pg_analytics_spark.sources.merge_clauses import (
        MergeClauses,
        refuse_duplicate_matches,
    )

    spark = source.sparkSession
    prev_version, prev_meta = _latest_metadata(os.path.join(path, "metadata"))
    if prev_meta is None:
        raise UnsupportedFormat(f"MERGE target is not an iceberg table: {path}")
    if _default_spec_fields(prev_meta):
        raise UnsupportedFormat(
            "merge_iceberg supports UNPARTITIONED tables; partitioned "
            "targets need write-side transforms for the new rows — use "
            "the Delta writer's MERGE or an overwrite"
        )
    fields = _schema_fields(prev_meta)
    types = {f["name"]: _ice_to_spark_type(f["type"]) for f in fields}
    mc = MergeClauses(clauses, list(types), source.columns, source_alias)

    # ---- visible target rows: the same relation UPDATE and DELETE match
    prev_list = _current_manifests(prev_meta)
    data_seq, pos_deletes, eq_deletes, existing_dvs = _scan_snapshot_files(
        prev_list, with_dvs=True
    )
    if data_seq:
        tgt = _visible_target(
            spark, data_seq, pos_deletes, eq_deletes,
            meta=prev_meta,
            part_proj=_adoption_projection(prev_meta, prev_list),
            dv_entries=existing_dvs,
        )
    else:
        nested = [n for n, t in types.items() if t is None]
        if nested:
            raise UnsupportedFormat(
                f"MERGE: column {nested[0]!r} has a nested type"
            )
        tgt = (
            local_frame(
                spark, [], StructType([StructField(n, t) for n, t in types.items()])
            )
            .withColumn("_ifile", F.lit(""))
            .withColumn("_ipos", F.lit(0).cast("long"))
        )

    t_file = F.col(f"{target_alias}._ifile")
    t_pos = F.col(f"{target_alias}._ipos")
    joined = source.alias(source_alias).join(
        tgt.alias(target_alias),
        F.expr(on),
        "left" if mc.not_matched else "inner",
    )
    if mc.matched:
        joined = joined.persist()
    try:
        dels, pieces = None, []
        if mc.matched:
            hits = joined.filter(t_file.isNotNull())
            refuse_duplicate_matches(hits, [t_file, t_pos])
            claimed = hits.withColumn(
                "_cidx", mc.index(mc.matched)
            ).filter(F.col("_cidx") >= 0)
            dels = claimed.select(
                t_file.alias("file_path"), t_pos.alias("pos")
            )
            upd_idx = [
                i for i, c in enumerate(mc.matched) if c["action"] == "update"
            ]
            if upd_idx:
                pieces.append(
                    claimed.filter(F.col("_cidx").isin(upd_idx)).select(
                        *mc.images(
                            mc.matched,
                            lambda col: F.col(f"{target_alias}.{col}"),
                            types,
                        )
                    )
                )
        if mc.not_matched:
            # unmatched source rows, under the source alias alone (what
            # a source anti-join returns)
            new = (
                joined.filter(t_file.isNull())
                .select(f"{source_alias}.*")
                .alias(source_alias)
            )
            new = new.withColumn(
                "_cidx", mc.index(mc.not_matched)
            ).filter(F.col("_cidx") >= 0)
            pieces.append(
                new.select(
                    *mc.images(mc.not_matched, lambda col: F.lit(None), types)
                )
            )
        adds = None
        for p in pieces:
            adds = p if adds is None else adds.unionByName(p)
        snapshot_id, n_del, n_add, version = _commit_row_delta(
            path, prev_meta, prev_version, prev_list, existing_dvs, dels,
            adds, "overwrite",
        )
    finally:
        joined.unpersist()
    return {
        "snapshot_id": snapshot_id,
        "rows_written": n_add,
        "rows_deleted": n_del,
        "files_added": int(bool(n_add)) + int(bool(n_del)),
        "files_removed": 0,
        "version": version,
    }


def commit_iceberg_data_files(
    path: str,
    spark_schema,
    files: list,
    mode: str = "append",
    txn: tuple[str, int] | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """Driver-side commit of PRE-STAGED parquet data files as one v2
    snapshot — the metadata half of :func:`write_iceberg` for writers
    that stage their own files (the iceberg_native DataSource sink:
    its tasks write files and compute Appendix-D bounds via
    :func:`_file_bounds`; this publishes them).  Runs WITHOUT a
    SparkSession (Spark's data-source workers have none).

    ``files``: ``(abs_path, size_bytes, num_rows, lower_bounds,
    upper_bounds[, partition_tuple])`` per staged file, where
    ``partition_tuple`` maps spec field name → raw python value for
    IDENTITY-partitioned tables (``partition_by`` declares the
    identity source columns; non-identity transforms go through
    write_iceberg).  ``txn=(app, epoch)``
    records the streaming epoch watermark in the snapshot summary —
    SHARED with write_iceberg's, so replays skip across both writers.
    Creation mints the table from ``spark_schema``; appends require an
    identical (name, type) shape; ``mode="overwrite"`` replaces the
    live file set.  Returns write_iceberg's dict (+"skipped_txn")."""
    if mode not in ("overwrite", "append"):
        raise UnsupportedFormat(f"iceberg write mode {mode!r}")
    meta_dir = os.path.join(path, "metadata")
    prev_version, prev_meta = _latest_metadata(meta_dir)
    if txn is not None and prev_meta is not None:
        last = _txn_high_water(prev_meta, txn[0])
        if last is not None and int(txn[1]) <= last:
            for f, *_rest in files:
                try:
                    os.remove(f)
                except OSError:
                    pass
            return {
                "snapshot_id": None,
                "files": 0,
                "rows": 0,
                "skipped_txn": True,
            }
    want = [(f.name, _ice_type(f)) for f in spark_schema.fields]
    part_by = list(partition_by or [])
    schema_id = 0
    prev_schemas: list[dict] = []
    part_fields: list[dict] = []
    if prev_meta is None:
        mode = "overwrite"
        fields = [
            {"id": i + 1, "name": n, "type": t, "required": False}
            for i, (n, t) in enumerate(want)
        ]
    else:
        prev_schemas = list(prev_meta.get("schemas", []))
        schema_id = prev_meta.get("current-schema-id", 0)
        fields = next(
            s for s in prev_schemas if s.get("schema-id") == schema_id
        )["fields"]
        spec_fields = _default_spec_fields(prev_meta)
        if spec_fields:
            id_name = {f["id"]: f["name"] for f in fields}
            prev_canon = [
                f"{pf.get('transform', 'identity')}"
                f"({id_name.get(pf['source-id'])})"
                for pf in spec_fields
            ]
            req_canon = [_requested_canon(p) for p in part_by]
            if req_canon != prev_canon:
                raise UnsupportedFormat(
                    f"iceberg staged-commit partition mismatch: table "
                    f"spec is {prev_canon}, write declared {req_canon}"
                )
        elif part_by:
            raise UnsupportedFormat(
                "iceberg staged-commit partition mismatch: table is "
                f"unpartitioned, write declared {part_by}"
            )
        if {(f["name"], f["type"]) for f in fields} != set(want):
            raise UnsupportedFormat(
                "iceberg staged-commit schema mismatch — evolve via "
                "write_iceberg(mergeSchema) or overwrite there"
            )
    if part_by:
        ftype = {f["name"]: f["type"] for f in fields}
        fid = {f["name"]: f["id"] for f in fields}
        prev_spec_fields = _default_spec_fields(prev_meta or {})
        for i, p in enumerate(part_by):
            kind, param, c = _parse_transform(p)
            t = ftype.get(c)
            if c not in fid:
                raise UnsupportedFormat(
                    f"partition source column {c!r} not in the written "
                    "schema"
                )
            res_t, default_name = _transform_result_type(
                kind, param, c, t
            )
            if res_t not in _ICE_TO_AVRO:
                raise UnsupportedFormat(
                    f"iceberg partitioning "
                    f"{_canonical_transform(kind, param)}({c}) result "
                    f"type {res_t!r} unsupported — int/long/string/date "
                    "results only"
                )
            prev_pf = prev_spec_fields[i] if i < len(prev_spec_fields) else None
            part_fields.append(
                {
                    "source-id": (
                        prev_pf["source-id"] if prev_pf else fid[c]
                    ),
                    "field-id": (
                        prev_pf["field-id"] if prev_pf else 1000 + i
                    ),
                    "name": (
                        prev_pf["name"] if prev_pf else default_name
                    ),
                    "transform": _canonical_transform(kind, param),
                    "_ice_type": res_t,
                }
            )
    os.makedirs(meta_dir, exist_ok=True)
    seq = (prev_meta or {}).get("last-sequence-number", 0) + 1
    snapshot_id = _new_snapshot_id()
    import datetime as _dt

    def _tuple_value(v, t):
        if v is None:
            return None
        if t in ("int", "long"):
            return int(v)
        if t == "date":
            if isinstance(v, _dt.date):
                return (v - _dt.date(1970, 1, 1)).days
            return int(v)
        return str(v)

    entries = []
    for rec in files:
        fpath, size, rows, lowers, uppers = rec[:5]
        raw = rec[5] if len(rec) > 5 and rec[5] else {}
        part = {
            pf["name"]: _tuple_value(raw.get(part_by[i]), pf["_ice_type"])
            for i, pf in enumerate(part_fields)
        }
        entries.append(
            _added_entry(
                snapshot_id, 0, fpath, int(rows), int(size), lowers, uppers,
                partition=part or None,
            )
        )
    n_rows = sum(int(rec[2]) for rec in files)
    mf_entries = [
        _write_manifest(
            os.path.join(meta_dir, f"man-{snapshot_id}.avro"),
            _manifest_entry_schema(part_fields),
            entries,
            (prev_meta or {}).get("default-spec-id", 0), 0, seq, snapshot_id,
        )
    ]
    parent_id = (prev_meta or {}).get("current-snapshot-id")
    if mode == "append" and prev_meta is not None:
        mf_entries = _current_manifests(prev_meta) + mf_entries
    mlist = os.path.join(meta_dir, f"snap-{snapshot_id}.avro")
    write_container(_MANIFEST_LIST_SCHEMA, mf_entries, mlist)
    now_ms = int(time.time() * 1000)
    snap_entry = {
        "snapshot-id": snapshot_id,
        "manifest-list": mlist,
        "timestamp-ms": now_ms,
        "sequence-number": seq,
        "summary": {
            "operation": mode,
            **(
                {
                    "streaming-app-id": txn[0],
                    "streaming-epoch-id": str(int(txn[1])),
                }
                if txn is not None
                else {}
            ),
        },
    }
    if parent_id is not None and parent_id != -1:
        snap_entry["parent-snapshot-id"] = parent_id
    snapshots = list((prev_meta or {}).get("snapshots", [])) + [snap_entry]
    log = list((prev_meta or {}).get("snapshot-log", [])) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    ]
    spec_fields_public = [
        {k: v for k, v in pf.items() if not k.startswith("_")}
        for pf in part_fields
    ]
    partition_specs = (prev_meta or {}).get("partition-specs") or [
        {"spec-id": 0, "fields": spec_fields_public}
    ]
    meta = {
        # append to an existing table keeps ITS format-version (a v3
        # table must not silently downgrade through this commit path)
        "format-version": int(
            (prev_meta or {}).get("format-version", 2)
        ),
        "table-uuid": (prev_meta or {}).get(
            "table-uuid", str(uuid.uuid4())
        ),
        "properties": _txn_props_update(
            dict((prev_meta or {}).get("properties", {})), txn
        ),
        "location": path,
        "last-sequence-number": seq,
        "last-column-id": max(
            (prev_meta or {}).get("last-column-id", 0),
            max(f["id"] for f in fields),
        ),
        "current-snapshot-id": snapshot_id,
        "current-schema-id": schema_id,
        "schemas": (
            [s for s in prev_schemas if s.get("schema-id") != schema_id]
            + [{"schema-id": schema_id, "fields": fields}]
        ),
        "partition-specs": partition_specs,
        "default-spec-id": (prev_meta or {}).get("default-spec-id", 0),
        "last-partition-id": _last_partition_field_id(partition_specs),
        "last-updated-ms": now_ms,
        "refs": _refs_after_commit(prev_meta, None, snapshot_id),
        "snapshots": snapshots,
        "snapshot-log": log,
        # statistics entries survive data commits (same carry as
        # write_iceberg — this metadata is also rebuilt field-by-field)
        **(
            {"statistics": prev_meta["statistics"]}
            if (prev_meta or {}).get("statistics")
            else {}
        ),
    }
    _publish_metadata_version(path, meta, prev_version)
    return {"snapshot_id": snapshot_id, "files": len(entries), "rows": n_rows}
