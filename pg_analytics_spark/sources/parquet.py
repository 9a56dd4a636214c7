"""Parquet source — reference option surface from src/duckdb/parquet.rs:28-119.

Option mapping (reference → Spark):

| reference option       | Spark realization                                  |
|------------------------|----------------------------------------------------|
| files (required)       | paths argument (comma-split list / globs)          |
| binary_as_string       | post-cast binary→string columns                    |
| filename               | _metadata.file_path pseudo-column                  |
| file_row_number        | _metadata.row_index pseudo-column                  |
| hive_partitioning      | automatic partition discovery (on by default; when |
|                        | explicitly false we load with basePath stripped)   |
| hive_types / autocast  | partition column cast map                          |
| union_by_name          | mergeSchema=true                                   |
| select                 | post-read projection                               |
| preserve_casing        | spark.sql.caseSensitive (engine-level)             |

Additionally this module repairs parquet TIMESTAMP(NANOS) columns:
Spark's vectorized reader rejects them (PARQUET_TYPE_ILLEGAL), so the
session sets ``spark.sql.legacy.parquet.nanosAsLong`` and we convert
the surfaced long back to a µs-precision timestamp here — the same
ns→µs truncation the reference performs in its Arrow→Postgres
conversion (src/schema/cell.rs:1234-1319).

:func:`footer_schema` gives the schema Spark would infer for one file
from the footer pyarrow reads on the driver, so a reader that knows its
files can pass ``.schema(S)`` and skip Spark's inference job.
"""

from __future__ import annotations

import json

import pyarrow.parquet as _pq
import pyarrow.types as _pat
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources.base import _truthy, apply_common

#: (file fingerprints, reader-shape flags) → inferred read schema.
#: Spark runs a 1-task footer-inference JOB on every spark.read.parquet
#: whose schema isn't supplied — measured as one whole job per registry
#: query (round-7 job probe: the first job of EVERY row was
#: 'parquet …, 1 task').  A repeated read of the SAME immutable files
#: (fingerprinted by mtime_ns+size, like the codebook caches) reuses
#: the schema Spark itself inferred on the first read, eliminating
#: that job.  Single plain files only — globs, dirs and partitioned
#: layouts keep full inference (their schema depends on listing).
_SCHEMA_CACHE: dict = {}


def _file_fingerprint(files: list[str]):
    import os as _os

    fps = []
    for p in files:
        if any(ch in p for ch in "*?[") or not _os.path.isfile(p):
            return None
        st = _os.stat(p)
        fps.append((p, st.st_mtime_ns, st.st_size))
    return tuple(fps)


def load(spark: SparkSession, files: list[str], opts: dict) -> DataFrame:
    # Detect TIMESTAMP(NANOS) columns *before* reading: Spark rejects them
    # outright unless nanosAsLong is set, and the conf is runtime-settable,
    # so sessions we didn't build (e.g. the driver's) work too.
    ns_cols = _nano_columns(files)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    merge = _truthy(opts.get("union_by_name"))
    if merge:
        reader = reader.option("mergeSchema", "true")
    recurse = "hive_partitioning" in opts and not _truthy(
        opts["hive_partitioning"]
    )
    if recurse:
        # Spark discovers hive partitions automatically; disabling means
        # "do not treat key=value dirs as columns" → read leaf files with
        # recursiveFileLookup, which skips partition inference.
        reader = reader.option("recursiveFileLookup", "true")
    fp = _file_fingerprint(files)
    key = (fp, merge, recurse, bool(ns_cols)) if fp else None
    cached = _SCHEMA_CACHE.get(key) if key else None
    if cached is not None:
        reader = reader.schema(cached)
    df = reader.parquet(*files)
    if key and cached is None:
        paths = tuple(p for p, _m, _s in fp)
        for k in [
            k
            for k in _SCHEMA_CACHE
            if tuple(p for p, _m, _s in k[0]) == paths and k != key
        ]:
            del _SCHEMA_CACHE[k]
        _SCHEMA_CACHE[key] = df.schema
    df = _restore_nanos(df, ns_cols)
    if _truthy(opts.get("binary_as_string")):
        for f in df.schema.fields:
            if f.dataType.typeName() == "binary":
                df = df.withColumn(f.name, F.col(f.name).cast("string"))
    hive_types = opts.get("hive_types")
    if hive_types:
        for col, typ in dict(hive_types).items():
            df = df.withColumn(col, F.col(col).cast(typ))
    return apply_common(df, opts)


def _restore_nanos(df: DataFrame, ns_cols: list[str]) -> DataFrame:
    """Convert nanosAsLong-surfaced columns back to TIMESTAMP_NTZ (µs)."""
    for c in ns_cols:
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            # integer `div`, not `/`: ns values (~1.7e18) exceed double's
            # 2^53 mantissa, and DuckDB/the reference truncate ns→µs.
            df = df.withColumn(
                c,
                F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"),
            )
    return df


def _nano_columns(files: list[str]) -> list[str]:
    """Find TIMESTAMP(NANOS) columns by reading one parquet footer
    (driver-side, O(KB)) — cheap even for 100k-file datasets because
    only the first match of the first glob is opened."""
    import glob as _glob

    for pattern in files:
        for path in sorted(_glob.glob(pattern)) or [pattern]:
            try:
                schema = _pq.ParquetFile(path).schema_arrow
            except Exception:
                continue
            return [
                f.name
                for f in schema
                if _pat.is_timestamp(f.type) and f.type.unit == "ns"
            ]
    return []


#: The session confs that steer Spark's parquet schema inference, with
#: their defaults, in the order :func:`footer_schema` takes them.
_INFER_CONFS = (
    ("spark.sql.parquet.binaryAsString", "false"),
    ("spark.sql.parquet.int96AsTimestamp", "true"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
    ("spark.sql.legacy.parquet.nanosAsLong", "false"),
)

#: (physical type, bit width, signed) of an INT-annotated column → Spark
#: type (Spark's ParquetToSparkSchemaConverter; unsigned types widen)
_INT_TYPES = {
    ("INT32", 8, True): T.ByteType(),
    ("INT32", 16, True): T.ShortType(),
    ("INT32", 32, True): T.IntegerType(),
    ("INT64", 64, True): T.LongType(),
    ("INT32", 8, False): T.ShortType(),
    ("INT32", 16, False): T.IntegerType(),
    ("INT32", 32, False): T.LongType(),
    ("INT64", 64, False): T.DecimalType(20, 0),
}

#: unannotated physical type → Spark type
_PLAIN_TYPES = {
    "BOOLEAN": T.BooleanType(),
    "INT32": T.IntegerType(),
    "INT64": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "FIXED_LEN_BYTE_ARRAY": T.BinaryType(),
}

_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def infer_flags(spark: SparkSession) -> tuple[bool, ...]:
    """The session's parquet inference confs, for :func:`footer_schema`."""
    return tuple(
        spark.conf.get(k, d).lower() == "true" for k, d in _INFER_CONFS
    )


def footer_schema(path: str, flags: tuple[bool, ...], md=None) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, built from the
    file's footer on the driver (``md``: its already-read
    ``pq.FileMetaData``), so no Spark job runs.

    It follows Spark's own rules: the row schema a Spark writer stored
    in the footer wins; otherwise each leaf column maps by its physical
    and logical type as ``ParquetToSparkSchemaConverter`` maps it under
    ``flags`` (:func:`infer_flags`), nested in the footer's
    struct/list/map shape.  Every field is nullable, as Spark makes an
    inferred file schema.  A column Spark cannot read raises
    ``UnsupportedFormat`` naming the file and the column."""
    md = md if md is not None else _pq.read_metadata(path)
    stored = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is not None:
        try:
            return _nullable(T.StructType.fromJson(json.loads(stored)))
        except (ValueError, KeyError, TypeError):
            pass  # a legacy row-schema string: convert the footer instead
    leaves = iter(md.schema.column(i) for i in range(md.num_columns))

    def walk(t) -> T.DataType:
        if _pat.is_struct(t):
            return T.StructType(
                [T.StructField(f.name, walk(f.type)) for f in t]
            )
        if _pat.is_map(t):
            return T.MapType(walk(t.key_type), walk(t.item_type))
        if (
            _pat.is_list(t)
            or _pat.is_large_list(t)
            or _pat.is_fixed_size_list(t)
        ):
            return T.ArrayType(walk(t.value_type))
        col = next(leaves)
        out = _leaf_type(col, flags)
        if out is None:
            raise UnsupportedFormat(
                f"parquet file {path}: column {col.path!r} has type "
                f"{col.physical_type} {col.logical_type}, which Spark "
                "cannot read"
            )
        return out

    return T.StructType(
        [
            T.StructField(f.name, walk(f.type))
            for f in md.schema.to_arrow_schema()
        ]
    )


def _leaf_type(col, flags: tuple[bool, ...]) -> T.DataType | None:
    """Spark type of one parquet leaf column, or None when Spark has
    none for it."""
    binary_as_string, int96_as_ts, infer_ntz, nanos_as_long = flags
    lt = json.loads(col.logical_type.to_json())
    kind, phys = lt["Type"], col.physical_type
    if kind == "Decimal":
        return T.DecimalType(lt["precision"], lt["scale"])
    if kind in ("None", "Null"):
        if phys == "INT96":
            return T.TimestampType() if int96_as_ts else None
        if phys == "BYTE_ARRAY":
            return T.StringType() if binary_as_string else T.BinaryType()
        return _PLAIN_TYPES.get(phys)
    if kind == "Int":
        return _INT_TYPES.get((phys, lt["bitWidth"], lt["isSigned"]))
    if kind == "Date" and phys == "INT32":
        return T.DateType()
    if kind == "Timestamp" and phys == "INT64":
        if lt["timeUnit"] == "nanoseconds":
            return T.LongType() if nanos_as_long else None
        if lt["isAdjustedToUTC"] or not infer_ntz:
            return T.TimestampType()
        return T.TimestampNTZType()
    if phys == "BYTE_ARRAY":
        if kind in ("String", "Enum", "JSON"):
            return T.StringType()
        if kind == "BSON":
            return T.BinaryType()
    return None


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field, element and map value nullable."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in t.fields
            ]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t
