"""Type normalization — the Spark analog of the reference's conversion matrix.

The reference's largest file is a 1,400-line (ArrowType × PgOid) value
converter (src/schema/cell.rs:663-1383) plus a DuckDB→Postgres DDL
type-name rewriter (src/fdw/trigger.rs:195-263).  In Spark almost every
pair is a native ``cast``; what remains is:

1. a DuckDB-type-name → Spark-type table (for user-declared columns and
   for the oracle/compat layer), reproducing the reference's widenings
   (TINYINT→SMALLINT, unsigned widened, HUGEINT→DECIMAL(38,0), …);
2. the permissive-numeric-cast rule: a declared numeric column accepts
   any numeric physical type via silent cast (cell.rs:754-757);
   non-numeric mismatches raise DataTypeMismatch (cell.rs:1404-1417).

:func:`local_frame` builds the engine's small driver-side frames
(statement results, lookup sides) from Arrow tables of exact Spark
types.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_analytics_spark.errors import DataTypeMismatch

#: DuckDB type name → Spark type, following the reference's rewriter
#: (src/fdw/trigger.rs:195-263) but keeping types Spark has natively
#: where the reference had to degrade (STRUCT→JSONB, MAP rejected).
_DUCKDB_TO_SPARK: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "tinyint": T.ShortType(),  # widened, trigger.rs:229
    "int1": T.ShortType(),
    "smallint": T.ShortType(),
    "int2": T.ShortType(),
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "int4": T.IntegerType(),
    "bigint": T.LongType(),
    "int8": T.LongType(),
    "utinyint": T.ShortType(),  # unsigned widened, trigger.rs:230-232
    "usmallint": T.IntegerType(),
    "uinteger": T.LongType(),
    "ubigint": T.DecimalType(20, 0),  # trigger.rs:233
    "hugeint": T.DecimalType(38, 0),  # trigger.rs:234
    "uhugeint": T.DecimalType(38, 0),
    "float": T.FloatType(),
    "float4": T.FloatType(),
    "real": T.FloatType(),
    "double": T.DoubleType(),
    "double precision": T.DoubleType(),
    "float8": T.DoubleType(),
    "varchar": T.StringType(),
    "character varying": T.StringType(),
    "text": T.StringType(),
    "string": T.StringType(),
    "bpchar": T.StringType(),
    "blob": T.BinaryType(),  # do NOT degrade to string (SURVEY §1.2)
    "bytea": T.BinaryType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "time": T.StringType(),  # no Spark TimeType → canonical HH:MM:SS string
    "timestamp": T.TimestampNTZType(),
    "timestamp_s": T.TimestampNTZType(),
    "timestamp_ms": T.TimestampNTZType(),
    "timestamp_ns": T.TimestampNTZType(),  # truncated to µs, cell.rs:1234-1319
    "timestamptz": T.TimestampType(),
    "timestamp with time zone": T.TimestampType(),
    "interval": T.DayTimeIntervalType(),
    "uuid": T.StringType(),  # canonical lowercase string, cell.rs:640-661
    "json": T.StringType(),
    "jsonb": T.StringType(),
    "geometry": T.BinaryType(),  # WKB, trigger.rs:243-256
    "null": T.NullType(),
}

_NUMERIC_SPARK_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def duckdb_type_to_spark(name: str) -> T.DataType:
    """DuckDB/Postgres type name → Spark type (DDL-level rewriter)."""
    n = re.sub(r"\s+", " ", name.strip().lower())
    if n.endswith("[]"):
        return T.ArrayType(duckdb_type_to_spark(n[:-2]))
    m = re.match(r"(decimal|numeric)\s*\((\d+)\s*,\s*(\d+)\)", n)
    if m:
        return T.DecimalType(int(m.group(2)), int(m.group(3)))
    if n in ("decimal", "numeric"):
        return T.DecimalType(38, 18)
    m = re.match(
        r"(?:varchar|char|bpchar|character varying|character)\s*\(\d+\)", n
    )
    if m:
        return T.StringType()
    if n in _DUCKDB_TO_SPARK:
        return _DUCKDB_TO_SPARK[n]
    # Fall back to Spark's own DDL parser (covers struct<...>, array<...>, map<...>)
    return T.DataType.fromDDL(n)


def local_frame(spark, rows, schema: T.StructType | str) -> DataFrame:
    """A small driver-built relation as a DataFrame, through Arrow.

    ``rows`` are tuples in ``schema`` order (a ``StructType`` or a DDL
    string such as ``"count bigint, version int"``).  The rows become
    one ``pa.Table`` typed by the exact Arrow image of the Spark schema
    (``to_arrow_schema``: ints keep their width, decimals their
    precision and scale, ``timestamp`` is UTC), which
    ``createDataFrame`` ships to the JVM as an Arrow stream.  A list of
    tuples instead becomes a pickled Python RDD, whose first action
    runs Python-worker tasks: about 0.4 s more for a 1-row result
    (local[2] on a 4-vCPU host).  The DataFrame's schema is ``schema``
    itself, names, types and nullability included; a ``None`` is a
    NULL.  A naive ``datetime`` for a ``timestamp`` column is read as
    UTC wall time.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC_SPARK_TYPES)


def normalize_columns(df: DataFrame, declared: dict[str, str]) -> DataFrame:
    """Apply user-declared column types with the reference's cast rules.

    Numeric→numeric: silent cast (permissive rule, cell.rs:754-757).
    String→anything / anything→string: silent cast (DuckDB VARCHAR round
    trips, cell.rs:442-465).  Temporal widenings (date↔timestamp,
    cell.rs:1259-1312): silent cast.  Complex (array/struct/map)
    declared as json/jsonb: canonical ``to_json`` text — the
    reference's List/Struct→JSON degradation (cell.rs:330-440); note
    equality against such a column is TEXTUAL here (canonical JSON, no
    spaces), not Postgres's parsed jsonb semantic equality.
    Everything else incompatible: DataTypeMismatch naming column +
    both types (cell.rs:1404-1417).
    """
    physical = {f.name.lower(): f.dataType for f in df.schema.fields}
    for col_name, type_name in declared.items():
        target = (
            duckdb_type_to_spark(type_name)
            if isinstance(type_name, str)
            else type_name
        )
        phys = physical.get(col_name.lower())
        if phys is None:
            raise DataTypeMismatch(col_name, "<missing>", str(target))
        if phys == target:
            continue
        if (
            isinstance(type_name, str)
            and type_name.strip().lower() in ("json", "jsonb")
            and isinstance(phys, (T.ArrayType, T.StructType, T.MapType))
        ):
            df = df.withColumn(col_name, F.to_json(col_name))
            continue
        if not _castable(phys, target):
            raise DataTypeMismatch(col_name, phys.simpleString(), target.simpleString())
        df = df.withColumn(col_name, F.col(col_name).cast(target))
    return df


def _castable(phys: T.DataType, target: T.DataType) -> bool:
    if is_numeric(phys) and is_numeric(target):
        return True
    if isinstance(phys, T.StringType) or isinstance(target, T.StringType):
        return True
    temporal = (T.DateType, T.TimestampType, T.TimestampNTZType)
    if isinstance(phys, temporal) and isinstance(target, temporal):
        return True
    if isinstance(phys, T.BinaryType) and isinstance(target, T.BinaryType):
        return True
    if isinstance(phys, T.ArrayType) and isinstance(target, T.ArrayType):
        return _castable(phys.elementType, target.elementType)
    return False
