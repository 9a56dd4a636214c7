"""Source option-surface tests: the Spark analog of the reference's
per-format SQL-generation unit tests (reference src/duckdb/csv.rs:288-454,
parquet.rs:121-215, json.rs:107-188, secret.rs:219-359)."""

from __future__ import annotations

import json as jsonlib
import os

import pytest
from pyspark.sql import functions as F

from pg_analytics_spark.errors import MissingDependency, UnsupportedFormat
from pg_analytics_spark.sources import load_source, split_files
from pg_analytics_spark.sources.secrets import secret_to_hadoop_conf

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def csv_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("csv")
    p = d / "people.csv"
    p.write_text(
        "id;name;score;joined\n"
        "1;alice;9.5;2024-01-02\n"
        "2;bob;NA;2024-02-03\n"
        "3;Carol Smith;7.25;2024-03-04\n"
    )
    return str(d)


def test_split_files_comma_semantics():
    # comma-split of the files option (reference src/duckdb/utils.rs:18-31)
    assert split_files("a.parquet, b.parquet ,c.parquet") == [
        "a.parquet", "b.parquet", "c.parquet",
    ]
    assert split_files(["x", "y"]) == ["x", "y"]


def test_csv_options_delim_header_null(spark, csv_dir):
    df = load_source(
        spark,
        f"{csv_dir}/people.csv",
        "csv",
        {"delim": ";", "header": True, "nullstr": "NA", "auto_detect": True},
    )
    rows = {r["id"]: r for r in df.collect()}
    assert rows[2]["score"] is None  # NA → null
    assert rows[1]["score"] == 9.5  # inferSchema → double


def test_csv_declared_columns_schema(spark, csv_dir):
    df = load_source(
        spark,
        f"{csv_dir}/people.csv",
        "csv",
        {
            "delim": ";",
            "header": True,
            "columns": {"id": "int", "name": "varchar", "score": "double",
                        "joined": "date"},
        },
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int", "string", "double", "date",
    ]


def test_csv_names_types_normalize(spark, csv_dir):
    df = load_source(
        spark,
        f"{csv_dir}/people.csv",
        "csv",
        {"delim": ";", "header": True, "names": ["Person ID", "Full Name"],
         "normalize_names": True},
    )
    assert df.columns[:2] == ["person_id", "full_name"]


def test_csv_select_and_filename(spark, csv_dir):
    df = load_source(
        spark,
        f"{csv_dir}/people.csv",
        "csv",
        {"delim": ";", "header": True, "filename": True, "select": "id, name"},
    )
    assert df.columns == ["id", "name"]
    df2 = load_source(
        spark, f"{csv_dir}/people.csv", "csv",
        {"delim": ";", "header": True, "filename": True},
    )
    assert df2.collect()[0]["filename"].endswith("people.csv")


@pytest.fixture(scope="module")
def json_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("json")
    nl = d / "events.ndjson"
    nl.write_text(
        '{"id": 1, "tag": "a", "v": 1.5}\n{"id": 2, "tag": "b", "v": 2.5}\n'
    )
    arr = d / "events_array.json"
    arr.write_text(jsonlib.dumps([{"id": 3, "tag": "c"}, {"id": 4, "tag": "d"}]))
    return str(d)


def test_json_newline_delimited(spark, json_dir):
    df = load_source(spark, f"{json_dir}/events.ndjson", "json", {"format": "nl"})
    assert df.count() == 2 and set(df.columns) == {"id", "tag", "v"}


def test_json_array_format(spark, json_dir):
    df = load_source(spark, f"{json_dir}/events_array.json", "json", {"format": "array"})
    assert df.count() == 2
    assert {r["id"] for r in df.collect()} == {3, 4}


def test_json_declared_columns(spark, json_dir):
    df = load_source(
        spark, f"{json_dir}/events.ndjson", "json",
        {"format": "nl", "columns": {"id": "bigint", "v": "double"}},
    )
    assert set(df.columns) == {"id", "v"}


def test_parquet_union_by_name_and_row_number(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pq")
    spark.range(3).select(F.col("id"), F.lit("x").alias("a")).write.parquet(
        str(d / "p1")
    )
    spark.range(3).select(F.col("id"), F.lit(1.5).alias("b")).write.parquet(
        str(d / "p2")
    )
    df = load_source(
        spark, [f"{d}/p1", f"{d}/p2"], "parquet", {"union_by_name": True}
    )
    assert {"id", "a", "b"} <= set(df.columns)
    df2 = load_source(
        spark, f"{d}/p1", "parquet", {"file_row_number": True}
    )
    assert {r["file_row_number"] for r in df2.collect()} <= {0, 1, 2}


def test_parquet_binary_as_string(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pqb")
    spark.sql("SELECT CAST('abc' AS BINARY) AS b").write.parquet(str(d / "t"))
    df = load_source(spark, f"{d}/t", "parquet", {"binary_as_string": True})
    assert dict(df.dtypes)["b"] == "string"
    assert df.collect()[0]["b"] == "abc"


def _footer_type_cases():
    import datetime as dt
    import decimal

    import pyarrow as pa

    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    return {
        "int8": pa.array([1], pa.int8()),
        "int16": pa.array([1], pa.int16()),
        "int32": pa.array([1], pa.int32()),
        "int64": pa.array([1], pa.int64()),
        "float": pa.array([1.5], pa.float32()),
        "double": pa.array([1.5], pa.float64()),
        "decimal": pa.array([decimal.Decimal("1.25")], pa.decimal128(12, 2)),
        "string": pa.array(["a"]),
        "binary": pa.array([b"a"]),
        "date": pa.array([dt.date(2024, 1, 2)]),
        "timestamp_utc": pa.array([ts], pa.timestamp("us", "UTC")),
        "timestamp_local": pa.array([ts], pa.timestamp("us")),
        "int96": pa.array([ts], pa.timestamp("ns")),
        "struct": pa.array([{"a": 1, "b": "x"}]),
        "list": pa.array([[1, None]]),
        "map": pa.array([[("k", 1.5)]], pa.map_(pa.string(), pa.float64())),
    }


@pytest.mark.parametrize("case", sorted(_footer_type_cases()))
def test_footer_schema_matches_spark_inference(spark, tmp_path, case):
    """The driver-side footer conversion that lets the Iceberg scan pass
    ``.schema(S)`` gives exactly the schema Spark's own inference
    gives, and Spark reads the file under it to the same values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_analytics_spark.sources.parquet import footer_schema, infer_flags

    path = str(tmp_path / f"{case}.parquet")
    table = pa.table({"c": _footer_type_cases()[case]})
    pq.write_table(
        table, path, use_deprecated_int96_timestamps=case == "int96"
    )
    inferred = spark.read.parquet(path)
    schema = footer_schema(path, infer_flags(spark))
    assert schema == inferred.schema
    assert spark.read.schema(schema).parquet(path).collect() == (
        inferred.collect()
    )


def test_footer_schema_refuses_unreadable_types(spark, tmp_path):
    """A column Spark cannot read raises UnsupportedFormat naming the
    file and the column; it never falls back to inference."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_analytics_spark.sources.parquet import footer_schema, infer_flags

    path = str(tmp_path / "time.parquet")
    pq.write_table(
        pa.table({"t": pa.array([dt.time(1, 2)], pa.time64("us"))}), path
    )
    with pytest.raises(UnsupportedFormat, match=r"time\.parquet.*'t'"):
        footer_schema(path, infer_flags(spark))


def test_hive_partitioning_discovery(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("hive")
    spark.range(4).withColumn("part", F.col("id") % 2).write.partitionBy(
        "part"
    ).parquet(str(d / "t"))
    df = load_source(spark, f"{d}/t", "parquet", {})
    assert "part" in df.columns  # automatic discovery (S1 hive_partitioning)
    df_flat = load_source(spark, f"{d}/t", "parquet", {"hive_partitioning": False})
    assert "part" not in df_flat.columns


def test_unknown_format_rejected(spark):
    with pytest.raises(UnsupportedFormat):
        load_source(spark, "x.orc2", "orc2", {})


def test_delta_iceberg_gated(spark):
    # lazy INSTALL/LOAD analog: clear MissingDependency, not a crash
    with pytest.raises(MissingDependency):
        load_source(spark, "/tmp/nonexistent_delta", "delta", {})
    with pytest.raises(MissingDependency):
        load_source(spark, "/tmp/nonexistent_iceberg", "iceberg", {})


def test_spatial_geojson(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("geo")
    p = d / "places.geojson"
    p.write_text(jsonlib.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature",
             "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
             "properties": {"name": "origin"}},
        ],
    }))
    df = load_source(spark, str(p), "spatial", {})
    row = df.collect()[0]
    assert row["geometry"]["type"] == "Point"
    assert row["properties"]["name"] == "origin"


# ------------------------------------------------------------------ #
# Secrets → Hadoop conf translation (reference secret.rs:219-359 style)
# ------------------------------------------------------------------ #


def test_s3_secret_per_bucket():
    conf = secret_to_hadoop_conf(
        "s3",
        {"key_id": "AK", "secret": "SK", "endpoint": "minio:9000",
         "url_style": "path", "use_ssl": False, "region": "us-east-1"},
        bucket="demo",
    )
    assert conf["fs.s3a.bucket.demo.access.key"] == "AK"
    assert conf["fs.s3a.bucket.demo.secret.key"] == "SK"
    assert conf["fs.s3a.bucket.demo.endpoint"] == "minio:9000"
    assert conf["fs.s3a.bucket.demo.path.style.access"] == "true"
    assert conf["fs.s3a.bucket.demo.connection.ssl.enabled"] == "false"


def test_r2_secret_builds_endpoint():
    conf = secret_to_hadoop_conf(
        "r2", {"key_id": "AK", "secret": "SK", "account_id": "acct123"}
    )
    assert conf["fs.s3a.endpoint"].startswith("https://acct123.")


def test_azure_and_gcs_secrets():
    az = secret_to_hadoop_conf(
        "azure", {"account_name": "acc", "account_key": "KEY"}
    )
    assert az["fs.azure.account.key.acc.dfs.core.windows.net"] == "KEY"
    gs = secret_to_hadoop_conf("gcs", {"key_id": "GK", "secret": "GS"})
    assert gs["fs.gs.auth.access.key"] == "GK"


def test_unknown_secret_type():
    with pytest.raises(UnsupportedFormat):
        secret_to_hadoop_conf("ftp", {})


def _write_delta_fixture(spark, root, partitioned=False):
    """Handcraft a minimal public-protocol Delta table: two commits,
    one file removed in the second."""
    import json as _json
    import os as _os

    _os.makedirs(f"{root}/_delta_log", exist_ok=True)

    def _part(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(f"{root}/_tmp")
        src = [f for f in _os.listdir(f"{root}/_tmp") if f.endswith(".parquet")][0]
        _os.replace(f"{root}/_tmp/{src}", f"{root}/{name}")

    _part(spark.range(0, 5).selectExpr("id", "id * 2 AS v"), "part-0.parquet")
    _part(spark.range(5, 8).selectExpr("id", "id * 2 AS v"), "part-1.parquet")
    _part(spark.range(8, 10).selectExpr("id", "id * 2 AS v"), "part-2.parquet")

    fields = [{"name": "id", "type": "long", "nullable": True, "metadata": {}},
              {"name": "v", "type": "long", "nullable": True, "metadata": {}}]
    part_cols = []
    if partitioned:
        fields.append({"name": "region", "type": "integer", "nullable": True, "metadata": {}})
        part_cols = ["region"]
    meta = {
        "id": "11111111-2222-3333-4444-555555555555",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": _json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": part_cols,
        "configuration": {},
    }

    def _add(path, pv):
        return {"add": {"path": path, "partitionValues": pv, "size": 1,
                        "modificationTime": 0, "dataChange": True}}

    pv0 = {"region": "1"} if partitioned else {}
    pv1 = {"region": "2"} if partitioned else {}
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        fh.write(_json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
        fh.write(_json.dumps({"metaData": meta}) + "\n")
        fh.write(_json.dumps(_add("part-0.parquet", pv0)) + "\n")
        fh.write(_json.dumps(_add("part-1.parquet", pv1)) + "\n")
    with open(f"{root}/_delta_log/{1:020d}.json", "w") as fh:
        # compaction-style commit: part-1 removed, part-2 takes over
        fh.write(_json.dumps({"remove": {"path": "part-1.parquet", "dataChange": True}}) + "\n")
        fh.write(_json.dumps(_add("part-2.parquet", pv1)) + "\n")


def test_delta_fallback_log_replay(spark, tmp_path):
    root = str(tmp_path / "dl")
    _write_delta_fixture(spark, root)
    df = load_source(spark, root, "delta")
    got = sorted(r["id"] for r in df.collect())
    # part-0 (0-4) + part-2 (8-9); removed part-1 (5-7) must be gone
    assert got == [0, 1, 2, 3, 4, 8, 9]


def test_delta_fallback_partition_columns(spark, tmp_path):
    root = str(tmp_path / "dlp")
    _write_delta_fixture(spark, root, partitioned=True)
    df = load_source(spark, root, "delta")
    assert dict(df.dtypes)["region"] == "int"
    regions = {r["region"] for r in df.select("region").distinct().collect()}
    assert regions == {1, 2}


def test_delta_partition_join_fails_loudly_on_unmatched_file(
    spark, tmp_path, monkeypatch
):
    """A data file whose path key matches no add action fails the read
    instead of losing its rows to an inner join."""
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources import delta

    root = str(tmp_path / "dlp")
    _write_delta_fixture(spark, root, partitioned=True)
    key = delta._file_key
    monkeypatch.setattr(
        delta, "_file_key", lambda uri: F.concat(key(uri), F.lit("#"))
    )
    with pytest.raises(Exception, match="matches no add action"):
        load_source(spark, root, "delta").collect()


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_direct_writes_allow_local_masters(master):
    from types import SimpleNamespace

    from pg_analytics_spark.sources.arrow_part import require_local_master

    require_local_master(SimpleNamespace(master=master), "/t")


@pytest.mark.parametrize(
    "master", ["spark://head:7077", "yarn", "k8s://https://h:443",
               "local-cluster[2,1,1024]"],
)
def test_direct_writes_fail_loudly_off_local_master(master, tmp_path):
    """Direct writes run tasks whose files the driver reads back; off a
    local master they fail before any task runs, naming the master and
    the target (a stub context: no cluster starts)."""
    from types import SimpleNamespace

    from pg_analytics_spark.errors import EngineError
    from pg_analytics_spark.sources.arrow_part import map_files
    from pg_analytics_spark.sources.iceberg_write import _stage_upsert_parts

    df = SimpleNamespace(
        sparkSession=SimpleNamespace(
            sparkContext=SimpleNamespace(master=master)
        )
    )
    target = str(tmp_path / "tbl")
    for write in (
        lambda: map_files(df, lambda batches: [], target),
        lambda: _stage_upsert_parts(df, target, ["k"], []),
    ):
        with pytest.raises(EngineError) as exc:
            write()
        assert master in str(exc.value) and target in str(exc.value)
    assert os.listdir(tmp_path) == []


def test_delta_fallback_rejects_non_delta_dir(spark, tmp_path):
    from pg_analytics_spark.errors import MissingDependency

    with pytest.raises(MissingDependency):
        load_source(spark, str(tmp_path), "delta")


# ------------------------------------------------------------------ #
# Avro reader/writer + Iceberg metadata-replay fallback
# ------------------------------------------------------------------ #


def test_avro_container_roundtrip(tmp_path):
    from pg_analytics_spark.sources.avro import read_container, write_container

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": ["null", "long"]},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "f8", "size": 3}},
            {"name": "e", "type": {"type": "enum", "name": "col", "symbols": ["RED", "BLUE"]}},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "int"}],
                },
            },
        ],
    }
    rows = [
        {
            "s": "héllo",
            "n": None,
            "d": -1.5,
            "b": True,
            "raw": b"\x00\xff",
            "fx": b"abc",
            "e": "BLUE",
            "arr": [0, -1, 2**40],
            "m": {"k1": "v1", "k2": "v2"},
            "nested": {"x": -7},
        },
        {
            "s": "",
            "n": 42,
            "d": 0.0,
            "b": False,
            "raw": b"",
            "fx": b"xyz",
            "e": "RED",
            "arr": [],
            "m": {},
            "nested": {"x": 0},
        },
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        write_container(schema, rows, p, codec=codec)
        _, got = read_container(p)
        assert got == rows, codec


_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
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


def _write_iceberg_fixture(
    root,
    moved_prefix=None,
    with_pos_deletes=False,
    with_eq_deletes=False,
    eq_delete_seq=2,
):
    """Hand-built Iceberg v2 table per the public spec: parquet data
    files (sequence number 1) + avro manifest/manifest-list + metadata
    JSON; optionally a position-delete file (spec
    §position-delete-files) or an equality-delete file at
    ``eq_delete_seq``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_analytics_spark.sources.avro import write_container

    os.makedirs(f"{root}/data", exist_ok=True)
    os.makedirs(f"{root}/metadata", exist_ok=True)

    def _data_file(name, ids):
        p = f"{root}/data/{name}"
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), p)
        return p

    f1 = _data_file("f1.parquet", [0, 1, 2])
    f2 = _data_file("f2.parquet", [3, 4])
    f3 = _data_file("f3.parquet", [9, 9, 9])  # DELETED entry → invisible

    def _entry(status, path, content=0):
        return {
            "status": status,
            "snapshot_id": 77,
            "data_file": {
                "content": content,
                "file_path": (moved_prefix + "/data/" + os.path.basename(path))
                if moved_prefix
                else path,
                "file_format": "PARQUET",
                "record_count": 1,
                "file_size_in_bytes": os.path.getsize(path),
            },
        }

    man1 = f"{root}/metadata/man1.avro"
    write_container(
        _MANIFEST_ENTRY_SCHEMA,
        [_entry(1, f1), _entry(0, f2), _entry(2, f3)],
        man1,
        codec="deflate",
    )
    manifests = [
        {
            "manifest_path": (moved_prefix + "/metadata/man1.avro")
            if moved_prefix
            else man1,
            "manifest_length": os.path.getsize(man1),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": 1,
            "added_snapshot_id": 77,
        }
    ]
    if with_pos_deletes or with_eq_deletes:
        if with_eq_deletes:
            # equality delete parquet: drops every row with id = 3
            dpath = f"{root}/data/del-eq.parquet"
            pq.write_table(pa.table({"id": pa.array([3], pa.int64())}), dpath)
        else:
            # positional delete parquet: drops f1 rows at positions 0 and 2
            dpath = f"{root}/data/del-1.parquet"
            pq.write_table(
                pa.table(
                    {
                        "file_path": pa.array([f1, f1], pa.string()),
                        "pos": pa.array([0, 2], pa.int64()),
                    }
                ),
                dpath,
            )
        mdel = f"{root}/metadata/man_del.avro"
        write_container(
            _MANIFEST_ENTRY_SCHEMA,
            [_entry(1, dpath, content=2 if with_eq_deletes else 1)],
            mdel,
            codec="null",
        )
        manifests.append(
            {
                "manifest_path": mdel,
                "manifest_length": os.path.getsize(mdel),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": eq_delete_seq if with_eq_deletes else 2,
                "added_snapshot_id": 77,
            }
        )
    mlist = f"{root}/metadata/snap-77.avro"
    write_container(_MANIFEST_LIST_SCHEMA, manifests, mlist)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": root,
        "current-snapshot-id": 77,
        "snapshots": [
            {
                "snapshot-id": 77,
                "manifest-list": (moved_prefix + "/metadata/snap-77.avro")
                if moved_prefix
                else mlist,
            }
        ],
    }
    with open(f"{root}/metadata/v2.metadata.json", "w") as fh:
        jsonlib.dump(meta, fh)
    with open(f"{root}/metadata/version-hint.text", "w") as fh:
        fh.write("2")


def test_iceberg_fallback_metadata_replay(spark, tmp_path):
    root = str(tmp_path / "ice")
    _write_iceberg_fixture(root)
    df = load_source(spark, root, "iceberg")
    got = sorted(r["id"] for r in df.collect())
    # ADDED f1 (0,1,2) + EXISTING f2 (3,4); DELETED f3 gone
    assert got == [0, 1, 2, 3, 4]


def test_iceberg_fallback_allow_moved_paths(spark, tmp_path):
    root = str(tmp_path / "ice_moved")
    # metadata records paths under a location that no longer exists
    _write_iceberg_fixture(root, moved_prefix="/old/warehouse/tbl")
    from pg_analytics_spark.errors import MissingDependency

    with pytest.raises(Exception):
        load_source(spark, root, "iceberg").collect()
    df = load_source(spark, root, "iceberg", {"allow_moved_paths": "true"})
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3, 4]


def test_iceberg_fallback_applies_positional_deletes(spark, tmp_path):
    root = str(tmp_path / "ice_del")
    _write_iceberg_fixture(root, with_pos_deletes=True)
    df = load_source(spark, root, "iceberg")
    # f1 (0,1,2) loses positions 0 and 2 → only id 1 survives; f2 intact
    assert sorted(r["id"] for r in df.collect()) == [1, 3, 4]


def test_iceberg_fallback_applies_equality_deletes(spark, tmp_path):
    root = str(tmp_path / "ice_eqdel")
    _write_iceberg_fixture(root, with_eq_deletes=True)
    df = load_source(spark, root, "iceberg")
    # delete seq 2 > data seq 1 → id=3 removed from f2
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 4]


def test_iceberg_equality_delete_sequence_rule(spark, tmp_path):
    root = str(tmp_path / "ice_eqseq")
    # delete at the SAME sequence number as the data files: spec says
    # equality deletes apply only to strictly OLDER data → no effect
    _write_iceberg_fixture(root, with_eq_deletes=True, eq_delete_seq=1)
    df = load_source(spark, root, "iceberg")
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3, 4]


def test_http_source_fetch_and_cache(spark, tmp_path):
    """http(s):// inputs are downloaded once and scanned locally —
    the reference's httpfs demo path (README.md:98-118)."""
    import functools
    import http.server
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3], pa.int64())}),
        str(tmp_path / "remote.parquet"),
    )
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(tmp_path)
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/remote.parquet"
        df = load_source(spark, url, "parquet")
        assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]
        # second load hits the cache (server down would still work)
        srv.shutdown()
        df2 = load_source(spark, url, "parquet")
        assert df2.count() == 3
    finally:
        srv.server_close()


def test_delta_fallback_time_travel(spark, tmp_path):
    root = str(tmp_path / "dl_tt")
    _write_delta_fixture(spark, root)
    # fixture: commit 0 adds part-0 (0-4) and part-1 (5-7);
    # commit 1 removes part-1 and adds part-2 (8-9)
    v0 = load_source(spark, root, "delta", {"version_as_of": 0})
    assert sorted(r["id"] for r in v0.collect()) == [0, 1, 2, 3, 4, 5, 6, 7]
    v1 = load_source(spark, root, "delta", {"version_as_of": 1})
    assert sorted(r["id"] for r in v1.collect()) == [0, 1, 2, 3, 4, 8, 9]
    from pg_analytics_spark.errors import MissingDependency

    with pytest.raises(MissingDependency):
        load_source(spark, root, "delta", {"version_as_of": 9})


def test_iceberg_fallback_snapshot_id(spark, tmp_path):
    root = str(tmp_path / "ice_tt")
    _write_iceberg_fixture(root)
    df = load_source(spark, root, "iceberg", {"snapshot_id": 77})
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3, 4]
    from pg_analytics_spark.errors import MissingDependency

    with pytest.raises(MissingDependency):
        load_source(spark, root, "iceberg", {"snapshot_id": 12345})


def test_hf_url_mapping():
    from pg_analytics_spark.sources.base import hf_to_https

    assert (
        hf_to_https("hf://datasets/acme/corpus/data/part-0.parquet")
        == "https://huggingface.co/datasets/acme/corpus/resolve/main/data/part-0.parquet"
    )
    assert (
        hf_to_https("hf://datasets/acme/corpus@v2/d.parquet")
        == "https://huggingface.co/datasets/acme/corpus/resolve/v2/d.parquet"
    )
    assert (
        hf_to_https("hf://acme/model/weights.bin")
        == "https://huggingface.co/acme/model/resolve/main/weights.bin"
    )
    with pytest.raises(ValueError):
        hf_to_https("hf://justorg/file")


def test_delta_time_travel_uses_checkpoint_base(spark, tmp_path):
    """After checkpointing + log cleanup (early commits deleted), time
    travel to a checkpointed version must replay from the newest
    checkpoint <= version; travel to a vacuumed version fails loudly
    instead of returning a silently incomplete file set (ADVICE r1)."""
    import json as _json
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_analytics_spark.errors import MissingDependency

    root = str(tmp_path / "dlcp")
    _write_delta_fixture(spark, root)
    log = f"{root}/_delta_log"
    with open(f"{log}/{0:020d}.json") as fh:
        meta = _json.loads(fh.readlines()[1])["metaData"]

    def _add(path):
        # real checkpoints type partitionValues as map<string,string>
        return {
            "path": path,
            "partitionValues": None,
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }

    rows = [
        {"add": _add("part-0.parquet"), "metaData": None},
        {"add": _add("part-2.parquet"), "metaData": None},
        {"add": None, "metaData": meta},
    ]
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
        ]
    )
    rows = [
        {
            "add": r["add"],
            "metaData": None
            if r["metaData"] is None
            else {k: meta[k] for k in ("id", "schemaString", "partitionColumns")},
        }
        for r in rows
    ]
    pq.write_table(
        pa.Table.from_pylist(
            rows, schema=pa.schema([("add", add_t), ("metaData", meta_t)])
        ),
        f"{log}/{1:020d}.checkpoint.parquet",
    )
    with open(f"{log}/_last_checkpoint", "w") as fh:
        fh.write(_json.dumps({"version": 1}))
    # log cleanup: commits at or before the checkpoint are gone
    _os.remove(f"{log}/{0:020d}.json")
    _os.remove(f"{log}/{1:020d}.json")

    v1 = load_source(spark, root, "delta", {"version_as_of": 1})
    assert sorted(r["id"] for r in v1.collect()) == [0, 1, 2, 3, 4, 8, 9]
    latest = load_source(spark, root, "delta")
    assert sorted(r["id"] for r in latest.collect()) == [0, 1, 2, 3, 4, 8, 9]
    with pytest.raises(MissingDependency, match="incomplete"):
        load_source(spark, root, "delta", {"version_as_of": 0})


# ------------------------------------------------------------------ #
# CSV option long-tail: skip / parallel / auto_type_candidates /
# max_line_size / force_not_null (reference csv.rs:26-104)
# ------------------------------------------------------------------ #


def test_csv_skip_drops_physical_lines_before_header(spark, tmp_path):
    p = tmp_path / "skippy.csv"
    p.write_text(
        "junk preamble line 1\n"
        "junk preamble line 2\n"
        "id,name\n"
        "1,alice\n"
        "2,bob\n"
    )
    df = load_source(
        spark, str(p), "csv", {"skip": 2, "header": True, "auto_detect": True}
    )
    assert df.columns == ["id", "name"]
    assert sorted(r["id"] for r in df.collect()) == [1, 2]


def test_csv_skip_rejects_multiple_files(spark, tmp_path):
    from pg_analytics_spark.errors import UnsupportedFormat

    for i in (1, 2):
        (tmp_path / f"f{i}.csv").write_text("id\n1\n")
    with pytest.raises(UnsupportedFormat, match="exactly one"):
        load_source(
            spark,
            [str(tmp_path / "f1.csv"), str(tmp_path / "f2.csv")],
            "csv",
            {"skip": 1},
        )


def test_csv_parallel_accepted_noop(spark, csv_dir, caplog):
    # parallel=true: accepted silently (Spark is always parallel);
    # parallel=false: logged fallback warning, read still succeeds
    import logging

    df = load_source(
        spark, f"{csv_dir}/people.csv", "csv",
        {"delim": ";", "parallel": True},
    )
    assert df.count() == 3
    with caplog.at_level(logging.WARNING, logger="pg_analytics_spark"):
        df = load_source(
            spark, f"{csv_dir}/people.csv", "csv",
            {"delim": ";", "parallel": False},
        )
    assert any("parallel" in r.message for r in caplog.records)
    assert df.count() == 3


def test_csv_auto_type_candidates_restricts_inference(spark, csv_dir):
    # score would infer as double; double is not a candidate → VARCHAR
    df = load_source(
        spark, f"{csv_dir}/people.csv", "csv",
        {
            "delim": ";",
            "auto_detect": True,
            "auto_type_candidates": ["BIGINT", "DATE"],
        },
    )
    types = dict(df.dtypes)
    assert types["id"] == "bigint"  # candidate type kept
    assert types["score"] == "string"  # non-candidate fell back
    assert types["joined"] == "date"


def test_csv_max_line_size_maps_to_max_chars(spark, tmp_path):
    p = tmp_path / "long.csv"
    p.write_text("id,blob\n1," + "x" * 100 + "\n")
    # generous bound reads fine
    df = load_source(
        spark, str(p), "csv", {"max_line_size": 4096, "auto_detect": True}
    )
    assert df.count() == 1
    # bound smaller than the field errors loudly — DuckDB's max_line_size
    # default behavior is also an error on over-long lines
    df = load_source(
        spark, str(p), "csv", {"max_line_size": 10, "auto_detect": False}
    )
    with pytest.raises(Exception, match="(?i)malformed|exceeds|read"):
        # collect, not count: CSV count() short-circuits field parsing
        df.collect()


def test_csv_force_not_null_coalesces_empty(spark, tmp_path):
    p = tmp_path / "nulls.csv"
    p.write_text("id,note\n1,\n2,hello\n")
    df = load_source(
        spark, str(p), "csv",
        {"auto_detect": False, "force_not_null": ["note"]},
    )
    vals = {r["id"]: r["note"] for r in df.collect()}
    assert vals["1"] == ""  # forced to empty string, not NULL
    assert vals["2"] == "hello"


# ------------------------------------------------------------------ #
# Spatial S6 breadth: st_read option surface, spatial_filter_box,
# WKT/WKB column helpers (reference spatial.rs:29-82)
# ------------------------------------------------------------------ #


@pytest.fixture(scope="module")
def geo_fixture(tmp_path_factory):
    d = tmp_path_factory.mktemp("geo2")
    p = d / "shapes.geojson"
    p.write_text(jsonlib.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature",
             "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
             "properties": {"name": "near"}},
            {"type": "Feature",
             "geometry": {"type": "Point", "coordinates": [50.0, 60.0]},
             "properties": {"name": "far"}},
            {"type": "Feature",
             "geometry": {"type": "Polygon",
                          "coordinates": [[[0.0, 0.0], [4.0, 0.0],
                                           [4.0, 4.0], [0.0, 4.0],
                                           [0.0, 0.0]]]},
             "properties": {"name": "square"}},
        ],
    }))
    return str(p)


def test_spatial_filter_box_envelope_intersection(spark, geo_fixture):
    df = load_source(
        spark, geo_fixture, "spatial", {"spatial_filter_box": "0,0,5,5"}
    )
    names = sorted(r["properties"]["name"] for r in df.collect())
    # point (1,2) and the polygon envelope intersect; (50,60) filtered
    assert names == ["near", "square"]


def test_spatial_gdal_only_options_rejected(spark, geo_fixture):
    from pg_analytics_spark.errors import UnsupportedFormat

    for opt in ("layer", "open_options", "allowed_drivers",
                "sibling_files", "sequential_layer_scan", "spatial_filter"):
        with pytest.raises(UnsupportedFormat, match=opt):
            load_source(spark, geo_fixture, "spatial", {opt: "x"})


def test_spatial_filter_box_malformed_value(spark, geo_fixture):
    from pg_analytics_spark.errors import UnsupportedFormat

    with pytest.raises(UnsupportedFormat, match="spatial_filter_box"):
        load_source(spark, geo_fixture, "spatial", {"spatial_filter_box": "1,2,3"})


def test_wkt_envelope_and_wkb_roundtrip(spark):
    from pg_analytics_spark.functions.geo import (
        envelope_intersects,
        to_wkb_point,
        wkb_point_xy,
        wkt_envelope,
    )

    df = spark.createDataFrame(
        [
            (1, "POINT (2.5 -3.5)", 2.5, -3.5),
            (2, "LINESTRING (0 0, 10 20)", 10.0, 20.0),
        ],
        ["id", "wkt", "lon", "lat"],
    )
    env = df.select("id", wkt_envelope("wkt").alias("e")).collect()
    by_id = {r.id: r.e for r in env}
    assert by_id[1].minx == 2.5 and by_id[1].maxy == -3.5
    assert by_id[2] == (0.0, 0.0, 10.0, 20.0)

    hits = df.filter(
        envelope_intersects(wkt_envelope("wkt"), 5.0, 5.0, 15.0, 25.0)
    ).collect()
    assert [r.id for r in hits] == [2]

    rt = df.select(
        "id", "lon", "lat", wkb_point_xy(to_wkb_point("lon", "lat")).alias("p")
    ).collect()
    for r in rt:
        assert r.p.lon == r.lon and r.p.lat == r.lat


def test_wkb_point_xy_rejects_non_point(spark):
    import struct as _struct

    # little-endian WKB LINESTRING header (type=2), zero points
    bad = b"\x01" + _struct.pack("<I", 2) + _struct.pack("<I", 0)
    df = spark.createDataFrame([(bad,)], "g: binary")
    from pg_analytics_spark.functions.geo import wkb_point_xy

    with pytest.raises(Exception, match="not a POINT"):
        df.select(wkb_point_xy("g")).collect()


def test_iceberg_bucket_hash_matches_spec_appendix_b():
    """The spec's reference values (Appendix B) pin the bucket hash:
    any deviation silently prunes the wrong files."""
    import struct

    from pg_analytics_spark.sources.iceberg_prune import (
        murmur3_x86_32,
        transform_value,
    )

    assert murmur3_x86_32(struct.pack("<q", 34)) == 2017239379
    assert murmur3_x86_32(b"iceberg") == 1210000089
    assert murmur3_x86_32(struct.pack("<q", 17486)) == -653330422
    assert murmur3_x86_32(struct.pack("<q", 1510871468000000)) == -2047944441
    # transform semantics from the spec's examples
    assert transform_value("truncate[10]", -1, "int") == -10
    assert transform_value("truncate[3]", "iceberg", "string") == "ice"
    assert transform_value("day", "2017-11-16T22:31:08", "timestamp") == 17486
    assert transform_value("month", "2017-11-16", "date") == 574


def test_iceberg_bounds_in_list_prunes():
    """An `in` list prunes a file only when EVERY member misses its
    [lower, upper] range — and it really does prune (the member probe
    uses equality semantics, not the outer 'in' op)."""
    import struct

    from pg_analytics_spark.sources.iceberg_prune import file_bounds_may_match

    def _b(v):
        return struct.pack("<q", v)

    data_file = {
        "lower_bounds": [{"key": 1, "value": _b(10)}],
        "upper_bounds": [{"key": 1, "value": _b(20)}],
    }
    fids = {"id": 1}
    ftypes = {1: "long"}
    # every member outside [10, 20] → file is skippable
    assert not file_bounds_may_match(
        data_file, fids, ftypes, [("id", "in", [1, 2, 30])]
    )
    # one member inside the range → file survives
    assert file_bounds_may_match(
        data_file, fids, ftypes, [("id", "in", [1, 15, 30])]
    )
    # boundary members count as hits
    assert file_bounds_may_match(data_file, fids, ftypes, [("id", "in", [10])])
    assert file_bounds_may_match(data_file, fids, ftypes, [("id", "in", [20])])
    # file without bounds always survives
    assert file_bounds_may_match({}, fids, ftypes, [("id", "in", [1])])


def _write_partitioned_iceberg_fixture(root):
    """v2 table partitioned by (bucket[4](id), truncate[2](cat)): four
    data files with partition tuples recorded in the manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_analytics_spark.sources.avro import write_container
    from pg_analytics_spark.sources.iceberg_prune import transform_value

    os.makedirs(f"{root}/data", exist_ok=True)
    os.makedirs(f"{root}/metadata", exist_ok=True)

    part_schema = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": "id_bucket", "type": ["null", "int"]},
            {"name": "cat_tr", "type": ["null", "string"]},
        ],
    }
    entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "partition", "type": part_schema},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }

    groups = {}
    for i, cat in [(1, "aa1"), (2, "aa2"), (6, "bb1"), (7, "cc3")]:
        b = transform_value("bucket[4]", i, "long")
        groups.setdefault((b, cat[:2]), []).append((i, cat))
    entries = []
    for n, ((b, tr), rows) in enumerate(sorted(groups.items())):
        p = f"{root}/data/p{n}.parquet"
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([r[0] for r in rows], pa.int64()),
                    "cat": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            p,
        )
        entries.append(
            {
                "status": 1,
                "snapshot_id": 9,
                "data_file": {
                    "content": 0,
                    "file_path": p,
                    "file_format": "PARQUET",
                    "partition": {"id_bucket": b, "cat_tr": tr},
                    "record_count": len(rows),
                    "file_size_in_bytes": os.path.getsize(p),
                },
            }
        )
    man = f"{root}/metadata/man1.avro"
    write_container(entry_schema, entries, man)
    mlist = f"{root}/metadata/snap-9.avro"
    write_container(
        _MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": man,
                "manifest_length": os.path.getsize(man),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "added_snapshot_id": 9,
            }
        ],
        mlist,
    )
    meta = {
        "format-version": 2,
        "location": root,
        "current-snapshot-id": 9,
        "current-schema-id": 0,
        "schemas": [
            {
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "type": "long"},
                    {"id": 2, "name": "cat", "type": "string"},
                ],
            }
        ],
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": "id_bucket",
                        "transform": "bucket[4]",
                        "source-id": 1,
                        "field-id": 1000,
                    },
                    {
                        "name": "cat_tr",
                        "transform": "truncate[2]",
                        "source-id": 2,
                        "field-id": 1001,
                    },
                ],
            }
        ],
        "snapshots": [{"snapshot-id": 9, "manifest-list": mlist}],
    }
    with open(f"{root}/metadata/v1.metadata.json", "w") as fh:
        jsonlib.dump(meta, fh)
    with open(f"{root}/metadata/version-hint.text", "w") as fh:
        fh.write("1")


def test_iceberg_partition_pruning_bucket_and_truncate(spark, tmp_path):
    root = str(tmp_path / "icep")
    _write_partitioned_iceberg_fixture(root)
    # no filter: all rows
    assert load_source(spark, root, "iceberg").count() == 4
    # bucket[4] equality on id=6 (bucket 1 — unique among the files)
    # prunes to the single matching file
    df = load_source(
        spark, root, "iceberg", {"partition_filter": '[["id", "=", 6]]'}
    )
    assert [r["id"] for r in df.collect()] == [6]
    assert len(df.inputFiles()) == 1
    # truncate[2] range predicate on cat: cat >= 'bb' keeps bb/cc files
    df2 = load_source(
        spark, root, "iceberg", {"partition_filter": [["cat", ">=", "bb"]]}
    )
    assert sorted(r["cat"] for r in df2.collect()) == ["bb1", "cc3"]
    assert len(df2.inputFiles()) == 2
    # pruning everything is surfaced, not an empty mystery
    with pytest.raises(MissingDependency):
        load_source(
            spark, root, "iceberg",
            {"partition_filter": [["cat", ">", "zz"]]},
        )


def test_iceberg_as_of_timestamp_time_travel(spark, tmp_path):
    root = str(tmp_path / "icet")
    _write_iceberg_fixture(root)
    # add a second, later snapshot (id 88) whose manifest only has f1
    from pg_analytics_spark.sources.avro import write_container

    meta_path = f"{root}/metadata/v2.metadata.json"
    with open(meta_path) as fh:
        meta = jsonlib.load(fh)
    man2 = f"{root}/metadata/man2.avro"
    write_container(
        _MANIFEST_ENTRY_SCHEMA,
        [
            {
                "status": 0,
                "snapshot_id": 88,
                "data_file": {
                    "content": 0,
                    "file_path": f"{root}/data/f1.parquet",
                    "file_format": "PARQUET",
                    "record_count": 3,
                    "file_size_in_bytes": os.path.getsize(
                        f"{root}/data/f1.parquet"
                    ),
                },
            }
        ],
        man2,
    )
    mlist2 = f"{root}/metadata/snap-88.avro"
    write_container(
        _MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": man2,
                "manifest_length": os.path.getsize(man2),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 2,
                "added_snapshot_id": 88,
            }
        ],
        mlist2,
    )
    meta["snapshots"][0]["timestamp-ms"] = 1000
    meta["snapshots"].append(
        {"snapshot-id": 88, "manifest-list": mlist2, "timestamp-ms": 2000}
    )
    meta["current-snapshot-id"] = 88
    meta["snapshot-log"] = [
        {"timestamp-ms": 1000, "snapshot-id": 77},
        {"timestamp-ms": 2000, "snapshot-id": 88},
    ]
    with open(meta_path, "w") as fh:
        jsonlib.dump(meta, fh)
    # as-of 1500 resolves to snapshot 77 (both files)
    assert load_source(
        spark, root, "iceberg", {"as_of_timestamp_ms": 1500}
    ).count() == 5
    # as-of 2500 resolves to snapshot 88 (f1 only)
    assert load_source(
        spark, root, "iceberg", {"as_of_timestamp_ms": 2500}
    ).count() == 3
    # before the first snapshot: clear error
    with pytest.raises(MissingDependency):
        load_source(spark, root, "iceberg", {"as_of_timestamp_ms": 10})


def test_delta_timestamp_as_of(spark, tmp_path):
    root = str(tmp_path / "dl_ts")
    _write_delta_fixture(spark, root)
    # stamp commitInfo timestamps: v0 at t=1000, v1 at t=2000
    for v, t in [(0, 1000), (1, 2000)]:
        p = f"{root}/_delta_log/{v:020d}.json"
        with open(p) as fh:
            body = fh.read()
        with open(p, "w") as fh:
            fh.write(jsonlib.dumps({"commitInfo": {"timestamp": t}}) + "\n")
            fh.write(body)
    ts = load_source(spark, root, "delta", {"timestamp_as_of": 1500})
    assert sorted(r["id"] for r in ts.collect()) == [0, 1, 2, 3, 4, 5, 6, 7]
    ts2 = load_source(spark, root, "delta", {"timestamp_as_of": 2000})
    assert sorted(r["id"] for r in ts2.collect()) == [0, 1, 2, 3, 4, 8, 9]
    with pytest.raises(MissingDependency):
        load_source(spark, root, "delta", {"timestamp_as_of": 10})
    with pytest.raises(ValueError):
        load_source(
            spark, root, "delta",
            {"timestamp_as_of": 1500, "version_as_of": 0},
        )


def test_iceberg_schema_evolution_add_and_type_widen(spark, tmp_path):
    """Old files lack a later-added column and store `id` as int32; the
    replay must conform to the CURRENT schema: typed NULLs for the add,
    declared types for every primitive (name-based evolution for files
    without field_id annotations; renames resolve via field ids — see
    test_iceberg_rename_column_field_id_resolution)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_analytics_spark.sources.avro import write_container

    root = str(tmp_path / "ice_evo")
    os.makedirs(f"{root}/data", exist_ok=True)
    os.makedirs(f"{root}/metadata", exist_ok=True)
    # old file: schema v0 (id int32); new file: schema v1 (id, note)
    f_old = f"{root}/data/old.parquet"
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int32())}), f_old)
    f_new = f"{root}/data/new.parquet"
    pq.write_table(
        pa.table(
            {
                "id": pa.array([3], pa.int64()),
                "note": pa.array(["x"], pa.string()),
            }
        ),
        f_new,
    )

    def _entry(path):
        return {
            "status": 1,
            "snapshot_id": 5,
            "data_file": {
                "content": 0,
                "file_path": path,
                "file_format": "PARQUET",
                "record_count": 1,
                "file_size_in_bytes": os.path.getsize(path),
            },
        }

    man = f"{root}/metadata/man.avro"
    write_container(_MANIFEST_ENTRY_SCHEMA, [_entry(f_old), _entry(f_new)], man)
    mlist = f"{root}/metadata/snap-5.avro"
    write_container(
        _MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": man,
                "manifest_length": os.path.getsize(man),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "added_snapshot_id": 5,
            }
        ],
        mlist,
    )
    meta = {
        "format-version": 2,
        "location": root,
        "current-snapshot-id": 5,
        "current-schema-id": 1,
        "schemas": [
            {
                "schema-id": 0,
                "fields": [{"id": 1, "name": "id", "type": "int"}],
            },
            {
                "schema-id": 1,
                "fields": [
                    {"id": 1, "name": "id", "type": "long"},
                    {"id": 2, "name": "note", "type": "string"},
                ],
            },
        ],
        "snapshots": [{"snapshot-id": 5, "manifest-list": mlist}],
    }
    with open(f"{root}/metadata/v1.metadata.json", "w") as fh:
        jsonlib.dump(meta, fh)
    with open(f"{root}/metadata/version-hint.text", "w") as fh:
        fh.write("1")

    df = load_source(spark, root, "iceberg")
    assert df.columns == ["id", "note"]
    assert dict(df.dtypes)["id"] == "bigint"
    rows = {r["id"]: r["note"] for r in df.collect()}
    assert rows == {1: None, 2: None, 3: "x"}


def test_delta_schema_evolution_add_column(spark, tmp_path):
    """A column added in commit 1: rows from the commit-0 file surface
    it as typed NULL, per the current schemaString."""
    import json as _json

    root = str(tmp_path / "dl_evo")
    _write_delta_fixture(spark, root)
    # commit 2: evolve schema (add note STRING) + add a file that has it
    spark.createDataFrame(
        [(100, 200, "hello")], "id LONG, v LONG, note STRING"
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/_tmp2")
    src = [
        f for f in os.listdir(f"{root}/_tmp2") if f.endswith(".parquet")
    ][0]
    os.replace(f"{root}/_tmp2/{src}", f"{root}/part-3.parquet")
    meta2 = {
        "id": "11111111-2222-3333-4444-555555555555",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": _json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "id", "type": "long", "nullable": True,
                     "metadata": {}},
                    {"name": "v", "type": "long", "nullable": True,
                     "metadata": {}},
                    {"name": "note", "type": "string", "nullable": True,
                     "metadata": {}},
                ],
            }
        ),
        "partitionColumns": [],
        "configuration": {},
    }
    with open(f"{root}/_delta_log/{2:020d}.json", "w") as fh:
        fh.write(_json.dumps({"metaData": meta2}) + "\n")
        fh.write(
            _json.dumps(
                {"add": {"path": "part-3.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 0,
                         "dataChange": True}}
            )
            + "\n"
        )
    df = load_source(spark, root, "delta")
    assert df.columns == ["id", "v", "note"]
    rows = {r["id"]: r["note"] for r in df.collect()}
    assert rows[100] == "hello"
    assert rows[0] is None  # commit-0 file: added column is NULL
    # time travel back to version 1: pre-evolution schema
    v1 = load_source(spark, root, "delta", {"version_as_of": 1})
    assert v1.columns == ["id", "v"]


def test_iceberg_rename_column_field_id_resolution(spark, tmp_path):
    """A column renamed in the current schema must read its values from
    old files via parquet field_id resolution (spec: "Columns in data
    files are resolved by field id"), not surface as NULLs.  Old file
    stores field 1 as `qty`; the current schema calls field 1 `amount`.
    A second file (post-rename) already uses the new name — and a third
    field exercises drop-then-re-add: same name/type, NEW field id, so
    the old file's column must NOT leak into the re-added field."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_analytics_spark.sources.avro import write_container

    root = str(tmp_path / "ice_rename")
    os.makedirs(f"{root}/data", exist_ok=True)
    os.makedirs(f"{root}/metadata", exist_ok=True)

    def _fid(name, typ, fid):
        return pa.field(name, typ, metadata={b"PARQUET:field_id": str(fid).encode()})

    # old file: field 1 under its OLD name + field 2 (later dropped,
    # then re-added as field 3 with the same name/type)
    f_old = f"{root}/data/old.parquet"
    pq.write_table(
        pa.table(
            [pa.array([10, 20], pa.int64()), pa.array(["a", "b"], pa.string())],
            schema=pa.schema([_fid("qty", pa.int64(), 1), _fid("tag", pa.string(), 2)]),
        ),
        f_old,
    )
    # new file: post-rename names, re-added tag is field 3
    f_new = f"{root}/data/new.parquet"
    pq.write_table(
        pa.table(
            [pa.array([30], pa.int64()), pa.array(["c"], pa.string())],
            schema=pa.schema(
                [_fid("amount", pa.int64(), 1), _fid("tag", pa.string(), 3)]
            ),
        ),
        f_new,
    )

    def _entry(path):
        return {
            "status": 1,
            "snapshot_id": 5,
            "data_file": {
                "content": 0,
                "file_path": path,
                "file_format": "PARQUET",
                "record_count": 1,
                "file_size_in_bytes": os.path.getsize(path),
            },
        }

    man = f"{root}/metadata/man.avro"
    write_container(_MANIFEST_ENTRY_SCHEMA, [_entry(f_old), _entry(f_new)], man)
    mlist = f"{root}/metadata/snap-5.avro"
    write_container(
        _MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": man,
                "manifest_length": os.path.getsize(man),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "added_snapshot_id": 5,
            }
        ],
        mlist,
    )
    meta = {
        "format-version": 2,
        "location": root,
        "current-snapshot-id": 5,
        "current-schema-id": 1,
        "schemas": [
            {
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "qty", "type": "long"},
                    {"id": 2, "name": "tag", "type": "string"},
                ],
            },
            {
                "schema-id": 1,
                "fields": [
                    {"id": 1, "name": "amount", "type": "long"},
                    {"id": 3, "name": "tag", "type": "string"},
                ],
            },
        ],
        "snapshots": [{"snapshot-id": 5, "manifest-list": mlist}],
    }
    with open(f"{root}/metadata/v1.metadata.json", "w") as fh:
        jsonlib.dump(meta, fh)
    with open(f"{root}/metadata/version-hint.text", "w") as fh:
        fh.write("1")

    df = load_source(spark, root, "iceberg")
    assert df.columns == ["amount", "tag"]
    rows = {r["amount"]: r["tag"] for r in df.collect()}
    # renamed field 1 reads old values; dropped field 2 does NOT leak
    # into re-added field 3 (old rows are NULL there)
    assert rows == {10: None, 20: None, 30: "c"}


def test_delta_rename_column_mapping(spark, tmp_path):
    """Rename under delta.columnMapping.mode=name: the logical name in
    schemaString changes, physicalName stays — old files keep reading
    correctly under the new logical name."""
    import json as _json

    root = str(tmp_path / "dl_rename")
    os.makedirs(f"{root}/_delta_log", exist_ok=True)
    spark.createDataFrame([(1, "x"), (2, "y")], "`col-aaaa` LONG, `col-bbbb` STRING") \
        .coalesce(1).write.mode("overwrite").parquet(f"{root}/_tmp")
    src = [f for f in os.listdir(f"{root}/_tmp") if f.endswith(".parquet")][0]
    os.replace(f"{root}/_tmp/{src}", f"{root}/part-0.parquet")

    def _schema(id_name, val_name):
        return _json.dumps(
            {
                "type": "struct",
                "fields": [
                    {
                        "name": id_name,
                        "type": "long",
                        "nullable": True,
                        "metadata": {
                            "delta.columnMapping.id": 1,
                            "delta.columnMapping.physicalName": "col-aaaa",
                        },
                    },
                    {
                        "name": val_name,
                        "type": "string",
                        "nullable": True,
                        "metadata": {
                            "delta.columnMapping.id": 2,
                            "delta.columnMapping.physicalName": "col-bbbb",
                        },
                    },
                ],
            }
        )

    def _meta(schema_str):
        return {
            "id": "99999999-8888-7777-6666-555555555555",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_str,
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
        }

    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        fh.write(_json.dumps({"metaData": _meta(_schema("id", "val"))}) + "\n")
        fh.write(
            _json.dumps(
                {"add": {"path": "part-0.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 0, "dataChange": True}}
            )
            + "\n"
        )
    # commit 1: rename val -> label (physicalName unchanged)
    with open(f"{root}/_delta_log/{1:020d}.json", "w") as fh:
        fh.write(_json.dumps({"metaData": _meta(_schema("id", "label"))}) + "\n")

    df = load_source(spark, root, "delta")
    assert df.columns == ["id", "label"]
    assert {r["id"]: r["label"] for r in df.collect()} == {1: "x", 2: "y"}


def test_avro_source_roundtrip(spark, tmp_path):
    """Avro data files attach as tables through the dependency-free
    container reader: primitives, nullable unions, arrays."""
    from pg_analytics_spark.sources.avro import write_container

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "score", "type": "double"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
        ],
    }
    recs = [
        {"id": 1, "name": "a", "score": 1.5, "tags": ["x", "y"]},
        {"id": 2, "name": None, "score": -2.0, "tags": []},
    ]
    path = str(tmp_path / "rows.avro")
    write_container(schema, recs, path)
    df = load_source(spark, path, "avro")
    assert df.columns == ["id", "name", "score", "tags"]
    assert dict(df.dtypes) == {
        "id": "bigint", "name": "string", "score": "double",
        "tags": "array<string>",
    }
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["tags"] == ["x", "y"] and rows[2]["name"] is None


def test_gzip_csv_and_json_transparent(spark, tmp_path):
    """Spark reads .gz text sources transparently — the compressed-
    corpus ingestion path (jsonl.gz is the lingua franca of web-scale
    text dumps)."""
    import gzip

    c = tmp_path / "part.csv.gz"
    with gzip.open(c, "wt") as fh:
        fh.write("id,name\n1,alpha\n2,beta\n")
    df = load_source(spark, str(c), "csv", {"header": True})
    assert {r["name"] for r in df.collect()} == {"alpha", "beta"}

    j = tmp_path / "part.jsonl.gz"
    with gzip.open(j, "wt") as fh:
        fh.write('{"id": 1, "t": "x"}\n{"id": 2, "t": "y"}\n')
    dj = load_source(spark, str(j), "json", {"format": "nl"})
    assert dj.count() == 2


def test_delta_stats_filter_file_skipping(spark, tmp_path):
    """Data skipping from add-action JSON stats: files provably outside
    the range never reach the scan; files without stats are kept
    (skipping must be safe); the row predicate re-applies for
    exactness."""
    import json as _json

    root = str(tmp_path / "dl_stats")
    os.makedirs(f"{root}/_delta_log", exist_ok=True)

    def _part(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(f"{root}/_tmp")
        src = [f for f in os.listdir(f"{root}/_tmp") if f.endswith(".parquet")][0]
        os.replace(f"{root}/_tmp/{src}", f"{root}/{name}")

    _part(spark.range(0, 5).selectExpr("id", "id * 2 AS v"), "part-0.parquet")
    _part(spark.range(5, 8).selectExpr("id", "id * 2 AS v"), "part-1.parquet")
    _part(spark.range(8, 10).selectExpr("id", "id * 2 AS v"), "part-2.parquet")
    meta = {
        "id": "aaaa1111-2222-3333-4444-555555555555",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": _json.dumps({
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            ],
        }),
        "partitionColumns": [],
        "configuration": {},
    }

    def _add(path, stats):
        a = {"path": path, "partitionValues": {}, "size": 1,
             "modificationTime": 0, "dataChange": True}
        if stats is not None:
            a["stats"] = _json.dumps(stats)
        return {"add": a}

    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        fh.write(_json.dumps({"metaData": meta}) + "\n")
        fh.write(_json.dumps(_add(
            "part-0.parquet",
            {"numRecords": 5, "minValues": {"id": 0}, "maxValues": {"id": 4}},
        )) + "\n")
        fh.write(_json.dumps(_add(
            "part-1.parquet",
            {"numRecords": 3, "minValues": {"id": 5}, "maxValues": {"id": 7}},
        )) + "\n")
        fh.write(_json.dumps(_add("part-2.parquet", None)) + "\n")  # no stats

    df = load_source(spark, root, "delta", {"stats_filter": {"id": (5, 6)}})
    files = {os.path.basename(p) for p in df.inputFiles()}
    # part-0 provably outside [5,6] → skipped; part-2 has no stats → kept
    assert "part-0.parquet" not in files
    assert "part-1.parquet" in files and "part-2.parquet" in files
    assert sorted(r["id"] for r in df.collect()) == [5, 6]


def test_iceberg_bounds_file_skipping(spark, tmp_path):
    """Column-bounds data skipping in the native replay: files whose
    [lower, upper] range provably misses the predicate never reach the
    scan; files without bounds are kept; the residual row predicate
    keeps the result exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import struct as _struct

    from pg_analytics_spark.sources.avro import write_container

    root = str(tmp_path / "ice_bounds")
    os.makedirs(f"{root}/data", exist_ok=True)
    os.makedirs(f"{root}/metadata", exist_ok=True)
    f_lo = f"{root}/data/lo.parquet"
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}), f_lo)
    f_hi = f"{root}/data/hi.parquet"
    pq.write_table(pa.table({"id": pa.array([10, 11], pa.int64())}), f_hi)
    f_nb = f"{root}/data/nb.parquet"
    pq.write_table(pa.table({"id": pa.array([6], pa.int64())}), f_nb)

    entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "rb",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            "name": "lower_bounds",
                            "type": ["null", {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "kv1",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            }],
                        },
                        {
                            "name": "upper_bounds",
                            "type": ["null", {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "kv2",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            }],
                        },
                    ],
                },
            },
        ],
    }

    def _b(v):
        return _struct.pack("<q", v)

    def _entry(path, lo, hi):
        d = {
            "content": 0,
            "file_path": path,
            "file_format": "PARQUET",
            "record_count": 1,
            "file_size_in_bytes": os.path.getsize(path),
            "lower_bounds": None,
            "upper_bounds": None,
        }
        if lo is not None:
            d["lower_bounds"] = [{"key": 1, "value": _b(lo)}]
            d["upper_bounds"] = [{"key": 1, "value": _b(hi)}]
        return {"status": 1, "snapshot_id": 5, "data_file": d}

    man = f"{root}/metadata/man.avro"
    write_container(
        entry_schema,
        [_entry(f_lo, 1, 3), _entry(f_hi, 10, 11), _entry(f_nb, None, None)],
        man,
    )
    mlist = f"{root}/metadata/snap-5.avro"
    write_container(
        _MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": man,
                "manifest_length": os.path.getsize(man),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "added_snapshot_id": 5,
            }
        ],
        mlist,
    )
    meta = {
        "format-version": 2,
        "location": root,
        "current-snapshot-id": 5,
        "current-schema-id": 0,
        "schemas": [
            {"schema-id": 0, "fields": [{"id": 1, "name": "id", "type": "long"}]}
        ],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "snapshots": [{"snapshot-id": 5, "manifest-list": mlist}],
    }
    with open(f"{root}/metadata/v1.metadata.json", "w") as fh:
        jsonlib.dump(meta, fh)
    with open(f"{root}/metadata/version-hint.text", "w") as fh:
        fh.write("1")

    df = load_source(
        spark, root, "iceberg", {"partition_filter": [["id", ">=", 10]]}
    )
    files = {os.path.basename(p) for p in df.inputFiles()}
    # lo.parquet provably misses id>=10 → skipped; nb has no bounds → kept
    assert "lo.parquet" not in files
    assert "hi.parquet" in files and "nb.parquet" in files
    assert sorted(r["id"] for r in df.collect()) == [10, 11]


def test_delta_stats_filter_prunes_partitions(spark, tmp_path):
    """stats_filter also prunes on hive partitionValues: partitions
    outside the range never reach the scan."""
    root = str(tmp_path / "dl_pstats")
    _write_delta_fixture(spark, root, partitioned=True)
    df = load_source(spark, root, "delta", {"stats_filter": {"region": (2, 2)}})
    rows = df.collect()
    assert rows and all(r["region"] == 2 for r in rows)
    files = {os.path.basename(p) for p in df.inputFiles()}
    assert "part-0.parquet" not in files  # region=1 partition pruned


def test_rawtext_source_reads_files(spark, tmp_path):
    """DuckDB read_text analog: whole files as (filename, content,
    size) rows over the distributed binaryFile format; mtime only on
    request (environment-dependent)."""
    (tmp_path / "a.txt").write_text("alpha")
    (tmp_path / "b.txt").write_text("bravo!")
    df = load_source(spark, f"{tmp_path}/*.txt", "text")
    rows = {r["filename"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.txt", "b.txt"}
    assert rows["a.txt"]["content"] == "alpha" and rows["a.txt"]["size"] == 5
    assert rows["b.txt"]["size"] == 6
    assert "last_modified" not in df.columns
    df2 = load_source(
        spark, f"{tmp_path}/a.txt", "text", {"with_last_modified": True}
    )
    assert df2.collect()[0]["last_modified"] is not None


def test_delta_native_writer_roundtrip(spark, tmp_path):
    """Zero-dependency Delta WRITER: overwrite + append commits round-
    trip through the native replay reader, old versions stay
    time-travelable, and add-action stats drive file skipping."""
    from pg_analytics_spark.sources.delta_write import write_delta

    root = str(tmp_path / "dw")
    d1 = spark.range(0, 5).selectExpr("id", "id * 10 AS v")
    r1 = write_delta(d1, root, mode="overwrite")
    assert r1 == {"version": 0, "files": r1["files"], "rows": 5}

    d2 = spark.range(5, 8).selectExpr("id", "id * 10 AS v")
    r2 = write_delta(d2, root, mode="append")
    assert r2["version"] == 1 and r2["rows"] == 3

    got = load_source(spark, root, "delta")
    assert sorted(r["id"] for r in got.collect()) == list(range(8))
    # time travel to the first commit
    v0 = load_source(spark, root, "delta", {"version_as_of": 0})
    assert sorted(r["id"] for r in v0.collect()) == list(range(5))

    # overwrite replaces (removes v0+v1 files) but keeps history
    d3 = spark.range(100, 103).selectExpr("id", "id * 10 AS v")
    r3 = write_delta(d3, root, mode="overwrite")
    assert r3["version"] == 2
    now = load_source(spark, root, "delta")
    assert sorted(r["id"] for r in now.collect()) == [100, 101, 102]
    v1 = load_source(spark, root, "delta", {"version_as_of": 1})
    assert sorted(r["id"] for r in v1.collect()) == list(range(8))


def test_delta_native_writer_stats_skipping_and_partitions(spark, tmp_path):
    from pg_analytics_spark.sources.delta_write import write_delta

    root = str(tmp_path / "dwp")
    df = spark.range(0, 100).selectExpr(
        "id", "CAST(id % 4 AS INT) AS region"
    )
    write_delta(df, root, mode="overwrite", partition_by="region")
    back = load_source(spark, root, "delta")
    assert back.count() == 100
    assert dict(back.dtypes)["region"] == "int"  # typed via schemaString
    # stats_filter prunes partitions/files outside the range
    pruned = load_source(spark, root, "delta", {"stats_filter": {"region": (2, 2)}})
    rows = pruned.collect()
    assert rows and all(r["region"] == 2 for r in rows)
    files = {os.path.basename(p) for p in pruned.inputFiles()}
    all_files = {os.path.basename(p) for p in back.inputFiles()}
    assert len(files) < len(all_files)
    # id stats from footers also skip
    pruned2 = load_source(spark, root, "delta", {"stats_filter": {"id": (0, 10)}})
    assert sorted(r["id"] for r in pruned2.collect()) == list(range(11))


def test_materialize_delta_roundtrip(engine, tmp_path):
    loc = str(tmp_path / "delta_tbl")
    df = engine.materialize(
        "dtbl",
        "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 7",
        path=loc,
        format="delta",
    )
    assert df.count() == 7
    assert os.path.exists(os.path.join(loc, "_delta_log"))
    assert engine.sql("SELECT COUNT(*) AS n FROM dtbl").collect()[0]["n"] == 7


def test_iceberg_native_writer_roundtrip(spark, tmp_path):
    """Zero-dependency Iceberg v2 WRITER: overwrite + append snapshots
    round-trip through the native metadata replay, prior snapshots stay
    time-travelable, and manifest bounds drive file skipping."""
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    root = str(tmp_path / "iw")
    d1 = spark.range(0, 5).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS x")
    r1 = write_iceberg(d1, root, mode="overwrite")
    assert r1["rows"] == 5
    d2 = spark.range(5, 8).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS x")
    r2 = write_iceberg(d2, root, mode="append")
    assert r2["rows"] == 3

    got = load_source(spark, root, "iceberg")
    assert sorted(r["id"] for r in got.collect()) == list(range(8))
    assert dict(got.dtypes)["x"] == "double"
    # time travel to the first snapshot
    v1 = load_source(spark, root, "iceberg", {"snapshot_id": r1["snapshot_id"]})
    assert sorted(r["id"] for r in v1.collect()) == list(range(5))

    # overwrite unreferences old files but keeps snapshot history
    d3 = spark.range(100, 103).selectExpr("id", "CAST(id AS DOUBLE) AS x")
    r3 = write_iceberg(d3, root, mode="overwrite")
    now = load_source(spark, root, "iceberg")
    assert sorted(r["id"] for r in now.collect()) == [100, 101, 102]
    v2 = load_source(spark, root, "iceberg", {"snapshot_id": r2["snapshot_id"]})
    assert sorted(r["id"] for r in v2.collect()) == list(range(8))

    # bounds-based skipping: id >= 100 only matches the last snapshot's
    # file; against snapshot r2 it matches nothing → zero files read
    pruned = load_source(
        spark, root, "iceberg", {"partition_filter": [["id", ">=", 6]],
                                 "snapshot_id": r2["snapshot_id"]}
    )
    assert sorted(r["id"] for r in pruned.collect()) == [6, 7]
    files = set(pruned.inputFiles())
    all_files = set(v2.inputFiles())
    assert len(files) < len(all_files)


def test_iceberg_writer_append_schema_mismatch_rejected(spark, tmp_path):
    from pg_analytics_spark.errors import UnsupportedFormat
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    root = str(tmp_path / "iw2")
    write_iceberg(spark.range(3).selectExpr("id"), root)
    # new columns now need the explicit mergeSchema opt-in
    with pytest.raises(UnsupportedFormat, match="mergeSchema"):
        write_iceberg(
            spark.range(3).selectExpr("id", "id AS other"), root, mode="append"
        )


def test_delta_native_checkpoint_replay(spark, tmp_path):
    """checkpoint_delta: after checkpointing, the reader replays from
    the checkpoint — even with the pre-checkpoint JSON commits DELETED
    (log cleanup) — and later appends still apply on top."""
    from pg_analytics_spark.sources.delta_write import (
        checkpoint_delta,
        write_delta,
    )

    root = str(tmp_path / "dcp")
    write_delta(spark.range(0, 4).selectExpr("id"), root, mode="overwrite")
    write_delta(spark.range(4, 6).selectExpr("id"), root, mode="append")
    cp = checkpoint_delta(root)
    assert cp["version"] == 1 and cp["files"] >= 2

    # log cleanup: remove the JSON commits the checkpoint covers
    log = os.path.join(root, "_delta_log")
    for f in list(os.listdir(log)):
        if f.endswith(".json") and f[:20].isdigit() and int(f[:20]) <= 1:
            os.remove(os.path.join(log, f))

    got = load_source(spark, root, "delta")
    assert sorted(r["id"] for r in got.collect()) == list(range(6))

    # a post-checkpoint append replays checkpoint + the new commit
    write_delta(spark.range(6, 8).selectExpr("id"), root, mode="append")
    got2 = load_source(spark, root, "delta")
    assert sorted(r["id"] for r in got2.collect()) == list(range(8))


def test_delta_compact_is_a_commit(spark, tmp_path):
    """Engine.compact(format='delta') compacts via an overwrite COMMIT:
    fewer files, same rows, prior version still readable."""
    from pg_analytics_spark.engine import Engine
    from pg_analytics_spark.sources.delta_write import write_delta

    root = str(tmp_path / "dcompact")
    for i in range(4):  # four appends → many small files
        write_delta(
            spark.range(i * 10, (i + 1) * 10).selectExpr("id"),
            root,
            mode="append" if i else "overwrite",
        )
    eng = Engine(spark=spark)
    res = eng.compact(root, target_file_mb=128, format="delta")
    assert res["files_after"] < res["files_before"]
    got = load_source(spark, root, "delta")
    assert sorted(r["id"] for r in got.collect()) == list(range(40))
    # pre-compaction version still time-travels
    v3 = load_source(spark, root, "delta", {"version_as_of": 3})
    assert v3.count() == 40


def test_iceberg_writer_partitioned_manifest_pruning(spark, tmp_path):
    """Partitioned native Iceberg write (identity transform): data
    files keep the partition column, the manifest records typed
    partition tuples, and the reader's partition_filter prunes at the
    MANIFEST level; appends must reuse the spec."""
    from pg_analytics_spark.errors import UnsupportedFormat
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    root = str(tmp_path / "iwp")
    df = spark.range(0, 40).selectExpr(
        "id", "CAST(id % 4 AS INT) AS region"
    )
    write_iceberg(df, root, mode="overwrite", partition_by="region")
    back = load_source(spark, root, "iceberg")
    assert back.count() == 40
    assert dict(back.dtypes)["region"] == "int"
    # identity partition pruning via the manifest tuples
    pruned = load_source(
        spark, root, "iceberg", {"partition_filter": [["region", "=", 2]]}
    )
    rows = pruned.collect()
    assert rows and all(r["region"] == 2 for r in rows)
    assert len(set(pruned.inputFiles())) < len(set(back.inputFiles()))

    # append reuses the spec implicitly; a different spec is rejected
    write_iceberg(
        spark.range(40, 44).selectExpr("id", "CAST(1 AS INT) AS region"),
        root,
        mode="append",
    )
    assert load_source(spark, root, "iceberg").count() == 44
    with pytest.raises(UnsupportedFormat, match="partition mismatch"):
        write_iceberg(
            spark.range(3).selectExpr("id", "CAST(0 AS INT) AS region"),
            root,
            mode="append",
            partition_by="id",
        )


def test_writer_file_stats_ride_the_executors(spark, tmp_path, monkeypatch):
    """Large commits (here 200 files) must NOT serialize footer-stats
    collection on the driver (r4 verdict item 2).  Proof by PID
    stamping: the stats functions are wrapped to embed os.getpid() of
    the process that computed them (cloudpickle ships the wrapper to
    the python workers by value) — every committed file's stats must
    carry a pid DIFFERENT from the driver's."""
    import json as _json
    import os as _os

    from pg_analytics_spark.sources import delta_write, iceberg_write

    real_stats = delta_write._file_stats

    def traced_stats(p, schema):
        s = _json.loads(real_stats(p, schema))
        s["pid"] = _os.getpid()
        return _json.dumps(s)

    real_bounds = iceberg_write._file_bounds

    def traced_bounds(p, fields):
        lowers, uppers, rows = real_bounds(p, fields)
        return (
            [{"key": 424242, "value": str(_os.getpid()).encode()}] + lowers,
            uppers,
            rows,
        )

    monkeypatch.setattr(delta_write, "_file_stats", traced_stats)
    monkeypatch.setattr(iceberg_write, "_file_bounds", traced_bounds)
    driver_pid = _os.getpid()

    droot = str(tmp_path / "dmany")
    df = spark.range(2000).selectExpr("id", "id * 2 AS x").repartition(200)
    res = delta_write.write_delta(df, droot, mode="overwrite")
    assert res["rows"] == 2000 and res["files"] >= 200
    import glob as _glob

    (commit,) = _glob.glob(f"{droot}/_delta_log/*.json")
    adds = [
        _json.loads(line)["add"]
        for line in open(commit)
        if '"add"' in line
    ]
    assert len(adds) >= 200
    pids = {_json.loads(a["stats"])["pid"] for a in adds}
    assert driver_pid not in pids, "footer stats were computed on the driver"
    # and the stats are still the real footer stats
    s = _json.loads(adds[0]["stats"])
    assert s["numRecords"] > 0 and "id" in s["minValues"]

    iroot = str(tmp_path / "imany")
    res2 = iceberg_write.write_iceberg(df, iroot, mode="overwrite")
    assert res2["files"] >= 200
    from pg_analytics_spark.sources.avro import read_container

    (man,) = _glob.glob(f"{iroot}/metadata/man-*.avro")
    _schema, entries = read_container(man)
    assert len(entries) >= 200
    ipids = set()
    for e in entries:
        kv = {b["key"]: b["value"] for b in e["data_file"]["lower_bounds"]}
        ipids.add(int(kv[424242].decode()))
        assert len(kv) > 1  # real bounds present beside the stamp
    assert driver_pid not in ipids, "bounds were computed on the driver"


def test_iceberg_bucket_udf_matches_reference_murmur3(spark):
    """The vectorized write-side bucket hash must equal the reader's
    reference murmur3_x86_32 (iceberg_prune, pinned to the spec's
    Appendix-B values) for every encoding class: positive/negative/
    boundary longs."""
    import random as _random

    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.iceberg_prune import transform_value
    from pg_analytics_spark.sources.iceberg_write import _bucket_udf

    rng = _random.Random(7)
    vals = (
        [0, 1, -1, 34, 2**31 - 1, -(2**31), 2**62, -(2**62)]
        # > 2^53: would round if a nullable batch degraded to float64
        + [(1 << 60) + 1, 2**63 - 1, -(2**63)]
        + [rng.randint(-(2**63), 2**63 - 1) for _ in range(50)]
    )
    # include a NULL row so every batch takes the nullable-Arrow path
    df = spark.createDataFrame([(v,) for v in vals] + [(None,)], "v long")
    b = _bucket_udf(16)(
        F.coalesce(F.col("v"), F.lit(0).cast("long")), F.col("v").isNull()
    )
    rows = df.select("v", b.alias("b")).collect()
    got = {r["v"]: r["b"] for r in rows}
    for v in vals:
        assert got[v] == transform_value("bucket[16]", v, "long"), v
    assert got[None] is None  # null key → null partition value
    # spec sanity pin: bucket hash of 34 (spec Appendix-B test value
    # hashes int 34 as the 8-byte long) → 2017239379 & MaxInt % 16
    assert got[34] == (2017239379 & 0x7FFFFFFF) % 16


def test_iceberg_bucket_string_udf_matches_reference_murmur3(spark):
    """r11 verdict #5: the write-side string bucket hash (UTF-8 bytes,
    murmur3 seed 0) must equal the reader's reference transform_value
    — the parity that makes manifest pruning on a string bucket key
    exact.  Pins the spec Appendix-B string value and a unicode/empty/
    null battery."""
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.iceberg_prune import (
        murmur3_x86_32,
        transform_value,
    )
    from pg_analytics_spark.sources.iceberg_write import _bucket_str_udf

    vals = [
        "iceberg", "", "a", "ab", "abc", "abcd", "abcde",
        "naïve-ütf8-ß", "城市", "5-LOW", "1-URGENT", "x" * 300,
    ]
    df = spark.createDataFrame([(v,) for v in vals] + [(None,)], "v string")
    rows = df.select(
        "v", _bucket_str_udf(16)(F.col("v")).alias("b")
    ).collect()
    got = {r["v"]: r["b"] for r in rows}
    for v in vals:
        assert got[v] == transform_value("bucket[16]", v, "string"), v
    assert got[None] is None
    # spec Appendix-B pin: murmur3("iceberg") == 1210000089
    assert got["iceberg"] == (1210000089 & 0x7FFFFFFF) % 16
    assert murmur3_x86_32(b"iceberg") == 1210000089


def test_iceberg_transform_columns_match_reader_semantics(spark):
    """year/month/day/hour/truncate write-side partition values equal
    the reader's transform_value on the same inputs (the shared
    contract that makes manifest pruning exact)."""
    import datetime as _dt

    from pg_analytics_spark.sources.iceberg_prune import transform_value
    from pg_analytics_spark.sources.iceberg_write import _transform_column

    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-03-05 17:45:00' AS ts, "
        "DATE '1961-04-12' AS d, CAST(-7 AS INT) AS i, 'iceberg' AS s "
        "UNION ALL SELECT TIMESTAMP_NTZ '1965-01-01 00:30:00', "
        "DATE '2024-02-29', 23, 'x'"
    )
    cases = [
        ("year", None, "d", "date"),
        ("month", None, "d", "date"),
        ("day", None, "ts", "timestamp"),
        ("hour", None, "ts", "timestamp"),
        ("truncate", 10, "i", "int"),
        ("truncate", 3, "s", "string"),
    ]
    import pyspark.sql.functions as F

    exprs = []
    for n, (kind, param, src, st) in enumerate(cases):
        e, _t, _name = _transform_column(kind, param, src, st)
        exprs.append(e.alias(f"c{n}"))
    rows = df.select("ts", "d", "i", "s", *exprs).collect()
    from pg_analytics_spark.sources.iceberg_prune import _days

    for r in rows:
        for n, (kind, param, src, st) in enumerate(cases):
            tr = kind if param is None else f"{kind}[{param}]"
            want = transform_value(tr, r[src], st)
            got = r[f"c{n}"]
            if kind == "day":  # writer emits the date; reader the days-int
                got = _days(got)
            assert got == want, (kind, r[src], got, want)


def test_iceberg_partitioned_write_day_bucket_roundtrip(spark, tmp_path):
    """days()+bucket() written table: values exact, manifest pruning
    drops files for BOTH transform kinds, append reuses the spec
    (no new spec-id)."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    df = spark.sql(
        "SELECT id, CAST(id % 7 AS LONG) AS k, "
        "DATE '2024-01-01' + CAST(id % 5 AS INT) AS d FROM range(200)"
    )
    root = str(tmp_path / "ice_tr")
    write_iceberg(
        df, root, mode="overwrite", partition_by=["days(d)", "bucket(4, k)"]
    )
    back = load_source(spark, root, "iceberg")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    n_all = len(back.inputFiles())
    by_day = load_source(
        spark, root, "iceberg",
        {"partition_filter": [["d", "=", "2024-01-03"]]},
    )
    assert 0 < len(by_day.inputFiles()) < n_all
    assert sorted(map(tuple, by_day.collect())) == sorted(
        map(tuple, df.filter("d = DATE '2024-01-03'").collect())
    )
    by_bucket = load_source(
        spark, root, "iceberg", {"partition_filter": [["k", "=", 3]]}
    )
    assert 0 < len(by_bucket.inputFiles()) < n_all
    assert sorted(map(tuple, by_bucket.collect())) == sorted(
        map(tuple, df.filter("k = 3").collect())
    )
    # append WITHOUT partition_by inherits the transform spec verbatim
    write_iceberg(
        spark.sql(
            "SELECT id + 200 AS id, CAST(id % 7 AS LONG) AS k, "
            "DATE '2024-01-06' AS d FROM range(50)"
        ),
        root,
        mode="append",
    )
    metas = sorted(
        f for f in _os.listdir(f"{root}/metadata")
        if f.endswith(".metadata.json")
    )
    m = _json.load(open(f"{root}/metadata/{metas[-1]}"))
    assert len(m["partition-specs"]) == 1
    assert [pf["transform"] for pf in m["partition-specs"][0]["fields"]] == [
        "day", "bucket[4]",
    ]
    assert load_source(spark, root, "iceberg").count() == 250
    # append with a DIFFERENT spec is rejected loudly
    import pytest as _pytest

    with _pytest.raises(Exception, match="partition mismatch"):
        write_iceberg(
            df, root, mode="append", partition_by=["days(d)", "bucket(8, k)"]
        )
    # bucket on string sources (r12): writes AND prunes — the UTF-8
    # murmur3 branch, reader-parity-pinned in
    # test_iceberg_bucket_string_udf_matches_reference_murmur3
    sdf = spark.createDataFrame(
        [(f"key-{i % 7}", i) for i in range(100)], "s string, x long"
    )
    sroot = str(tmp_path / "ice_s")
    write_iceberg(sdf, sroot, partition_by=["bucket(4, s)"])
    sback = load_source(spark, sroot, "iceberg")
    assert sorted(map(tuple, sback.collect())) == sorted(
        map(tuple, sdf.collect())
    )
    spruned = load_source(
        spark, sroot, "iceberg", {"partition_filter": [["s", "=", "key-3"]]}
    )
    assert 0 < len(spruned.inputFiles()) < len(sback.inputFiles())
    assert sorted(r["x"] for r in spruned.collect()) == sorted(
        i for i in range(100) if i % 7 == 3
    )


def test_delta_writer_auto_checkpoints_every_10_commits(spark, tmp_path):
    """25 appends → checkpoints were written automatically at versions
    10 and 20 (the standard checkpointInterval cadence), so the early
    JSON commits are deletable and the reader replays from the
    checkpoint with exact results (r4 verdict item 4)."""
    import glob as _glob
    import json as _json
    import os as _os

    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.delta_write import write_delta

    root = str(tmp_path / "autockpt")
    for i in range(25):
        write_delta(
            spark.range(i * 10, i * 10 + 10).selectExpr("id"),
            root,
            mode="append" if i else "overwrite",
        )
    log_dir = _os.path.join(root, "_delta_log")
    lc = _os.path.join(log_dir, "_last_checkpoint")
    assert _os.path.exists(lc)
    assert _json.load(open(lc))["version"] == 20
    cps = sorted(_glob.glob(f"{log_dir}/*.checkpoint.parquet"))
    assert [int(_os.path.basename(p)[:20]) for p in cps] == [10, 20]
    # early commits (≤ checkpointed version) are now deletable
    for p in _glob.glob(f"{log_dir}/*.json"):
        if int(_os.path.basename(p)[:20]) <= 20:
            _os.remove(p)
    back = load_source(spark, root, "delta")
    assert back.count() == 250
    got = {r["id"] for r in back.collect()}
    assert got == set(range(250))


def test_writer_small_commit_stats_stay_driver_side(spark, tmp_path, monkeypatch):
    """Tiny commits (≤16 files) take the driver loop — a Spark job
    would cost more than the footer reads.  Poison the executor path
    (parallelize) instead and confirm the write still succeeds."""
    from pg_analytics_spark.sources import delta_write

    def _boom(*a, **k):
        raise AssertionError("tiny commit dispatched a Spark job")

    monkeypatch.setattr(
        spark.sparkContext, "parallelize", _boom, raising=True
    )
    droot = str(tmp_path / "dtiny")
    res = delta_write.write_delta(
        spark.range(10).coalesce(2), droot, mode="overwrite"
    )
    assert res["rows"] == 10


def test_delta_writer_append_guards_and_overwrite_evolution(spark, tmp_path):
    """Review findings: append with a different partition spec or
    schema must be rejected (silent acceptance nulls/drops columns on
    read); overwrite with a NEW shape must commit updated metaData so
    the table reads with the new schema."""
    from pg_analytics_spark.errors import UnsupportedFormat
    from pg_analytics_spark.sources.delta_write import write_delta

    root = str(tmp_path / "dwg")
    write_delta(
        spark.range(10).selectExpr("id", "CAST(id % 2 AS INT) AS k"),
        root, mode="overwrite", partition_by="k",
    )
    # append omitting partition_by reuses the spec (no silent nulls)
    write_delta(
        spark.range(10, 14).selectExpr("id", "CAST(id % 2 AS INT) AS k"),
        root, mode="append",
    )
    back = load_source(spark, root, "delta")
    assert back.filter(F.col("k").isNull()).count() == 0
    assert back.count() == 14
    # append with a DIFFERENT spec or schema is rejected
    with pytest.raises(UnsupportedFormat, match="partition mismatch"):
        write_delta(
            spark.range(3).selectExpr("id", "CAST(0 AS INT) AS k"),
            root, mode="append", partition_by="id",
        )
    with pytest.raises(UnsupportedFormat, match="new columns"):
        write_delta(
            spark.range(3).selectExpr("id", "CAST(1 AS INT) AS other"),
            root, mode="append",
        )
    # overwrite with a new shape: updated metaData rides the commit
    write_delta(
        spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS score"),
        root, mode="overwrite",
    )
    now = load_source(spark, root, "delta")
    assert set(now.columns) == {"id", "score"}
    assert now.count() == 5 and now.filter(F.col("score").isNull()).count() == 0


def test_delta_writer_append_tolerates_nullability_flip(spark, tmp_path):
    """Data read back from the table itself (nullable=true everywhere)
    must still append — only name/type shape matters."""
    from pg_analytics_spark.sources.delta_write import write_delta

    root = str(tmp_path / "dwn")
    write_delta(spark.range(5).selectExpr("id"), root, mode="overwrite")
    again = load_source(spark, root, "delta").selectExpr("id + 10 AS id")
    write_delta(again, root, mode="append")
    assert load_source(spark, root, "delta").count() == 10


def test_iceberg_overwrite_schema_evolution(spark, tmp_path):
    """Overwrite is a logical replace: a changed schema evolves the
    table (same-name fields keep their ids, new fields get fresh ids,
    new schema-id becomes current)."""
    import json as _json
    import os as _os

    from pg_analytics_spark.sources.iceberg_write import (
        _latest_metadata,
        write_iceberg,
    )

    root = str(tmp_path / "iwe")
    write_iceberg(
        spark.range(5).selectExpr("id", "CAST('x' AS STRING) AS name"), root
    )
    write_iceberg(
        spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS score"),
        root, mode="overwrite",
    )
    back = load_source(spark, root, "iceberg")
    assert set(back.columns) == {"id", "score"}
    assert back.count() == 3
    _v, meta = _latest_metadata(_os.path.join(root, "metadata"))
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    by_name = {f["name"]: f["id"] for f in cur["fields"]}
    assert by_name["id"] == 1          # same-name field keeps its id
    assert by_name["score"] > 2        # fresh id past last-column-id
    assert len(meta["schemas"]) == 2   # old schema retained


def test_kml_writer_escapes_and_inner_only_rejected(spark, tmp_path):
    from pg_analytics_spark.sources.kml import write_point_kml

    p = str(tmp_path / "esc.kml")
    write_point_kml(
        p, ["A&B <Corp>"], [(1.0, 2.0)], ['we"ird'], [("x & y",)]
    )
    df = load_source(spark, p, "spatial")
    row = df.collect()[0]
    assert row["name"] == "A&B <Corp>"
    assert row['we"ird'] == "x & y"

    bad = tmp_path / "inneronly.kml"
    bad.write_text(
        '<?xml version="1.0"?><kml><Document><Placemark><name>h</name>'
        "<Polygon><innerBoundaryIs><LinearRing>"
        "<coordinates>1,1 2,1 2,2 1,1</coordinates>"
        "</LinearRing></innerBoundaryIs></Polygon>"
        "</Placemark></Document></kml>"
    )
    with pytest.raises(UnsupportedFormat, match="no outer shell"):
        load_source(spark, str(bad), "spatial").collect()


def test_iceberg_overwrite_type_change_is_drop_add(spark, tmp_path):
    """A same-name TYPE change on overwrite is a schema change: the
    column gets a FRESH field id (drop+add), dropped ids are never
    reused (last-column-id stays monotonic), and the table reads back
    with the new type."""
    import os as _os

    from pg_analytics_spark.sources.iceberg_write import (
        _latest_metadata,
        write_iceberg,
    )

    root = str(tmp_path / "iwt")
    write_iceberg(spark.range(3).selectExpr("id", "id * 2 AS v"), root)
    # v: long -> string
    write_iceberg(
        spark.range(2).selectExpr("id", "CAST('x' AS STRING) AS v"),
        root, mode="overwrite",
    )
    back = load_source(spark, root, "iceberg")
    assert dict(back.dtypes)["v"] == "string"
    assert back.count() == 2
    _v, meta = _latest_metadata(_os.path.join(root, "metadata"))
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    by_name = {f["name"]: f["id"] for f in cur["fields"]}
    assert by_name["id"] == 1
    assert by_name["v"] == 3  # fresh id, not the dropped long-v's 2
    # drop v entirely, then add w: w must NOT reuse id 2 or 3
    write_iceberg(spark.range(2).selectExpr("id"), root, mode="overwrite")
    write_iceberg(
        spark.range(2).selectExpr("id", "id AS w"), root, mode="overwrite"
    )
    _v, meta = _latest_metadata(_os.path.join(root, "metadata"))
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    ids = {f["name"]: f["id"] for f in cur["fields"]}
    assert ids["w"] >= 4


def test_iceberg_partition_spec_evolution_mints_new_spec(spark, tmp_path):
    """Changing the partitioning on overwrite mints a NEW spec-id
    (specs are immutable); dropping the partition source column without
    an explicit partition_by is rejected with a clear error."""
    import os as _os

    from pg_analytics_spark.errors import UnsupportedFormat
    from pg_analytics_spark.sources.iceberg_write import (
        _latest_metadata,
        write_iceberg,
    )

    root = str(tmp_path / "iws")
    df = spark.range(20).selectExpr("id", "CAST(id % 2 AS INT) AS p")
    write_iceberg(df, root, partition_by="p")
    # repartition by nothing, explicitly
    write_iceberg(df, root, mode="overwrite", partition_by=[])
    _v, meta = _latest_metadata(_os.path.join(root, "metadata"))
    assert len(meta["partition-specs"]) == 2  # old spec retained
    cur_spec = next(
        s for s in meta["partition-specs"]
        if s["spec-id"] == meta["default-spec-id"]
    )
    assert cur_spec["fields"] == []
    assert load_source(spark, root, "iceberg").count() == 20

    # dropping the partition source column without explicit partition_by
    root2 = str(tmp_path / "iws2")
    write_iceberg(df, root2, partition_by="p")
    with pytest.raises(UnsupportedFormat, match="partition source"):
        write_iceberg(
            spark.range(5).selectExpr("id"), root2, mode="overwrite"
        )
    # the explicit choice works
    write_iceberg(
        spark.range(5).selectExpr("id"), root2, mode="overwrite",
        partition_by=[],
    )
    assert load_source(spark, root2, "iceberg").count() == 5


def test_delta_append_schema_evolution(spark, tmp_path):
    """delta-spark append semantics on the native writer: missing
    nullable columns null-fill; NEW columns require mergeSchema and
    ride an updated metaData action so OLD files read back with nulls
    (the reader's name-based evolution)."""
    import pytest as _pytest

    from pg_analytics_spark.errors import UnsupportedFormat
    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.delta_write import write_delta

    root = str(tmp_path / "evolve")
    write_delta(
        # IF keeps v NULLABLE (a plain cast of range's id is not)
        spark.range(3).selectExpr(
            "id", "IF(id >= 0, CAST(id * 10 AS LONG), NULL) AS v"
        ),
        root,
        mode="overwrite",
    )

    # missing nullable column -> filled with nulls, column order kept
    write_delta(spark.range(3, 5).selectExpr("id"), root, mode="append")
    got = {
        r["id"]: r["v"]
        for r in load_source(spark, root, "delta").collect()
    }
    assert got[1] == 10 and got[3] is None and len(got) == 5

    # new column without mergeSchema -> loud rejection
    with _pytest.raises(UnsupportedFormat, match="mergeSchema"):
        write_delta(
            spark.range(5, 6).selectExpr("id", "'x' AS tag"),
            root,
            mode="append",
        )

    # new column WITH mergeSchema -> schema evolves; old rows null
    write_delta(
        spark.range(5, 7).selectExpr(
            "id", "IF(id >= 0, CAST(id * 10 AS LONG), NULL) AS v",
            "'new' AS tag"
        ),
        root,
        mode="append",
        options={"mergeSchema": "true"},
    )
    df = load_source(spark, root, "delta")
    assert df.columns == ["id", "v", "tag"]
    rows = {r["id"]: (r["v"], r["tag"]) for r in df.collect()}
    assert len(rows) == 7
    assert rows[0] == (0, None)       # pre-evolution file -> null tag
    assert rows[3] == (None, None)    # null-filled append, pre-evolution
    assert rows[6] == (60, "new")     # evolved append carries values

    # a further plain append now conforms to the EVOLVED schema
    write_delta(
        spark.range(7, 8).selectExpr(
            "id", "IF(id >= 0, CAST(70 AS LONG), NULL) AS v"
        ),
        root,
        mode="append",
    )
    rows = {
        r["id"]: (r["v"], r["tag"])
        for r in load_source(spark, root, "delta").collect()
    }
    assert rows[7] == (70, None)


def test_delta_append_type_mismatch_still_rejected(spark, tmp_path):
    import pytest as _pytest

    from pg_analytics_spark.errors import UnsupportedFormat
    from pg_analytics_spark.sources.delta_write import write_delta

    root = str(tmp_path / "strict")
    write_delta(spark.range(2).selectExpr("id"), root, mode="overwrite")
    with _pytest.raises(UnsupportedFormat, match="type mismatch"):
        write_delta(
            spark.range(2, 3).selectExpr("CAST(id AS STRING) AS id"),
            root,
            mode="append",
        )


def test_iceberg_append_schema_evolution(spark, tmp_path):
    """Iceberg-writer twin of the delta append semantics: missing
    OPTIONAL columns null-fill; NEW columns need mergeSchema, get
    FRESH field ids past last-column-id, and bump the schema id — old
    data files lack the id so id-based readers surface nulls."""
    import json as _json

    import pytest as _pytest

    from pg_analytics_spark.errors import UnsupportedFormat
    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    root = str(tmp_path / "ice_evolve")
    write_iceberg(
        spark.range(3).selectExpr(
            "id", "IF(id >= 0, CAST(id * 10 AS LONG), NULL) AS v"
        ),
        root,
        mode="overwrite",
    )

    # missing optional column -> null-filled
    write_iceberg(spark.range(3, 5).selectExpr("id"), root, mode="append")
    got = {
        r["id"]: r["v"] for r in load_source(spark, root, "iceberg").collect()
    }
    assert got[1] == 10 and got[3] is None and len(got) == 5

    with _pytest.raises(UnsupportedFormat, match="mergeSchema"):
        write_iceberg(
            spark.range(5, 6).selectExpr("id", "'x' AS tag"),
            root,
            mode="append",
        )
    with _pytest.raises(UnsupportedFormat, match="type mismatch"):
        write_iceberg(
            spark.range(5, 6).selectExpr(
                "id", "CAST(id AS STRING) AS v"
            ),
            root,
            mode="append",
        )

    write_iceberg(
        spark.range(5, 7).selectExpr(
            "id", "IF(id >= 0, CAST(id * 10 AS LONG), NULL) AS v",
            "'new' AS tag"
        ),
        root,
        mode="append",
        options={"mergeSchema": "true"},
    )
    df = load_source(spark, root, "iceberg")
    assert df.columns == ["id", "v", "tag"]
    rows = {r["id"]: (r["v"], r["tag"]) for r in df.collect()}
    assert len(rows) == 7
    assert rows[0] == (0, None)
    assert rows[3] == (None, None)
    assert rows[6] == (60, "new")

    # metadata integrity: fresh id past last-column-id, schema-id bumped
    import glob as _glob

    meta = _json.load(
        open(sorted(_glob.glob(f"{root}/metadata/v*.metadata.json"))[-1])
    )
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    ids = {f["name"]: f["id"] for f in cur["fields"]}
    assert ids["tag"] == 3 and meta["last-column-id"] == 3
    assert meta["current-schema-id"] == 1
    assert {s["schema-id"] for s in meta["schemas"]} == {0, 1}


def test_avro_sink_distributed_roundtrip(spark, tmp_path):
    """Distributed Avro sink (per-partition container files written on
    the executors) round-trips values, arrays, dates and microsecond
    timestamps through the dependency-free reader."""
    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.avro import write_avro_dir

    out = str(tmp_path / "avdir")
    df = spark.sql(
        "SELECT id, CAST(id * 1.5 AS DOUBLE) AS x, "
        "concat('s', id) AS s, "
        "IF(id % 3 = 0, NULL, array(id, id + 1)) AS arr, "
        "DATE '2024-02-29' + CAST(id AS INT) AS d, "
        "TIMESTAMP_NTZ '2024-02-29 12:34:56.789123' + make_interval(0,0,0,0,0,0,id) AS ts "
        "FROM range(100)"
    ).repartition(4)
    n = write_avro_dir(df, out)
    assert n == 100
    import glob as _glob

    files = _glob.glob(f"{out}/*.avro")
    assert len(files) == 4  # one container per non-empty partition

    back = load_source(spark, f"{out}/*.avro", "avro")
    assert back.count() == 100
    a = {r["id"]: r for r in df.collect()}
    b = {r["id"]: r for r in back.collect()}
    for i in (0, 1, 50, 99):
        assert b[i]["x"] == a[i]["x"]
        assert b[i]["s"] == a[i]["s"]
        assert b[i]["arr"] == a[i]["arr"]
        assert b[i]["d"] == a[i]["d"]
        assert b[i]["ts"] == a[i]["ts"]  # exact to the microsecond


def test_copy_to_avro_and_copy_statement(engine, tmp_path):
    out = str(tmp_path / "region_avro")
    n = engine.copy_to("SELECT * FROM region", out, format="avro")
    assert n == 5
    from pg_analytics_spark.sources import load_source

    back = load_source(engine.spark, f"{out}/*.avro", "avro")
    assert {r["r_regionkey"] for r in back.collect()} == {0, 1, 2, 3, 4}
    # COPY statement text with FORMAT avro
    out2 = str(tmp_path / "nation_avro")
    res = engine.sql(
        f"COPY (SELECT n_nationkey, n_name FROM nation) TO '{out2}' "
        "(FORMAT avro)"
    ).collect()
    assert res[0]["count"] == 25


def test_avro_sink_overwrites_previous_run(spark, tmp_path):
    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.avro import write_avro_dir

    out = str(tmp_path / "re")
    write_avro_dir(spark.range(10).selectExpr("id"), out)
    write_avro_dir(spark.range(3).selectExpr("id"), out)  # rerun: smaller
    back = load_source(spark, f"{out}/*.avro", "avro")
    assert back.count() == 3  # no stale part files mixed in


def test_avro_sink_rejects_temporal_array_elements(spark, tmp_path):
    import pytest as _pytest

    from pg_analytics_spark.sources.avro import write_avro_dir

    df = spark.sql("SELECT array(DATE '2024-01-01') AS d FROM range(1)")
    with _pytest.raises(Exception, match="array element"):
        write_avro_dir(df, str(tmp_path / "bad"))


def test_avro_sink_instant_micros_session_tz_independent(spark, tmp_path):
    """TimestampType instants are written as UTC micros computed
    JVM-side (unix_micros), NOT by re-interpreting the naive datetime
    PySpark hands back — that naive value is in the executor OS's
    local zone, so any Python-side zone attachment shifts the instant
    whenever session tz != OS tz.  Pin: with the session zone set to
    America/New_York, the literal 12:00 NY must land in the container
    as exactly 17:00 UTC in micros."""
    from pg_analytics_spark.sources.avro import read_container, write_avro_dir

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = spark.sql(
            "SELECT TIMESTAMP '2024-01-15 12:00:00' AS ts"
        ).coalesce(1)
        out = str(tmp_path / "tzav")
        assert write_avro_dir(df, out) == 1
        import datetime as _dt
        import glob as _glob

        (fp,) = _glob.glob(f"{out}/*.avro")
        _schema, rows = read_container(fp)
        expected = int(
            _dt.datetime(
                2024, 1, 15, 17, 0, 0, tzinfo=_dt.timezone.utc
            ).timestamp()
            * 1_000_000
        )
        assert rows[0]["ts"] == expected
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
