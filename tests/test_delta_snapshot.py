"""One Delta snapshot (sources/delta.py ``snapshot``): one replay of
checkpoint + commits and one context-free type decoder for every Delta
reader and writer.

Spark-free: the type decoder, the replay-base rule on hand-built logs,
and the auto-checkpoint warning.  With Spark: ``load_source`` versus
``format("delta_native")`` over every Delta type, the row-id
high-water mark, and the commit-against-the-read-snapshot race of
OPTIMIZE and ADD CONSTRAINT."""

from __future__ import annotations

import datetime as dt
import json
import logging
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from pg_analytics_spark.errors import (
    ConcurrentWriteError,
    MissingDependency,
    UnsupportedFormat,
)
from pg_analytics_spark.sources import delta as delta_mod
from pg_analytics_spark.sources import delta_write
from pg_analytics_spark.sources.delta import _delta_type_to_spark, snapshot

# ------------------------------------------------------------------ #
# the type decoder
# ------------------------------------------------------------------ #

_NESTED = {
    "type": "struct",
    "fields": [
        {
            "name": "a",
            "type": {"type": "array", "elementType": "short",
                     "containsNull": False},
            "nullable": True,
            "metadata": {"delta.columnMapping.physicalName": "col-a"},
        },
        {
            "name": "m",
            "type": {"type": "map", "keyType": "string",
                     "valueType": "timestamp_ntz",
                     "valueContainsNull": True},
            "nullable": False,
            "metadata": {},
        },
    ],
}

_TYPES = [
    ("byte", T.ByteType()),
    ("short", T.ShortType()),
    ("integer", T.IntegerType()),
    ("long", T.LongType()),
    ("float", T.FloatType()),
    ("double", T.DoubleType()),
    ("decimal(10,2)", T.DecimalType(10, 2)),
    ("decimal(38, 0)", T.DecimalType(38, 0)),
    ("string", T.StringType()),
    ("binary", T.BinaryType()),
    ("boolean", T.BooleanType()),
    ("date", T.DateType()),
    ("timestamp", T.TimestampType()),
    ("timestamp_ntz", T.TimestampNTZType()),
    (
        _NESTED,
        T.StructType(
            [
                T.StructField("a", T.ArrayType(T.ShortType(), False)),
                T.StructField(
                    "m",
                    T.MapType(T.StringType(), T.TimestampNTZType(), True),
                    False,
                ),
            ]
        ),
    ),
]


def test_decoder_needs_no_spark_parser(monkeypatch):
    """Every Delta type decodes with Spark's DDL and type-string
    parsers unavailable — what the DataSource plan worker (no
    SparkContext) sees."""

    def _no_parser(*_a, **_k):
        raise AssertionError("Spark type parser called")

    monkeypatch.setattr(T.DataType, "fromDDL", _no_parser)
    monkeypatch.setattr(T, "_parse_datatype_string", _no_parser)
    for delta_type, want in _TYPES:
        assert _delta_type_to_spark(delta_type) == want, delta_type
    physical = _delta_type_to_spark(_NESTED, physical=True)
    assert physical.names == ["col-a", "m"]
    with pytest.raises(UnsupportedFormat, match="interval"):
        _delta_type_to_spark("interval")


# ------------------------------------------------------------------ #
# the replay-base rule, on hand-built logs
# ------------------------------------------------------------------ #

_META = {
    "id": "t-1",
    "format": {"provider": "parquet"},
    "schemaString": json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
            ],
        }
    ),
    "partitionColumns": [],
}
_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 7}
_HWM = json.dumps({"rowIdHighWaterMark": 41})


def _add(p: str) -> dict:
    return {"path": p, "size": 1, "modificationTime": 0, "dataChange": True}


def _checkpoint_rows(**actions) -> list[dict]:
    """One checkpoint row per action, every action column present."""
    cols = ("add", "metaData", "protocol", "txn", "domainMetadata")
    rows = []
    for kind, values in actions.items():
        for v in values:
            rows.append({c: (v if c == kind else None) for c in cols})
    return rows


def _write_parquet(path: str, rows: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(rows), path)


def _write_commit(log: str, version: int, actions: list[dict]) -> None:
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")


def test_multipart_checkpoint_keeps_txns_and_domains(tmp_path):
    """A 2-part checkpoint, its JSON commits cleaned: the snapshot holds
    the streaming idempotency watermark and the row-id high-water mark
    the checkpoint carries, not only the adds."""
    from pg_analytics_spark.sources.delta_rowtracking import (
        row_id_high_watermark,
    )

    root = str(tmp_path / "t")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    parts = [
        _checkpoint_rows(
            protocol=[_PROTOCOL], metaData=[_META], add=[_add("a.parquet")]
        ),
        _checkpoint_rows(
            add=[_add("b.parquet")],
            txn=[{"appId": "app", "version": 7, "lastUpdated": 123}],
            domainMetadata=[
                {"domain": "delta.rowTracking", "configuration": _HWM,
                 "removed": False}
            ],
        ),
    ]
    for i, rows in enumerate(parts, 1):
        _write_parquet(
            os.path.join(log, f"{3:020d}.checkpoint.{i:010d}.{2:010d}.parquet"),
            rows,
        )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 3, "parts": 2}, fh)

    snap = snapshot(root)
    assert snap.version == 3
    assert sorted(snap.active) == ["a.parquet", "b.parquet"]
    assert snap.protocol == _PROTOCOL
    assert snap.txns == {"app": (7, 123)}
    assert list(snap.domains) == ["delta.rowTracking"]
    assert row_id_high_watermark(snap) == 41
    assert delta_write.last_txn_version(root, "app") == 7


def test_latest_and_time_travel_share_one_replay_base(tmp_path):
    """A checkpoint at v1 with no ``_last_checkpoint``, commits 0–1
    cleaned, commit 2 present: latest and ``version=2`` are the same
    snapshot.  A gap after the checkpoint fails loudly for the latest
    version too, and an unreadable checkpoint raises."""
    root = str(tmp_path / "t")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    _write_parquet(
        os.path.join(log, f"{1:020d}.checkpoint.parquet"),
        _checkpoint_rows(
            protocol=[_PROTOCOL], metaData=[_META], add=[_add("a.parquet")]
        ),
    )
    _write_commit(log, 2, [{"add": _add("b.parquet")}])

    latest, at2 = snapshot(root), snapshot(root, 2)
    assert latest.version == at2.version == 2
    assert sorted(latest.active) == sorted(at2.active) == [
        "a.parquet", "b.parquet",
    ]
    assert sorted(snapshot(root, 1).active) == ["a.parquet"]

    _write_commit(log, 4, [{"add": _add("d.parquet")}])
    with pytest.raises(MissingDependency, match=r"incomplete.*\[3\]"):
        snapshot(root)
    os.remove(os.path.join(log, f"{4:020d}.json"))

    with open(os.path.join(log, f"{1:020d}.checkpoint.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    with pytest.raises(UnsupportedFormat, match="unreadable Delta checkpoint"):
        snapshot(root)


# ------------------------------------------------------------------ #
# the auto-checkpoint failure is reported
# ------------------------------------------------------------------ #


def test_auto_checkpoint_failure_warns(tmp_path, monkeypatch, caplog):
    def _broken(path):
        raise RuntimeError("disk on fire")

    monkeypatch.setattr(delta_write, "checkpoint_delta", _broken)
    root = str(tmp_path / "t")
    log = os.path.join(root, "_delta_log")
    with caplog.at_level(logging.WARNING, logger="pg_analytics_spark"):
        delta_write._write_commit(root, log, 10, [{"commitInfo": {}}])
    assert os.path.isfile(os.path.join(log, f"{10:020d}.json"))
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        root in m and "version 10" in m and "disk on fire" in m
        for m in msgs
    ), msgs


def test_unreadable_footer_of_a_written_file_raises(tmp_path):
    bad = tmp_path / "part-0.parquet"
    bad.write_bytes(b"not a parquet file")
    schema = T.StructType([T.StructField("k", T.LongType())])
    with pytest.raises(Exception):
        delta_write._file_stats(str(bad), schema)
    with pytest.raises(Exception):
        delta_write._stats_for_files(None, [str(bad)], schema)


def test_unreadable_footer_of_a_converted_file_warns(tmp_path, caplog):
    """CONVERT commits files it did not write: one whose footer does not
    read is committed without stats, and the warning names it."""
    bad = tmp_path / "part-0.parquet"
    bad.write_bytes(b"not a parquet file")
    good = tmp_path / "part-1.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), str(good))
    schema = T.StructType([T.StructField("k", T.LongType())])
    with caplog.at_level(logging.WARNING, logger="pg_analytics_spark"):
        out = delta_write._stats_for_files(
            None, [str(bad), str(good)], schema, foreign=True
        )
    assert out[str(bad)][0] is None
    assert json.loads(out[str(good)][0])["numRecords"] == 2
    msgs = [r.getMessage() for r in caplog.records]
    assert any(str(bad) in m and "without stats" in m for m in msgs), msgs
    assert not any(str(good) in m for m in msgs), msgs


# ------------------------------------------------------------------ #
# with Spark
# ------------------------------------------------------------------ #


def test_replay_reader_and_datasource_agree_on_every_type(spark, tmp_path):
    """``load_source(path, "delta")`` and ``format("delta_native")``
    read one table under one schema and return the same rows, for
    every Delta primitive type and nested array, map and struct."""
    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.delta_datasource import (
        register_native_datasources,
    )

    register_native_datasources(spark)
    schema = (
        "b byte, sh short, i int, l long, f float, d double, "
        "dec decimal(10,2), s string, bin binary, bo boolean, dt date, "
        "ts timestamp, tntz timestamp_ntz, arr array<int>, "
        "m map<string,int>, st struct<x:int,y:string>"
    )
    moment = dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    rows = [
        (1, 2, 3, 4, 1.5, 2.5, Decimal("12.34"), "s", b"\x00\x01", True,
         dt.date(2024, 1, 2), moment, moment, [1, None], {"k": 1},
         (7, "x")),
        (None,) * 16,
    ]
    path = str(tmp_path / "t")
    delta_write.write_delta(
        spark.createDataFrame(rows, schema).coalesce(1), path
    )
    ref = load_source(spark, path, "delta")
    native = spark.read.format("delta_native").load(path)
    logged = [f["type"] for f in snapshot(path).fields]
    assert logged[11:13] == ["timestamp", "timestamp_ntz"]
    assert ref.schema == native.schema
    assert ref.schema["ts"].dataType == T.TimestampType()
    assert ref.schema["tntz"].dataType == T.TimestampNTZType()

    def _rows(df):
        return sorted(
            (r.asDict(recursive=True) for r in df.collect()),
            key=lambda r: r["l"] is None,
        )

    assert _rows(ref) == _rows(native)
    assert _rows(ref)[0]["ts"] == moment


def test_unreadable_row_id_high_watermark_refuses_insert(spark, tmp_path):
    """A corrupted ``delta.rowTracking`` domain: the INSERT (the
    engine's ``write_delta`` append) raises naming the table instead
    of re-issuing row ids from 0, and commits nothing."""
    path = str(tmp_path / "rt")
    delta_write.write_delta(
        spark.range(5), path,
        configuration={"delta.enableRowTracking": "true"},
    )
    delta_write._write_commit(
        path, os.path.join(path, "_delta_log"), 1,
        [{"domainMetadata": {"domain": "delta.rowTracking",
                             "configuration": "{not json",
                             "removed": False}}],
    )
    with pytest.raises(UnsupportedFormat, match="high-water mark") as err:
        delta_write.write_delta(spark.range(5, 8), path, mode="append")
    assert path in str(err.value)
    assert snapshot(path).version == 1


@pytest.mark.parametrize("op", ["optimize", "add_constraint"])
def test_rewrite_commits_against_its_snapshot(spark, tmp_path, monkeypatch, op):
    """A 10-row append lands after OPTIMIZE / ADD CONSTRAINT read the
    table: the rewrite's commit at its snapshot's version + 1 loses the
    race and raises, and the appended rows stay in the table (the
    appended v < 0 rows also break the new CHECK)."""
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources import load_source

    path = str(tmp_path / "t")
    delta_write.write_delta(
        spark.range(200).select("id", F.col("id").alias("v")).repartition(4),
        path,
    )
    scan = delta_mod._scan_files
    appended: list[int] = []

    def _scan_then_append(*args, **kwargs):
        if not appended:
            appended.append(1)
            delta_write.write_delta(
                spark.range(10).select(
                    (F.col("id") + 1000).alias("id"),
                    (-F.col("id") - 1).alias("v"),
                ),
                path,
                mode="append",
            )
        return scan(*args, **kwargs)

    monkeypatch.setattr(delta_mod, "_scan_files", _scan_then_append)
    with pytest.raises(ConcurrentWriteError):
        if op == "optimize":
            delta_write.compact_delta(spark, path)
        else:
            delta_write.alter_delta_constraints(
                path, add=("v_pos", "v >= 0"), spark=spark
            )
    monkeypatch.undo()
    snap = snapshot(path)
    assert snap.version == 1
    assert "delta.constraints.v_pos" not in snap.configuration
    got = load_source(spark, path, "delta")
    assert got.count() == 210
    assert got.filter("v < 0").count() == 10
