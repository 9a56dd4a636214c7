"""Iceberg format-version 3 DELETION VECTORS (r13): v3 minting,
DELETE-as-DV with union + supersede (one live DV per file), reader and
DataSource parity, compaction materialization, changelog delete
images, and the loud v3 refusals."""

from __future__ import annotations

import os

import pytest

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources import load_source
from pg_analytics_spark.sources.iceberg import plan_snapshot
from pg_analytics_spark.sources.iceberg_dv import (
    decode_dv_blob,
    encode_dv_blob,
    read_dv_positions,
)
from pg_analytics_spark.sources.iceberg_write import (
    _latest_metadata,
    compact_iceberg,
    delete_iceberg,
    update_iceberg,
    write_iceberg,
)


def _plan(path):
    import json

    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    return meta, plan_snapshot(path, meta, snap)


def test_blob_codec_roundtrip_and_validation():
    blob = encode_dv_blob([5, 1, 9, 1])
    assert decode_dv_blob(blob) == [1, 5, 9]
    bad = bytearray(blob)
    bad[10] ^= 0xFF
    with pytest.raises(UnsupportedFormat, match="CRC|magic"):
        decode_dv_blob(bytes(bad))


@pytest.fixture()
def v3_table(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 7, f"s{i}") for i in range(200)],
        "id long, k long, s string",
    ).coalesce(2)
    write_iceberg(
        df, path, mode="overwrite", options={"format-version": "3"}
    )
    return path


def test_v3_mint_and_carry(spark, v3_table):
    _v, meta = _latest_metadata(os.path.join(v3_table, "metadata"))
    assert meta["format-version"] == 3
    df2 = spark.createDataFrame([(900, 1, "x")], "id long, k long, s string")
    write_iceberg(df2, v3_table, mode="append")
    _v, meta = _latest_metadata(os.path.join(v3_table, "metadata"))
    assert meta["format-version"] == 3  # appends keep v3
    with pytest.raises(UnsupportedFormat, match="format-version"):
        write_iceberg(
            df2, v3_table, mode="append", options={"format-version": "2"}
        )
    with pytest.raises(UnsupportedFormat, match="not supported"):
        write_iceberg(
            df2, str(v3_table) + "_bad", mode="overwrite",
            options={"format-version": "4"},
        )


def test_v3_delete_writes_dv_and_reads_back(spark, v3_table):
    res = delete_iceberg(spark, v3_table, "k = 3")
    assert res["rows_deleted"] == 200 // 7 + (1 if 3 < 200 % 7 else 0)
    meta, plan = _plan(v3_table)
    data, pos, eq, _proj, _pruned, dvs = plan
    assert pos == [] and eq == []  # v3: no position-delete FILES
    assert len(dvs) == 2  # one DV per affected data file (2 files)
    for puf, off, size, ref in dvs:
        assert puf.endswith(".puffin") and os.path.exists(puf)
        assert ref in data
        assert read_dv_positions(puf, off, size)  # decodes, non-empty
    out = load_source(spark, v3_table, "iceberg")
    assert out.count() == 200 - res["rows_deleted"]
    assert out.filter("k = 3").count() == 0
    assert out.filter("k = 4").count() > 0


def test_v3_second_delete_unions_and_supersedes(spark, v3_table):
    delete_iceberg(spark, v3_table, "k = 3")
    delete_iceberg(spark, v3_table, "k = 5")  # same files again
    meta, plan = _plan(v3_table)
    dvs = plan[5]
    # ONE live DV per data file — the second commit superseded the
    # first file's vectors with the union
    refs = [ref for _p, _o, _s, ref in dvs]
    assert len(refs) == len(set(refs)) == 2
    out = load_source(spark, v3_table, "iceberg")
    assert out.filter("k in (3, 5)").count() == 0
    n57 = out.count()
    exact = spark.createDataFrame(
        [(i, i % 7, f"s{i}") for i in range(200)],
        "id long, k long, s string",
    ).filter("k not in (3, 5)").count()
    assert n57 == exact


def test_v3_datasource_reader_parity(spark, v3_table):
    from pg_analytics_spark.sources.delta_datasource import (
        register_native_datasources,
    )

    delete_iceberg(spark, v3_table, "k = 0")
    register_native_datasources(spark)
    native = (
        spark.read.format("iceberg_native")
        .option("path", v3_table)
        .load()
    )
    a = {tuple(r) for r in native.collect()}
    b = {tuple(r) for r in load_source(spark, v3_table, "iceberg").collect()}
    assert a == b and a
    assert not any(r[1] == 0 for r in a)


def test_v3_time_travel_predates_dv(spark, v3_table):
    _v, meta = _latest_metadata(os.path.join(v3_table, "metadata"))
    snap0 = meta["current-snapshot-id"]
    delete_iceberg(spark, v3_table, "k = 2")
    old = load_source(
        spark, v3_table, "iceberg", {"snapshot_id": snap0}
    )
    assert old.count() == 200  # pre-DV snapshot unaffected


def test_v3_update_writes_dv_eq_upsert_allowed(spark, v3_table):
    """UPDATE on a v3 table deletes the old images with deletion vectors
    (v3 forbids position-delete files) and appends the new ones; the
    equality-delete upsert works there too."""
    res = update_iceberg(spark, v3_table, {"s": "'u'"}, "k = 1")
    assert res["rows_updated"] == sum(1 for i in range(200) if i % 7 == 1)
    _meta, plan = _plan(v3_table)
    assert plan[1] == [] and len(plan[5]) == 2  # one DV per data file
    out = load_source(spark, v3_table, "iceberg")
    assert out.count() == 200
    assert {r["s"] for r in out.filter("k = 1").collect()} == {"u"}
    assert out.filter("id = 2").collect()[0]["s"] == "s2"
    from pg_analytics_spark.sources.iceberg_write import upsert_iceberg_eq

    src = spark.createDataFrame(
        [(0, 99, "upserted")], "id long, k long, s string"
    )
    upsert_iceberg_eq(spark, v3_table, src, ["id"])
    out = load_source(spark, v3_table, "iceberg")
    row = out.filter("id = 0").collect()
    assert len(row) == 1 and row[0]["s"] == "upserted"


def test_v3_compact_materializes_dvs(spark, v3_table):
    delete_iceberg(spark, v3_table, "k = 6")
    before = {
        tuple(r)
        for r in load_source(spark, v3_table, "iceberg").collect()
    }
    res = compact_iceberg(spark, v3_table)
    assert res["deletes_dropped"] >= 1
    meta, plan = _plan(v3_table)
    assert plan[5] == [] and plan[1] == []  # DV debt gone
    after = {
        tuple(r)
        for r in load_source(spark, v3_table, "iceberg").collect()
    }
    assert after == before


def test_v3_changelog_delete_images(spark, v3_table):
    from pg_analytics_spark.sources.iceberg_changelog import (
        iceberg_changelog,
    )

    delete_iceberg(spark, v3_table, "id < 5")
    delete_iceberg(spark, v3_table, "id >= 5 AND id < 8")  # supersedes
    ch = iceberg_changelog(spark, v3_table)
    dels = ch.filter("_change_type = 'delete'").select("id").collect()
    assert sorted(r["id"] for r in dels) == list(range(8))


def test_v3_datasource_append_keeps_format_version(spark, v3_table):
    """Regression: commit_iceberg_data_files rebuilt metadata with a
    hardcoded format-version 2 — an iceberg_native append to a v3
    table silently DOWNGRADED it (and a later DELETE would have
    written a position-delete file into a table other readers treat
    as v3)."""
    from pg_analytics_spark.sources.delta_datasource import (
        register_native_datasources,
    )

    register_native_datasources(spark)
    df = spark.createDataFrame([(901, 2, "ds")], "id long, k long, s string")
    df.write.format("iceberg_native").mode("append").save(v3_table)
    _v, meta = _latest_metadata(os.path.join(v3_table, "metadata"))
    assert meta["format-version"] == 3
    delete_iceberg(spark, v3_table, "id = 901")  # still routes via DV
    _m, plan = _plan(v3_table)
    assert plan[1] == [] and len(plan[5]) >= 1
