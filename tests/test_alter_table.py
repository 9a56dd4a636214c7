"""ALTER TABLE schema evolution on both native lakehouse writers.

Delta: ADD COLUMN is a plain metaData commit; RENAME/DROP upgrade the
table to column mapping (mode=name, physicalName = the column's
current on-disk name, protocol raised to reader 2 / writer 5 — the
spec's columnMapping floor), after which appends and DML stage
parquet under PHYSICAL names.  Iceberg: pure metadata versions — new
schema-id, field-id-stable renames, monotonic last-column-id — with
``schema.name-mapping.default`` carrying on-disk-name → field-id for
this writer's id-less data files.

Reference scope: the reference reads both formats only
(src/duckdb/delta.rs, src/duckdb/iceberg.rs); evolution DDL is
additive parity-plus mirroring delta-spark / the Iceberg spec.
"""

from __future__ import annotations

import json
import os

import pytest

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources import load_source
from pg_analytics_spark.sources.delta_write import (
    alter_delta,
    checkpoint_delta,
    delete_delta,
    update_delta,
    write_delta,
)
from pg_analytics_spark.sources.iceberg_write import (
    alter_iceberg,
    delete_iceberg,
    update_iceberg,
    write_iceberg,
)

WRITERS = {
    "delta": (write_delta, alter_delta, update_delta, delete_delta),
    "iceberg": (write_iceberg, alter_iceberg, update_iceberg, delete_iceberg),
}


def _base(spark):
    from pyspark.sql import functions as F

    return spark.range(8).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )


@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_add_column_null_fills_old_files(spark, tmp_path, fmt):
    write, alter, _upd, _del = WRITERS[fmt]
    path = str(tmp_path / fmt)
    write(_base(spark), path, mode="overwrite")
    alter(path, add=("extra", "bigint"))
    out = load_source(spark, path, fmt)
    assert out.columns == ["k", "v", "s", "extra"]
    assert out.filter(out.extra.isNull()).count() == 8
    # append WITH the new column: both eras coexist
    from pyspark.sql import functions as F

    write(
        spark.range(8, 12).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
            F.col("id").alias("extra"),
        ),
        path,
        mode="append",
    )
    got = {r["k"]: r["extra"] for r in load_source(spark, path, fmt).collect()}
    assert got[3] is None and got[10] == 10 and len(got) == 12


@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_rename_then_append_then_dml(spark, tmp_path, fmt):
    """The full post-rename lifecycle: old files resolve under the new
    name, appends stage correctly, UPDATE/DELETE bind the new name."""
    from pyspark.sql import functions as F

    write, alter, upd, dele = WRITERS[fmt]
    path = str(tmp_path / fmt)
    write(_base(spark), path, mode="overwrite")
    alter(path, rename=("v", "val"))
    rows = {r["k"]: r["val"] for r in load_source(spark, path, fmt).collect()}
    assert rows == {i: 2 * i for i in range(8)}
    write(
        spark.range(8, 11).select(
            F.col("id").alias("k"),
            (F.col("id") * 3).alias("val"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
        ),
        path,
        mode="append",
    )
    upd(spark, path, {"val": "val + 1000"}, "k >= 9")
    dele(spark, path, "k = 10")
    rows = {r["k"]: r["val"] for r in load_source(spark, path, fmt).collect()}
    assert rows[9] == 1027 and 10 not in rows and rows[3] == 6
    assert len(rows) == 10


@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_drop_column_and_guards(spark, tmp_path, fmt):
    write, alter, _upd, _del = WRITERS[fmt]
    path = str(tmp_path / fmt)
    write(_base(spark), path, mode="overwrite")
    alter(path, drop="s")
    assert load_source(spark, path, fmt).columns == ["k", "v"]
    with pytest.raises(UnsupportedFormat):
        alter(path, add=("k", "bigint"))  # duplicate name
    with pytest.raises(UnsupportedFormat):
        alter(path, rename=("nope", "x"))  # missing source
    with pytest.raises(UnsupportedFormat):
        alter(path, rename=("k", "v"))  # target exists
    with pytest.raises(UnsupportedFormat):
        alter(path, drop="nope")  # missing column
    with pytest.raises(UnsupportedFormat):
        alter(path)  # no action
    with pytest.raises(UnsupportedFormat):
        alter(path, add=("a", "int"), drop="k")  # two actions


def test_delta_mapping_upgrade_protocol_and_physical_names(spark, tmp_path):
    """First rename upgrades to column mapping: protocol (2, 5),
    physicalName = the pre-rename on-disk name, checkpoints carry the
    upgraded protocol, and post-rename appends stage files whose
    parquet columns are PHYSICAL names."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    write_delta(_base(spark), path, mode="overwrite")
    alter_delta(path, rename=("v", "val"))
    log = os.path.join(path, "_delta_log", f"{1:020d}.json")
    actions = [json.loads(line) for line in open(log)]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    cfg = meta["configuration"]
    assert cfg["delta.columnMapping.mode"] == "name"
    fields = {f["name"]: f for f in json.loads(meta["schemaString"])["fields"]}
    assert (
        fields["val"]["metadata"]["delta.columnMapping.physicalName"] == "v"
    )
    # post-upgrade append stages parquet under the PHYSICAL name
    before = set(os.listdir(path))
    write_delta(
        spark.range(8, 9).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("val"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
        ),
        path,
        mode="append",
    )
    new_file = next(
        os.path.join(path, f)
        for f in sorted(set(os.listdir(path)) - before)
        if f.endswith(".parquet")
    )
    assert set(pq.read_schema(new_file).names) == {"k", "v", "s"}
    # checkpoint after the upgrade must carry the RAISED protocol
    checkpoint_delta(path)
    cp = pq.read_table(
        os.path.join(path, "_delta_log", f"{2:020d}.checkpoint.parquet"),
        columns=["protocol"],
    ).to_pylist()
    protos = [r["protocol"] for r in cp if r["protocol"] is not None]
    assert any(
        p.get("minReaderVersion") == 2 and p.get("minWriterVersion") == 5
        for p in protos
    )


def test_delta_add_column_on_mapped_table_gets_fresh_physical(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    write_delta(_base(spark), path, mode="overwrite")
    alter_delta(path, rename=("v", "val"))
    alter_delta(path, add=("extra", "double"))
    from pg_analytics_spark.sources.delta import snapshot

    snap = snapshot(path)
    meta = snap.metadata
    f = next(f for f in snap.fields if f["name"] == "extra")
    md = f["metadata"]
    assert md["delta.columnMapping.physicalName"].startswith("col-")
    assert int(meta["configuration"]["delta.columnMapping.maxColumnId"]) == (
        md["delta.columnMapping.id"]
    )
    out = load_source(spark, path, "delta")
    assert out.filter(out.extra.isNull()).count() == 8


def test_delta_drop_partition_column_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(_base(spark), path, mode="overwrite", partition_by="s")
    with pytest.raises(UnsupportedFormat):
        alter_delta(path, drop="s")


def test_delta_time_travel_preserves_pre_alter_schema(spark, tmp_path):
    from pg_analytics_spark.sources.delta import _load_via_log, snapshot

    path = str(tmp_path / "t")
    write_delta(_base(spark), path, mode="overwrite")
    alter_delta(path, rename=("v", "val"))
    alter_delta(path, drop="s")
    v0 = _load_via_log(spark, snapshot(path, 0))
    assert v0.columns == ["k", "v", "s"] and v0.count() == 8
    now = load_source(spark, path, "delta")
    assert now.columns == ["k", "val"]


def test_iceberg_metadata_shape_after_alter(spark, tmp_path):
    """Pure-metadata contract: rename keeps the field id, add mints a
    fresh id past last-column-id, the name mapping accumulates every
    historical name, and no snapshot is added."""
    path = str(tmp_path / "t")
    write_iceberg(_base(spark), path, mode="overwrite")
    from pg_analytics_spark.sources.iceberg_write import _latest_metadata

    _v, m0 = _latest_metadata(os.path.join(path, "metadata"))
    alter_iceberg(path, rename=("v", "val"))
    alter_iceberg(path, add=("extra", "bigint"))
    _v, m = _latest_metadata(os.path.join(path, "metadata"))
    assert len(m["snapshots"]) == len(m0["snapshots"])  # no new snapshot
    cur = next(
        s for s in m["schemas"] if s["schema-id"] == m["current-schema-id"]
    )
    by_name = {f["name"]: f for f in cur["fields"]}
    old = {f["name"]: f for f in m0["schemas"][0]["fields"]}
    assert by_name["val"]["id"] == old["v"]["id"]  # rename keeps the id
    assert by_name["extra"]["id"] == m["last-column-id"]
    assert by_name["extra"]["id"] > max(f["id"] for f in old.values())
    nm = json.loads(m["properties"]["schema.name-mapping.default"])
    names_of = {e["field-id"]: set(e["names"]) for e in nm}
    assert names_of[old["v"]["id"]] == {"v", "val"}


def test_iceberg_merge_schema_append_joins_name_mapping(spark, tmp_path):
    """A mergeSchema append AFTER an alter must register its fresh
    field ids in the name mapping, or its id-less files would
    null-fill on read."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    write_iceberg(_base(spark), path, mode="overwrite")
    alter_iceberg(path, rename=("v", "val"))
    write_iceberg(
        spark.range(8, 10).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("val"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
            F.col("id").alias("merged"),
        ),
        path,
        mode="append",
        options={"mergeSchema": "true"},
    )
    got = {
        r["k"]: r["merged"]
        for r in load_source(spark, path, "iceberg").collect()
    }
    assert got[9] == 9 and got[2] is None and len(got) == 10


def test_iceberg_drop_partition_source_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(_base(spark), path, mode="overwrite", partition_by=["s"])
    with pytest.raises(UnsupportedFormat):
        alter_iceberg(path, drop="s")


def test_iceberg_eq_delete_written_before_rename_still_applies(
    spark, tmp_path
):
    """Equality-delete files carry the key column under its name AT
    WRITE TIME; the sequence-rule anti-join must keep applying them
    after the column is renamed (name-mapping translation)."""
    from pg_analytics_spark.sources.iceberg_write import (
        equality_delete_iceberg,
    )

    path = str(tmp_path / "t")
    write_iceberg(_base(spark), path, mode="overwrite")
    equality_delete_iceberg(
        spark, path, spark.createDataFrame([(2,), (5,)], "k bigint"), ["k"]
    )
    alter_iceberg(path, rename=("v", "val"))
    rows = {r["k"] for r in load_source(spark, path, "iceberg").collect()}
    assert rows == {0, 1, 3, 4, 6, 7}
    # and DML evaluated under the renamed schema still sees them gone
    update_iceberg(spark, path, {"val": "val + 100"}, "k <= 2")
    got = {
        r["k"]: r["val"]
        for r in load_source(spark, path, "iceberg").collect()
    }
    assert got[0] == 100 and got[1] == 102 and 2 not in got


@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_engine_alter_statement_routing(spark, tmp_path, fmt):
    from pg_analytics_spark.engine import Engine

    write = WRITERS[fmt][0]
    path = str(tmp_path / fmt)
    write(_base(spark), path, mode="overwrite")
    eng = Engine(spark=spark)
    eng.attach("t", [path], fmt)
    r = eng.sql("ALTER TABLE t ADD COLUMN note varchar").collect()
    assert r[0]["operation"] == "ADD COLUMNS"
    r = eng.sql("ALTER TABLE t RENAME COLUMN v TO val").collect()
    assert r[0]["operation"] == "RENAME COLUMN"
    r = eng.sql("ALTER TABLE t DROP COLUMN note").collect()
    assert r[0]["operation"] == "DROP COLUMNS"
    got = eng.sql("SELECT k, val FROM t WHERE k < 2 ORDER BY k").collect()
    assert [x["val"] for x in got] == [0, 2]


def test_delta_set_tblproperties_routes_dv(spark, tmp_path):
    """SET TBLPROPERTIES flips DML to merge-on-read AFTER creation:
    a later DELETE must leave the original data files byte-identical
    and write a DV instead."""
    import glob

    from pg_analytics_spark.sources.delta_write import (
        alter_delta_properties,
        delete_delta,
    )

    path = str(tmp_path / "t")
    write_delta(_base(spark), path, mode="overwrite")
    res = alter_delta_properties(
        path, {"delta.enableDeletionVectors": "true"}
    )
    assert res["configuration"]["delta.enableDeletionVectors"] == "true"
    before = sorted(
        (p, os.stat(p).st_size)
        for p in glob.glob(path + "/*.parquet")
    )
    delete_delta(spark, path, "k = 3")
    after = [
        s for s in (
            (p, os.stat(p).st_size)
            for p in glob.glob(path + "/*.parquet")
        )
        if s[0] in {p for p, _ in before}
    ]
    assert sorted(after) == before  # MoR: originals untouched
    assert glob.glob(path + "/deletion_vector_*.bin")
    got = {r["k"] for r in load_source(spark, path, "delta").collect()}
    assert got == {0, 1, 2, 4, 5, 6, 7}


def test_delta_unset_tblproperties(spark, tmp_path):
    from pg_analytics_spark.sources.delta import snapshot
    from pg_analytics_spark.sources.delta_write import (
        alter_delta_properties,
    )

    path = str(tmp_path / "t")
    write_delta(
        _base(spark), path, mode="overwrite",
        configuration={"custom.tag": "x", "other": "y"},
    )
    alter_delta_properties(path, None, ["custom.tag"])
    cfg = snapshot(path).configuration
    assert "custom.tag" not in cfg and cfg["other"] == "y"


def test_delta_tblproperties_column_mapping_key_refused(spark, tmp_path):
    from pg_analytics_spark.sources.delta_write import (
        alter_delta_properties,
    )

    path = str(tmp_path / "t")
    write_delta(_base(spark), path, mode="overwrite")
    with pytest.raises(UnsupportedFormat):
        alter_delta_properties(path, {"delta.columnMapping.mode": "name"})


def test_iceberg_properties_set_unset_and_survive_writes(spark, tmp_path):
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.iceberg_write import (
        _latest_metadata,
        alter_iceberg_properties,
    )

    path = str(tmp_path / "t")
    write_iceberg(_base(spark), path, mode="overwrite")
    alter_iceberg_properties(path, {"commit.retry.num-retries": "7"})
    # a data commit must CARRY properties forward
    write_iceberg(
        spark.range(8, 10).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
        ),
        path,
        mode="append",
    )
    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    assert meta["properties"]["commit.retry.num-retries"] == "7"
    alter_iceberg_properties(path, None, ["commit.retry.num-retries"])
    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    assert "commit.retry.num-retries" not in meta["properties"]
    with pytest.raises(UnsupportedFormat):
        alter_iceberg_properties(
            path, {"schema.name-mapping.default": "[]"}
        )


@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_engine_tblproperties_statement(spark, tmp_path, fmt):
    from pg_analytics_spark.engine import Engine

    write = WRITERS[fmt][0]
    path = str(tmp_path / fmt)
    write(_base(spark), path, mode="overwrite")
    eng = Engine(spark=spark)
    eng.attach("t", [path], fmt)
    r = eng.sql(
        "ALTER TABLE t SET TBLPROPERTIES ('a.b' = 'c,d', 'e' = 'f')"
    ).collect()
    assert r[0]["operation"] == "SET"
    r = eng.sql("ALTER TABLE t UNSET TBLPROPERTIES ('e')").collect()
    assert r[0]["operation"] == "UNSET"
    if fmt == "delta":
        from pg_analytics_spark.sources.delta import snapshot

        cfg = snapshot(path).configuration
    else:
        from pg_analytics_spark.sources.iceberg_write import (
            _latest_metadata,
        )

        _v, meta = _latest_metadata(os.path.join(path, "metadata"))
        cfg = meta["properties"]
    assert cfg["a.b"] == "c,d" and "e" not in cfg


@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_engine_show_tblproperties(spark, tmp_path, fmt):
    from pg_analytics_spark.engine import Engine

    write = WRITERS[fmt][0]
    path = str(tmp_path / fmt)
    write(_base(spark), path, mode="overwrite")
    eng = Engine(spark=spark)
    eng.attach("t", [path], fmt)
    eng.sql("ALTER TABLE t SET TBLPROPERTIES ('zz.k' = 'v1', 'aa.k' = 'v0')")
    rows = [tuple(r) for r in eng.sql("SHOW TBLPROPERTIES t").collect()]
    assert ("aa.k", "v0") in rows and ("zz.k", "v1") in rows
    assert rows == sorted(rows)  # ordered by key


def test_iceberg_drop_then_readd_same_name_refused(spark, tmp_path):
    """Re-adding a previously used column name is REFUSED on this
    writer: its data files carry no footer field ids, so an id-less
    file's column binds by name and a reused name is era-ambiguous —
    the mapping would either leak dropped data into the new column or
    null the new column's own rows.  Loud beats either."""
    path = str(tmp_path / "t")
    write_iceberg(_base(spark), path, mode="overwrite")  # k, v, s
    alter_iceberg(path, rename=("s", "tmp"))  # seed the name mapping
    alter_iceberg(path, drop="v")
    with pytest.raises(UnsupportedFormat):
        alter_iceberg(path, add=("v", "bigint"))
    with pytest.raises(UnsupportedFormat):
        alter_iceberg(path, rename=("tmp", "v"))
    # a FRESH name is fine, and a rename back onto the SAME field id
    # is fine (the name already belongs to that id)
    alter_iceberg(path, add=("v2", "bigint"))
    alter_iceberg(path, rename=("tmp", "s"))
    out = load_source(spark, path, "iceberg")
    assert out.columns == ["k", "s", "v2"]
    assert out.filter(out.s.isNotNull()).count() == 8


def test_iceberg_partition_evolution(spark, tmp_path):
    """alter_iceberg_partition: pure-metadata spec flip — appends lay
    out under the new spec, old manifests keep decoding under theirs,
    filtered reads stay exact across generations, spec field ids stay
    unique across ALL specs, and re-evolving to an identical spec
    REBINDS instead of minting."""
    import json as _json

    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.iceberg_write import (
        _latest_metadata,
        alter_iceberg_partition,
    )

    path = str(tmp_path / "t")
    df = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    write_iceberg(df, path, mode="overwrite")  # unpartitioned, spec 0
    r1 = alter_iceberg_partition(path, ["bucket(4, g)"])
    write_iceberg(
        spark.range(60, 120).select(
            F.col("id").alias("k"),
            (F.col("id") % 6).alias("g"),
            (F.col("id") * 2).alias("v"),
        ),
        path,
        mode="append",
    )
    r2 = alter_iceberg_partition(path, ["g"])
    write_iceberg(
        spark.range(120, 150).select(
            F.col("id").alias("k"),
            (F.col("id") % 6).alias("g"),
            (F.col("id") * 2).alias("v"),
        ),
        path,
        mode="append",
    )
    got = sorted(
        r["k"]
        for r in load_source(spark, path, "iceberg")
        .filter(F.col("g") == 3)
        .collect()
    )
    assert got == [i for i in range(150) if i % 6 == 3]
    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    specs = meta["partition-specs"]
    assert meta["default-spec-id"] == r2["spec_id"] != r1["spec_id"]
    pfids = [
        pf["field-id"] for s in specs for pf in s.get("fields", [])
    ]
    assert len(pfids) == len(set(pfids))  # unique across ALL specs
    # r9 ADVICE: standard tooling mints the next partition field id
    # from last-partition-id — it must cover every spec's field ids,
    # and every metadata version must stamp last-updated-ms
    assert meta["last-partition-id"] == max(pfids)
    assert meta["last-updated-ms"] > 0
    # evolving BACK to bucket(4, g) rebinds the existing spec id
    r3 = alter_iceberg_partition(path, ["bucket(4, g)"])
    assert r3["spec_id"] == r1["spec_id"]
    # unknown source column is loud
    with pytest.raises(UnsupportedFormat):
        alter_iceberg_partition(path, ["nope"])
    # evolve to unpartitioned works
    r4 = alter_iceberg_partition(path, [])
    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    assert meta["default-spec-id"] == r4["spec_id"]
    assert (
        next(
            s
            for s in meta["partition-specs"]
            if s["spec-id"] == r4["spec_id"]
        )["fields"]
        == []
    )


def test_engine_replace_partition_by(spark, tmp_path):
    from pyspark.sql import functions as F

    from pg_analytics_spark.engine import Engine
    from pg_analytics_spark.sources.iceberg_write import _latest_metadata

    path = str(tmp_path / "t")
    write_iceberg(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        ),
        path,
        mode="overwrite",
    )
    eng = Engine(spark=spark)
    eng.attach("t", [path], "iceberg")
    r = eng.sql(
        "ALTER TABLE t REPLACE PARTITION BY (bucket(4, g), k)"
    ).collect()
    assert r[0]["spec_id"] == 1
    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    spec = next(
        s
        for s in meta["partition-specs"]
        if s["spec-id"] == meta["default-spec-id"]
    )
    assert [f["transform"] for f in spec["fields"]] == [
        "bucket[4]",
        "identity",
    ]
    # back to unpartitioned via empty parens
    r = eng.sql("ALTER TABLE t REPLACE PARTITION BY ()").collect()
    assert r[0]["spec_id"] == 0
    # delta attachments are refused (no spec evolution there)
    p2 = str(tmp_path / "d")
    write_delta(_base(spark), p2, mode="overwrite")
    eng.attach("d", [p2], "delta")
    from pg_analytics_spark.dialect import UnsupportedDialect

    with pytest.raises(UnsupportedDialect):
        eng.sql("ALTER TABLE d REPLACE PARTITION BY (k)")
