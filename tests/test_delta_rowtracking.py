"""Delta ROW TRACKING (r13): fresh id assignment, preservation
through CoW and DV DML, checkpoint survival, and the loud refusals on
write surfaces that cannot preserve identities yet."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources import load_source
from pg_analytics_spark.sources.delta import snapshot
from pg_analytics_spark.sources.delta_rowtracking import (
    row_id_high_watermark,
    with_current_row_ids,
)
from pg_analytics_spark.sources.delta_write import (
    checkpoint_delta,
    clone_delta,
    compact_delta,
    delete_delta,
    merge_delta,
    update_delta,
    write_delta,
)

RT_CFG = {"delta.enableRowTracking": "true"}


def _ids(spark, path):
    return {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in with_current_row_ids(spark, path).collect()
    }


@pytest.fixture()
def rt_table(spark, tmp_path, request):
    path = str(tmp_path / getattr(request, "param", "t"))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, s string"
    ).orderBy("k").coalesce(1)
    write_delta(df, path, mode="overwrite", configuration=RT_CFG)
    df2 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10, 15)], "k long, s string"
    ).orderBy("k").coalesce(1)
    write_delta(df2, path, mode="append")
    return path


def test_append_assigns_fresh_ids(spark, rt_table):
    got = _ids(spark, rt_table)
    assert {got[k] for k in range(10)} == {(i, 0) for i in range(10)}
    assert {got[k] for k in range(10, 15)} == {(i, 1) for i in range(10, 15)}
    log_dir = os.path.join(rt_table, "_delta_log")
    assert row_id_high_watermark(snapshot(rt_table)) == 14
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minWriterVersion"] == 7
    assert set(proto["writerFeatures"]) == {"domainMetadata", "rowTracking"}
    adds = [a["add"] for a in actions if "add" in a]
    assert all("baseRowId" in a for a in adds)
    assert all(a["defaultRowCommitVersion"] == 0 for a in adds)


@pytest.mark.parametrize("rt_table", ["t", "t with space"], indirect=True)
def test_update_preserves_ids_and_bumps_modified_version(spark, rt_table):
    """Also under a directory name Spark's file URIs percent-encode:
    the identity join keys on the log's decoded path."""
    before = _ids(spark, rt_table)
    assert {i for i, _v in before.values()} == set(range(15))
    update_delta(
        spark, rt_table, set_map={"s": "'upd'"}, where="k % 3 = 0"
    )
    after = _ids(spark, rt_table)
    assert set(after) == set(before)
    for k in after:
        assert after[k][0] == before[k][0]  # row id survives the rewrite
        if k % 3 == 0:
            assert after[k][1] == 2  # modified rows: THIS commit
        else:
            assert after[k][1] == before[k][1]  # copied rows: original
    vals = {
        r["k"]: r["s"]
        for r in load_source(spark, rt_table, "delta").collect()
    }
    assert vals[3] == "upd" and vals[4] == "v4"


def test_delete_preserves_survivor_ids(spark, rt_table):
    before = _ids(spark, rt_table)
    delete_delta(spark, rt_table, where="k >= 12")
    after = _ids(spark, rt_table)
    assert set(after) == set(range(12))
    for k in after:
        assert after[k] == before[k]
    # a fresh append allocates ABOVE the high-water mark — deleted row
    # ids are never reused.  The CoW rewrite's new file ALSO drew a
    # fresh (shadowed) 2-row range 15..16 — every add advances the
    # watermark per the spec — so the append lands at 17.
    df = spark.createDataFrame([(100, "new")], "k long, s string")
    write_delta(df, rt_table, mode="append")
    assert _ids(spark, rt_table)[100][0] == 17


def test_dv_delete_keeps_fresh_ids(spark, tmp_path):
    path = str(tmp_path / "dv")
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k long, v long"
    ).orderBy("k").coalesce(1)
    write_delta(
        df, path, mode="overwrite",
        configuration={**RT_CFG, "delta.enableDeletionVectors": "true"},
    )
    before = _ids(spark, path)
    delete_delta(spark, path, where="k % 4 = 1")  # MoR: same file + DV
    after = _ids(spark, path)
    assert set(after) == {k for k in range(20) if k % 4 != 1}
    for k in after:
        assert after[k] == before[k]


def test_checkpoint_carries_watermark_and_base_ids(spark, rt_table):
    before = _ids(spark, rt_table)
    log_dir = os.path.join(rt_table, "_delta_log")
    checkpoint_delta(rt_table)
    # simulate log cleanup: drop every JSON commit at/below the
    # checkpoint — replay must come entirely from the checkpoint
    cp_v = 1
    for n in sorted(os.listdir(log_dir)):
        if n.endswith(".json") and int(n[:20]) <= cp_v:
            os.remove(os.path.join(log_dir, n))
    assert _ids(spark, rt_table) == before
    assert row_id_high_watermark(snapshot(rt_table)) == 14
    df = spark.createDataFrame([(99, "z")], "k long, s string")
    write_delta(df, rt_table, mode="append")
    assert _ids(spark, rt_table)[99][0] == 15


def test_normal_read_hides_identity_columns(spark, rt_table):
    update_delta(spark, rt_table, set_map={"s": "'u'"}, where="k = 1")
    out = load_source(spark, rt_table, "delta")
    assert set(out.columns) == {"k", "s"}
    assert out.count() == 15


def test_refusals(spark, tmp_path, rt_table):
    src = spark.createDataFrame([(1, "x")], "k long, s string")
    with pytest.raises(UnsupportedFormat, match="clone"):
        clone_delta(rt_table, str(tmp_path / "c"))
    from pg_analytics_spark.sources.delta_write import (
        alter_delta,
        alter_delta_properties,
    )

    with pytest.raises(UnsupportedFormat, match="column "):
        alter_delta(rt_table, rename=("s", "s2"))
    with pytest.raises(UnsupportedFormat, match="CREATED"):
        alter_delta_properties(
            rt_table, set_props={"delta.enableRowTracking": "true"}
        )
    # enabling on an EXISTING plain table is refused (no backfill)
    plain = str(tmp_path / "plain")
    write_delta(src, plain, mode="overwrite")
    with pytest.raises(UnsupportedFormat, match="CREATED"):
        write_delta(src, plain, mode="append", configuration=RT_CFG)
    # generated / column-mapping combos refused at creation
    with pytest.raises(UnsupportedFormat, match="generated"):
        write_delta(
            src, str(tmp_path / "g"), mode="overwrite",
            configuration=RT_CFG, generated={"s": "CAST(k AS STRING)"},
        )
    with pytest.raises(UnsupportedFormat, match="column mapping"):
        write_delta(
            src, str(tmp_path / "m"), mode="overwrite",
            configuration={**RT_CFG, "delta.columnMapping.mode": "name"},
        )


def test_datasource_writer_refuses_rt_table(spark, rt_table):
    from pg_analytics_spark.sources.delta_datasource import (
        register_native_datasources,
    )

    register_native_datasources(spark)
    df = spark.createDataFrame([(7, "x")], "k long, s string")
    with pytest.raises(Exception, match="row-tracking"):
        df.write.format("delta_native").mode("append").save(rt_table)


def test_merge_preserves_ids(spark, rt_table):
    """MERGE preserves identities through the rewrite: updated rows
    keep their id with the merge's commit version, deleted rows'
    ids retire, merely-copied rows in touched files keep (id, ver)
    bit-for-bit, and inserted rows draw FRESH ids above the old
    high-water mark (NULL materialized values → the new file's
    defaults)."""
    before = _ids(spark, rt_table)
    src = spark.createDataFrame(
        [(1, "m1"), (2, "m2"), (7, None), (100, "new")],
        "k long, s string",
    )
    res = merge_delta(
        src, rt_table, on="t.k = s.k",
        clauses=[
            {"when": "matched", "action": "delete",
             "condition": "s.s IS NULL"},
            {"when": "matched", "action": "update", "set": {"s": "s.s"}},
            {"when": "not_matched", "action": "insert", "values": "all"},
        ],
    )
    after = _ids(spark, rt_table)
    assert set(after) == (set(range(15)) - {7}) | {100}
    for k in (1, 2):
        assert after[k] == (before[k][0], res["version"])
    for k in after:
        if k in (1, 2, 100):
            continue
        assert after[k] == before[k]
    assert after[100][0] > 14  # fresh id above the old watermark
    assert after[100][1] == res["version"]


def test_optimize_preserves_ids(spark, rt_table):
    """OPTIMIZE is a pure physical replace: every surviving row keeps
    its (id, commit version) bit-for-bit through the bin-pack rewrite,
    and a later UPDATE still preserves them (the materialized columns
    round-trip through compacted files)."""
    update_delta(spark, rt_table, set_map={"s": "'u'"}, where="k = 2")
    before = _ids(spark, rt_table)
    res = compact_delta(spark, rt_table)
    assert res["files_after"] >= 1
    assert _ids(spark, rt_table) == before
    update_delta(spark, rt_table, set_map={"s": "'w'"}, where="k = 9")
    after = _ids(spark, rt_table)
    assert {k: v[0] for k, v in after.items()} == {
        k: v[0] for k, v in before.items()
    }
    assert after[9][1] == res["version"] + 1
    assert after[2][1] == before[2][1]


def test_add_column_ok_and_ids_survive(spark, rt_table):
    from pg_analytics_spark.sources.delta_write import alter_delta

    before = _ids(spark, rt_table)
    alter_delta(rt_table, add=("extra", "BIGINT"))
    out = with_current_row_ids(spark, rt_table)
    assert "extra" in out.columns
    got = {r["k"]: (r["_row_id"], r["_row_commit_version"])
           for r in out.collect()}
    assert got == before


def test_strip_hidden_stats_refuses_stats_that_do_not_parse():
    from pg_analytics_spark.sources.delta_rowtracking import strip_hidden_stats

    good = {"add": {"stats": json.dumps(
        {"numRecords": 1, "minValues": {"k": 1, "_id": 0}, "nullCount": {}}
    )}}
    strip_hidden_stats([good], ("_id", "_ver"))
    assert json.loads(good["add"]["stats"])["minValues"] == {"k": 1}
    with pytest.raises(json.JSONDecodeError):
        strip_hidden_stats([{"add": {"stats": "{not json"}}], ("_id", "_ver"))
