"""Merge-on-read DELETE on the native Iceberg writer (v2 position
deletes) + Engine.sql statement routing — the iceberg half of the DML
surface beside the Delta copy-on-write writer."""

from __future__ import annotations

import json
import os

import pytest

from pg_analytics_spark.errors import ConcurrentWriteError, UnsupportedFormat
from pg_analytics_spark.sources import load_source
from pg_analytics_spark.sources.iceberg_write import (
    alter_iceberg_properties,
    delete_iceberg,
    merge_iceberg,
    update_iceberg,
    write_iceberg,
)


def _rows(spark, path, **opts):
    return sorted(
        (r["id"], r["v"])
        for r in load_source(spark, path, "iceberg", opts or None).collect()
    )


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.0)], "id bigint, v double"
    )
    write_iceberg(df.coalesce(1), path, mode="overwrite")
    res = delete_iceberg(spark, path, "v < 8")
    assert res["rows_deleted"] == 1
    assert _rows(spark, path) == [(1, 10.0), (2, None)]


def test_stacked_deletes_and_idempotency(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id bigint, v double"
        ),
        path,
        mode="overwrite",
    )
    assert delete_iceberg(spark, path, "v < 3")["rows_deleted"] == 3
    # already-deleted rows are invisible to later predicates
    assert delete_iceberg(spark, path, "v < 3")["rows_deleted"] == 0
    assert delete_iceberg(spark, path, "v >= 8")["rows_deleted"] == 2
    assert _rows(spark, path) == [(i, float(i)) for i in range(3, 8)]
    # no-match delete commits NOTHING (no new snapshot)
    meta_dir = os.path.join(path, "metadata")
    before = sorted(os.listdir(meta_dir))
    assert delete_iceberg(spark, path, "v > 100")["snapshot_id"] is None
    assert sorted(os.listdir(meta_dir)) == before


def test_delete_without_where_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id bigint, v double"
        ),
        path,
        mode="overwrite",
    )
    import time

    time.sleep(0.05)
    ts0 = int(time.time() * 1000)
    res = delete_iceberg(spark, path)
    assert res["rows_deleted"] == 2
    assert load_source(spark, path, "iceberg").count() == 0
    # prior snapshot still reads FULL via time travel — deletes are
    # merge-on-read, nothing was rewritten or dropped
    assert _rows(spark, path, as_of_timestamp_ms=ts0) == [(1, 1.0), (2, 2.0)]


def test_delete_on_partitioned_table_keeps_pruning(spark, tmp_path):
    path = str(tmp_path / "p")
    write_iceberg(
        spark.createDataFrame(
            [(i, float(i % 3)) for i in range(30)], "id bigint, v double"
        ),
        path,
        mode="overwrite",
        partition_by=["bucket(4, id)"],
    )
    res = delete_iceberg(spark, path, "id % 5 = 0")
    assert res["rows_deleted"] == 6
    back = load_source(spark, path, "iceberg")
    assert back.count() == 24
    assert back.filter("id % 5 = 0").count() == 0


def test_statement_routing_iceberg_delete(spark, tmp_path):
    from pg_analytics_spark.engine import Engine

    path = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id bigint, v double"
        ),
        path,
        mode="overwrite",
    )
    eng = Engine(spark=spark)
    eng.attach("ice_dml", [path], "iceberg")
    m = eng.sql("DELETE FROM ice_dml WHERE v >= 7").first()
    assert m["rows_deleted"] == 3
    got = sorted(r["id"] for r in eng.sql("FROM ice_dml").collect())
    assert got == list(range(7))
    # merge-on-read UPDATE: ONE snapshot carries the position deletes
    # AND the updated images; NULL-predicate rows untouched
    m = eng.sql("UPDATE ice_dml SET v = v + 100 WHERE id < 2").first()
    assert m["rows_updated"] == 2
    got = sorted(
        (r["id"], r["v"]) for r in eng.sql("FROM ice_dml").collect()
    )
    assert got == [(0, 100.0), (1, 101.0)] + [
        (i, float(i)) for i in range(2, 7)
    ]


_RACE_COMMITS = {
    "append": lambda spark, path: write_iceberg(
        spark.createDataFrame([(2, 2.0)], "id bigint, v double"),
        path,
        mode="append",
    ),
    "update": lambda spark, path: update_iceberg(
        spark, path, {"v": "v + 1"}, "v > 0"
    ),
    "merge": lambda spark, path: merge_iceberg(
        spark.createDataFrame([(1, 5.0), (3, 3.0)], "id bigint, v double"),
        path,
        "t.id = s.id",
        [
            {"when": "matched", "action": "update", "set": "all"},
            {"when": "not_matched", "action": "insert", "values": "all"},
        ],
    ),
    "delete": lambda spark, path: delete_iceberg(spark, path, "v > 0"),
    "properties": lambda spark, path: alter_iceberg_properties(
        path, {"owner": "x"}
    ),
}


@pytest.mark.parametrize("kind", sorted(_RACE_COMMITS))
def test_metadata_version_race_is_loud(spark, tmp_path, monkeypatch, kind):
    """A writer that allocated its version BEFORE a concurrent commit
    landed must fail loudly at publish (put-if-absent link), never
    clobber the winner's metadata JSON — on every commit path."""
    import pg_analytics_spark.sources.iceberg_write as iw

    path = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
        path,
        mode="overwrite",
    )
    meta_dir = os.path.join(path, "metadata")
    snapshot = iw._latest_metadata(meta_dir)  # (1, v1 metadata)
    # the concurrent winner publishes v2 AFTER we read v1
    winner = os.path.join(meta_dir, "v2.metadata.json")
    with open(winner, "w") as fh:
        json.dump({"winner": True}, fh)
    monkeypatch.setattr(iw, "_latest_metadata", lambda d: snapshot)
    with pytest.raises(ConcurrentWriteError, match="version 2"):
        _RACE_COMMITS[kind](spark, path)
    with open(winner) as fh:
        assert json.load(fh) == {"winner": True}
    assert not [f for f in os.listdir(meta_dir) if ".tmp-" in f]


def test_compact_rewrites_delete_debt(spark, tmp_path):
    """compact_iceberg: affected files rewrite without their deleted
    rows, untouched files carry verbatim, delete manifests vanish,
    values identical before/after, prior snapshots still time-travel."""
    from pg_analytics_spark.sources.avro import read_container
    from pg_analytics_spark.sources.iceberg_write import compact_iceberg

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id bigint, v double"
    )
    write_iceberg(base.repartition(4, "id"), path, mode="overwrite")
    delete_iceberg(spark, path, "id IN (3, 7)")
    before = _rows(spark, path)
    res = compact_iceberg(spark, path)
    assert res["deletes_dropped"] == 1
    assert res["files_rewritten"] >= 1
    assert res["files_rewritten"] + res["files_untouched"] == 4
    assert _rows(spark, path) == before
    # the new snapshot's manifest list has NO delete manifests
    import json as _json

    meta = _json.load(
        open(
            os.path.join(
                path, "metadata", f"v{res['version']}.metadata.json"
            )
        )
    )
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == res["snapshot_id"]
    )
    _s, mlist = read_container(snap["manifest-list"])
    assert all(m.get("content", 0) == 0 for m in mlist)
    # r7 ADVICE: carried entries are status=0 EXISTING keeping their
    # ORIGINAL snapshot_id; only the rewrites are status=1 ADDED by
    # the compaction snapshot — and the summary carries spec counts
    _s2, entries = read_container(mlist[0]["manifest_path"])
    carried = [e for e in entries if e["status"] == 0]
    added = [e for e in entries if e["status"] == 1]
    assert len(carried) == res["files_untouched"]
    assert len(added) == res["files_rewritten"]
    assert all(e["snapshot_id"] != res["snapshot_id"] for e in carried)
    assert all(e["snapshot_id"] == res["snapshot_id"] for e in added)
    summ = snap["summary"]
    assert summ["operation"] == "replace"
    assert int(summ["total-data-files"]) == 4
    assert int(summ["total-records"]) == 18  # 20 minus the 2 deletes
    assert summ["total-delete-files"] == "0"
    # compacting a clean table is a no-op
    assert compact_iceberg(spark, path)["snapshot_id"] is None


def test_compact_partitioned_keeps_partition_tuples(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import compact_iceberg

    path = str(tmp_path / "p")
    write_iceberg(
        spark.createDataFrame(
            [(i, float(i)) for i in range(40)], "id bigint, v double"
        ),
        path,
        mode="overwrite",
        partition_by=["bucket(4, id)"],
    )
    delete_iceberg(spark, path, "id < 10")
    res = compact_iceberg(spark, path)
    assert res["snapshot_id"] is not None
    back = load_source(spark, path, "iceberg")
    assert sorted(r["id"] for r in back.collect()) == list(range(10, 40))
    # manifest partition pruning still works on the compacted table
    pruned = load_source(
        spark, path, "iceberg",
        {"partition_filter": [["id", "=", 20]]},
    )
    assert [r["id"] for r in pruned.collect()] == [20]


def test_delete_and_compact_on_evolved_schema(spark, tmp_path):
    """An evolved table's OLDER files lack added columns: the DML scan
    reads under the union schema (mergeSchema), so a predicate on the
    new column sees NULL there and three-valued logic leaves those
    rows unmatched — no unresolved-column error, no over-delete."""
    from pg_analytics_spark.sources.iceberg_write import compact_iceberg

    path = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame([(1,), (2,)], "id bigint"),
        path,
        mode="overwrite",
    )
    write_iceberg(
        spark.createDataFrame([(3, "x"), (4, "y")], "id bigint, tag string"),
        path,
        mode="append",
        options={"mergeSchema": "true"},
    )
    res = delete_iceberg(spark, path, "tag = 'x'")
    assert res["rows_deleted"] == 1
    back = sorted(
        (r["id"], r["tag"])
        for r in load_source(spark, path, "iceberg").collect()
    )
    assert back == [(1, None), (2, None), (4, "y")]
    # compaction over the evolved layout keeps values
    res2 = compact_iceberg(spark, path)
    assert res2["snapshot_id"] is not None
    back2 = sorted(
        (r["id"], r["tag"])
        for r in load_source(spark, path, "iceberg").collect()
    )
    assert back2 == back


def test_update_partitioned_rejected_with_guidance(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import update_iceberg

    path = str(tmp_path / "p")
    write_iceberg(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id bigint, v double"
        ),
        path,
        mode="overwrite",
        partition_by=["bucket(2, id)"],
    )
    with pytest.raises(UnsupportedFormat, match="UNPARTITIONED"):
        update_iceberg(spark, path, {"v": "0.0"}, "id = 1")


def test_update_null_predicate_and_old_row_semantics(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import update_iceberg

    path = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame(
            [(1, 10.0, 1.0), (2, None, 2.0), (3, 5.0, 3.0)],
            "id bigint, v double, w double",
        ),
        path,
        mode="overwrite",
    )
    # parallel assignment: both SETs read the OLD row
    res = update_iceberg(
        spark, path, {"v": "w", "w": "v"}, "v < 8"
    )
    assert res["rows_updated"] == 1  # only id=3 (NULL v unmatched)
    got = sorted(
        (r["id"], r["v"], r["w"])
        for r in load_source(spark, path, "iceberg").collect()
    )
    assert got == [(1, 10.0, 1.0), (2, None, 2.0), (3, 3.0, 5.0)]


def test_expire_snapshots_trims_history_and_deletes_orphans(
    spark, tmp_path
):
    """expire_snapshots: all but the last N snapshots drop from
    metadata, files referenced ONLY by dropped snapshots are
    physically deleted, the current content is untouched, kept-window
    time travel still works, expired time travel fails loudly."""
    import pytest as _pytest

    from pg_analytics_spark.errors import MissingDependency
    from pg_analytics_spark.sources.iceberg_write import (
        expire_iceberg_snapshots,
        update_iceberg,
    )

    path = str(tmp_path / "e")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(12)], "id bigint, v double"
    )
    write_iceberg(base.repartition(3, "id"), path, mode="overwrite")  # s1
    update_iceberg(spark, path, {"v": "v + 100"}, "id < 4")  # s2
    delete_iceberg(spark, path, "id >= 10")  # s3
    res_noop = expire_iceberg_snapshots(spark, path, retain_last=5)
    assert res_noop["snapshots_expired"] == 0

    before = sorted(map(tuple, load_source(spark, path, "iceberg").collect()))
    res = expire_iceberg_snapshots(spark, path, retain_last=2)
    assert res["snapshots_expired"] == 1
    assert res["files_deleted"] >= 1  # s1's pre-update file images
    after = sorted(map(tuple, load_source(spark, path, "iceberg").collect()))
    assert after == before
    # the kept previous snapshot still time-travels
    import json as _json
    import os as _os

    meta = _json.load(
        open(_os.path.join(path, "metadata", f"v{res['version']}.metadata.json"))
    )
    assert len(meta["snapshots"]) == 2
    # snapshot IDS are random — the EARLIER kept snapshot is the one
    # with the lower sequence number (s2, post-update pre-delete)
    kept_prev = min(
        meta["snapshots"], key=lambda s: s["sequence-number"]
    )["snapshot-id"]
    tt = load_source(
        spark, path, "iceberg", {"snapshot_id": kept_prev}
    )
    assert tt.count() == 12  # pre-delete state
    # an expired snapshot id fails loudly
    with _pytest.raises(Exception):
        load_source(
            spark, path, "iceberg", {"snapshot_id": 999999999}
        ).collect()


def test_rollback_snapshot_and_restore_statement(spark, tmp_path):
    """rollback_iceberg: pure-metadata rollback to a prior snapshot
    (nothing rewritten), routed through RESTORE statement text; roll
    forward works; expired/unknown snapshot ids fail loudly."""
    from pg_analytics_spark.engine import Engine
    from pg_analytics_spark.sources.iceberg_write import rollback_iceberg

    path = str(tmp_path / "rb")
    write_iceberg(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id bigint, v double"
        ),
        path,
        mode="overwrite",
    )
    meta_dir = os.path.join(path, "metadata")

    def _cur():
        import pg_analytics_spark.sources.iceberg_write as iw

        _v, m = iw._latest_metadata(meta_dir)
        return m["current-snapshot-id"], _v

    s1, _ = _cur()
    delete_iceberg(spark, path, "id >= 4")
    s2, _ = _cur()
    assert s2 != s1
    eng = Engine(spark=spark)
    eng.attach("rb_tbl", [path], "iceberg")
    row = eng.sql(f"RESTORE TABLE rb_tbl TO VERSION AS OF {s1}").first()
    assert row["rolled_back_to"] == s1
    assert eng.sql("SELECT count(*) AS n FROM rb_tbl").first()["n"] == 8
    # roll forward again
    rollback_iceberg(spark, path, s2)
    assert sorted(
        r["id"] for r in load_source(spark, path, "iceberg").collect()
    ) == list(range(4))
    # unknown snapshot id is loud
    with pytest.raises(UnsupportedFormat, match="no snapshot"):
        rollback_iceberg(spark, path, 123456789)


# ------------------------------------------------------------------ #
# merge_iceberg — MoR MERGE (one snapshot: pos-deletes + images + inserts)
# ------------------------------------------------------------------ #


def _mk_merge_tbl(spark, tmp_path, name="ice_merge"):
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    root = str(tmp_path / name)
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "id long, v double"
    )
    write_iceberg(df, root, mode="overwrite")
    return root


def test_merge_update_delete_insert_one_snapshot(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import merge_iceberg

    root = _mk_merge_tbl(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, 200.0), (3, 300.0), (9, 900.0)], "k long, nv double"
    )
    res = merge_iceberg(
        src,
        root,
        "t.id = s.k",
        [
            {"when": "matched", "action": "delete",
             "condition": "s.nv > 250"},
            {"when": "matched", "action": "update",
             "set": {"v": "s.nv"}, "condition": None},
            {"when": "not_matched", "action": "insert",
             "values": {"id": "s.k", "v": "s.nv"}, "condition": None},
        ],
    )
    # id 2 updated, id 3 deleted, id 9 inserted — ONE new version
    assert res["rows_deleted"] == 2 and res["rows_written"] == 2
    assert _rows(spark, root) == [(1, 10.0), (2, 200.0), (4, 40.0), (9, 900.0)]
    meta_dir = os.path.join(root, "metadata")
    assert os.path.exists(os.path.join(meta_dir, "v2.metadata.json"))
    assert not os.path.exists(os.path.join(meta_dir, "v3.metadata.json"))


def test_merge_prior_snapshot_time_travels_full(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import merge_iceberg

    root = _mk_merge_tbl(spark, tmp_path)
    meta = json.load(
        open(os.path.join(root, "metadata", "v1.metadata.json"))
    )
    first_snap = meta["current-snapshot-id"]
    src = spark.createDataFrame([(1, 111.0)], "k long, nv double")
    merge_iceberg(
        src, root, "t.id = s.k",
        [{"when": "matched", "action": "update", "set": {"v": "s.nv"},
          "condition": None}],
    )
    assert _rows(spark, root, snapshot_id=first_snap) == [
        (1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0),
    ]
    assert _rows(spark, root)[0] == (1, 111.0)


def test_merge_ambiguous_multi_match_is_loud(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import merge_iceberg

    root = _mk_merge_tbl(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, 1.0), (2, 2.0)], "k long, nv double"
    )
    with pytest.raises(UnsupportedFormat, match="more than one source"):
        merge_iceberg(
            src, root, "t.id = s.k",
            [{"when": "matched", "action": "update", "set": {"v": "s.nv"},
              "condition": None}],
        )


def test_merge_null_keys_and_no_match_commit_nothing(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import merge_iceberg

    root = _mk_merge_tbl(spark, tmp_path)
    src = spark.createDataFrame([(None, 1.0)], "k long, nv double")
    res = merge_iceberg(
        src, root, "t.id = s.k",
        [{"when": "matched", "action": "update", "set": {"v": "s.nv"},
          "condition": None}],
    )
    assert res["snapshot_id"] is None and res["version"] == 1
    assert _rows(spark, root) == [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)]


def test_merge_statement_routing_and_on_conflict_iceberg(spark, tmp_path):
    from pg_analytics_spark.engine import Engine

    root = _mk_merge_tbl(spark, tmp_path)
    eng = Engine(spark=spark)
    eng.attach("ice_m_tgt", [root], "iceberg")
    spark.createDataFrame(
        [(4, 400.0), (5, 500.0)], "k long, nv double"
    ).createOrReplaceTempView("ice_m_src")
    res = eng.sql(
        "MERGE INTO ice_m_tgt t USING ice_m_src s ON t.id = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.nv "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.k, s.nv)"
    ).collect()[0]
    assert res["rows_written"] == 2 and res["files_removed"] == 0
    got = sorted(
        (r["id"], r["v"]) for r in eng.sql("SELECT * FROM ice_m_tgt").collect()
    )
    assert got == [(1, 10.0), (2, 20.0), (3, 30.0), (4, 400.0), (5, 500.0)]
    # upsert statement over the SAME attachment (merge-on-read path)
    eng.sql(
        "INSERT INTO ice_m_tgt VALUES (5, 5.0), (6, 60.0) "
        "ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v + v"
    )
    got = sorted(
        (r["id"], r["v"]) for r in eng.sql("SELECT * FROM ice_m_tgt").collect()
    )
    assert got == [
        (1, 10.0), (2, 20.0), (3, 30.0), (4, 400.0), (5, 505.0), (6, 60.0),
    ]


def test_merge_partitioned_rejected_with_guidance(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import (
        merge_iceberg,
        write_iceberg,
    )

    root = str(tmp_path / "ice_merge_part")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, v double"
    )
    write_iceberg(df, root, mode="overwrite", partition_by="id")
    src = spark.createDataFrame([(1, 1.0)], "k long, nv double")
    with pytest.raises(UnsupportedFormat, match="UNPARTITIONED"):
        merge_iceberg(
            src, root, "t.id = s.k",
            [{"when": "matched", "action": "update", "set": {"v": "s.nv"},
              "condition": None}],
        )


# MERGE matches the same visible relation as UPDATE and DELETE: rows an
# equality delete or a deletion vector removed stay removed, and the
# target binds the CURRENT column names.


def _merge_update_v(src, root, set_col="v"):
    from pg_analytics_spark.sources.iceberg_write import merge_iceberg

    return merge_iceberg(
        src, root, "t.id = s.id",
        [{"when": "matched", "action": "update",
          "set": {set_col: "s.v"}, "condition": None}],
    )


def _range_tbl(spark, tmp_path, **write_opts):
    root = str(tmp_path / "ice_merge_vis")
    write_iceberg(
        spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        root,
        mode="overwrite",
        **write_opts,
    )
    return root


def _all_ids_times_100(spark):
    return spark.range(10).selectExpr("id", "CAST(id * 100 AS DOUBLE) AS v")


def test_merge_does_not_resurrect_eq_deleted_rows(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import (
        equality_delete_iceberg,
    )

    root = _range_tbl(spark, tmp_path)
    equality_delete_iceberg(spark, root, spark.createDataFrame([(3,)], "id long"))
    res = _merge_update_v(_all_ids_times_100(spark), root)
    assert res["rows_written"] == 9
    assert _rows(spark, root) == [
        (i, float(i * 100)) for i in range(10) if i != 3
    ]


def test_merge_on_v3_table_with_deletion_vector(spark, tmp_path):
    root = _range_tbl(spark, tmp_path, options={"format-version": "3"})
    delete_iceberg(spark, root, "id = 3")
    res = _merge_update_v(_all_ids_times_100(spark), root)
    assert res["rows_deleted"] == 9 and res["rows_written"] == 9
    assert _rows(spark, root) == [
        (i, float(i * 100)) for i in range(10) if i != 3
    ]
    # v3 forbids position-delete files: the delete half is deletion
    # vectors, one live DV per data file (the first DELETE's superseded)
    meta, plan = _plan_current(root)
    assert meta["format-version"] == 3 and plan[1] == []
    refs = [e[3] for e in plan[5]]
    assert refs and len(set(refs)) == len(refs)


def test_merge_binds_renamed_column(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import alter_iceberg

    root = _range_tbl(spark, tmp_path)
    alter_iceberg(root, rename=("v", "w"))
    _merge_update_v(_all_ids_times_100(spark), root, set_col="w")
    got = sorted(
        (r["id"], r["w"])
        for r in load_source(spark, root, "iceberg").collect()
    )
    assert got == [(i, float(i * 100)) for i in range(10)]


def _plan_current(root):
    from pg_analytics_spark.sources.iceberg import plan_snapshot
    from pg_analytics_spark.sources.iceberg_write import _latest_metadata

    _v, meta = _latest_metadata(os.path.join(root, "metadata"))
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    return meta, plan_snapshot(root, meta, snap)


# ------------------------------------------------------------------ #
# EQUALITY-delete WRITE (r9): equality_delete_iceberg /
# upsert_iceberg_eq + the sequence-number rule with mixed delete kinds
# ------------------------------------------------------------------ #


def _mk_eq_tbl(spark, tmp_path, name="ice_eq"):
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    root = str(tmp_path / name)
    df = spark.range(0, 100).selectExpr(
        "id", "id % 4 as k", "cast(id * 2.0 as double) as v"
    )
    write_iceberg(df.repartition(2), root)
    return root


def test_eq_delete_ships_only_keys_no_data_rewrite(spark, tmp_path):
    import glob

    from pg_analytics_spark.sources.iceberg_write import (
        equality_delete_iceberg,
    )

    root = _mk_eq_tbl(spark, tmp_path)
    before = sorted(
        p
        for p in glob.glob(root + "/data/*.parquet")
        if "delete" not in os.path.basename(p)
    )
    keys = spark.createDataFrame([(i,) for i in range(30)], "id bigint")
    res = equality_delete_iceberg(spark, root, keys)
    assert res["keys_deleted"] == 30
    after = sorted(
        p
        for p in glob.glob(root + "/data/*.parquet")
        if "delete" not in os.path.basename(p)
    )
    assert after == before  # no data files written or rewritten
    out = load_source(spark, root, "iceberg")
    assert out.count() == 70
    assert out.filter("id < 30").count() == 0
    # the delete FILE holds exactly the distinct key tuples
    eq_files = glob.glob(root + "/data/eqdelete-*.parquet")
    assert len(eq_files) == 1
    import pyarrow.parquet as pq

    t = pq.read_table(eq_files[0])
    assert t.num_rows == 30 and t.column_names == ["id"]


def test_eq_delete_sequence_rule_same_key_readded(spark, tmp_path):
    """THE sequence-rule pin: an equality delete at sequence S erases
    rows from data files with seq < S only — a row with the SAME key
    appended AFTER the delete (seq > S) must survive."""
    from pg_analytics_spark.sources.iceberg_write import (
        equality_delete_iceberg,
        write_iceberg,
    )

    root = _mk_eq_tbl(spark, tmp_path)
    keys = spark.createDataFrame([(7,), (8,)], "id bigint")
    equality_delete_iceberg(spark, root, keys)
    assert load_source(spark, root, "iceberg").filter("id in (7,8)").count() == 0
    readd = spark.createDataFrame(
        [(7, 3, -7.0)], "id bigint, k bigint, v double"
    )
    write_iceberg(readd, root, mode="append")
    out = load_source(spark, root, "iceberg")
    got = out.filter("id = 7").collect()
    assert len(got) == 1 and got[0]["v"] == -7.0  # new row survives
    assert out.filter("id = 8").count() == 0  # old row stays deleted


def test_eq_delete_null_safe_key_match(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import (
        equality_delete_iceberg,
        write_iceberg,
    )

    root = str(tmp_path / "ice_eq_null")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id long, s string"
    )
    write_iceberg(df, root)
    # deleting key s=NULL must match the NULL row (null-safe equality
    # per spec), not silently no-op
    keys = spark.createDataFrame([(None,)], "s string")
    equality_delete_iceberg(spark, root, keys, ["s"])
    out = load_source(spark, root, "iceberg")
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_eq_upsert_empty_source_commits_nothing(spark, tmp_path):
    """Empty change batch through the one-job twin staging (r13):
    no snapshot, version unchanged, no staging dir left behind."""
    from pg_analytics_spark.sources.iceberg_write import (
        _latest_metadata,
        upsert_iceberg_eq,
    )

    root = _mk_eq_tbl(spark, tmp_path)
    v0, _ = _latest_metadata(os.path.join(root, "metadata"))
    src = spark.range(0).selectExpr(
        "id", "id % 4 as k", "cast(0.0 as double) as v"
    )
    res = upsert_iceberg_eq(spark, root, src, ["id"])
    assert res["snapshot_id"] is None and res["rows_upserted"] == 0
    v1, _ = _latest_metadata(os.path.join(root, "metadata"))
    assert v1 == v0
    leftovers = [
        d
        for d in os.listdir(os.path.dirname(root))
        if d.startswith("_ice_")
    ]
    assert leftovers == []  # staging cleaned up on the empty path


def test_eq_upsert_single_snapshot_and_metadata_version(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import (
        _latest_metadata,
        upsert_iceberg_eq,
    )

    root = _mk_eq_tbl(spark, tmp_path)
    v0, _ = _latest_metadata(os.path.join(root, "metadata"))
    src = spark.range(90, 110).selectExpr(
        "id", "id % 4 as k", "cast(-1.0 as double) as v"
    )
    res = upsert_iceberg_eq(spark, root, src, ["id"])
    v1, meta = _latest_metadata(os.path.join(root, "metadata"))
    assert v1 == v0 + 1  # ONE metadata version = atomic row-delta
    assert res["rows_upserted"] == 20
    out = load_source(spark, root, "iceberg")
    assert out.count() == 110  # 100 - 10 overlapped + 20
    assert out.filter("v = -1.0").count() == 20
    assert out.filter("id >= 90 and id < 100 and v >= 0").count() == 0
    # snapshot count grew by exactly one
    assert len(meta["snapshots"]) == 2


def test_eq_upsert_multi_partition_source_stages_parallel(
    spark, tmp_path
):
    """r14: a multi-partition change set stages MULTIPLE add files —
    one per task that holds rows — in the same single job (no
    coalesce(1) serialization), each with its own footer bounds, and
    the global distinct-key count still guards duplicate keys.  The
    committed table is value-identical to the single-file shape."""
    from pg_analytics_spark.sources.iceberg_write import (
        _latest_metadata,
        upsert_iceberg_eq,
    )

    root = _mk_eq_tbl(spark, tmp_path)
    src = (
        spark.range(90, 110)
        .selectExpr("id", "id % 4 as k", "cast(-1.0 as double) as v")
        .repartition(4)
    )
    res = upsert_iceberg_eq(spark, root, src, ["id"])
    assert res["rows_upserted"] == 20
    _v, meta = _latest_metadata(os.path.join(root, "metadata"))
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    n_added = int(snap["summary"]["added-data-files"])
    assert n_added > 1, "multi-partition source serialized to one file"
    assert int(snap["summary"]["added-records"]) == 20
    out = load_source(spark, root, "iceberg")
    assert out.count() == 110
    assert out.filter("v = -1.0").count() == 20
    # duplicate-key guard still fires on the merged global keys
    dup = spark.createDataFrame(
        [(7, 0, 1.0), (7, 1, 2.0)], "id long, k long, v double"
    ).repartition(2)
    with pytest.raises(Exception, match="duplicate keys"):
        upsert_iceberg_eq(spark, root, dup, ["id"])


def test_eq_upsert_batches_converge_to_argmax(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import (
        upsert_iceberg_eq,
        write_iceberg,
    )

    root = str(tmp_path / "ice_eq_cdc")
    b0 = spark.createDataFrame(
        [(1, 10, "x"), (2, 10, "x")], "uid long, ver long, s string"
    )
    write_iceberg(b0, root)
    b1 = spark.createDataFrame(
        [(1, 20, "y"), (3, 20, "y")], "uid long, ver long, s string"
    )
    upsert_iceberg_eq(spark, root, b1, ["uid"])
    b2 = spark.createDataFrame([(3, 30, "z")], "uid long, ver long, s string")
    upsert_iceberg_eq(spark, root, b2, ["uid"])
    rows = {
        r["uid"]: (r["ver"], r["s"])
        for r in load_source(spark, root, "iceberg").collect()
    }
    assert rows == {1: (20, "y"), 2: (10, "x"), 3: (30, "z")}


def test_pos_delete_dml_does_not_resurrect_eq_deleted(spark, tmp_path):
    """delete_iceberg/update_iceberg on a table carrying equality
    deletes must evaluate predicates on the eq-aware visible relation:
    the pos-delete commit must not bring eq-deleted rows back."""
    from pg_analytics_spark.sources.iceberg_write import (
        delete_iceberg,
        equality_delete_iceberg,
        update_iceberg,
    )

    root = _mk_eq_tbl(spark, tmp_path)
    keys = spark.createDataFrame([(i,) for i in range(20)], "id bigint")
    equality_delete_iceberg(spark, root, keys)
    res = delete_iceberg(spark, root, "k = 1")
    out = load_source(spark, root, "iceberg")
    assert out.filter("id < 20").count() == 0  # eq deletes still apply
    assert out.filter("k = 1").count() == 0
    # rows_deleted counted VISIBLE matches only (ids 21,25,...,97)
    assert res["rows_deleted"] == 20
    update_iceberg(spark, root, {"v": "v + 1000"}, "k = 2")
    out2 = load_source(spark, root, "iceberg")
    assert out2.filter("id < 20").count() == 0
    assert out2.filter("k = 2 and v < 1000").count() == 0


def test_eq_upsert_partitioned_rejected_and_compact_materializes(
    spark, tmp_path
):
    from pg_analytics_spark.sources.iceberg_write import (
        compact_iceberg,
        equality_delete_iceberg,
        upsert_iceberg_eq,
        write_iceberg,
    )

    root = str(tmp_path / "ice_eq_part")
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    write_iceberg(df, root, mode="overwrite", partition_by="id")
    src = spark.createDataFrame([(1, 1.0)], "id long, v double")
    with pytest.raises(UnsupportedFormat, match="UNPARTITIONED"):
        upsert_iceberg_eq(spark, root, src, ["id"])
    # eq DELETE works on partitioned tables (no new data files)
    keys = spark.createDataFrame([(1,)], "id long")
    equality_delete_iceberg(spark, root, keys)
    out = load_source(spark, root, "iceberg")
    assert sorted(r["id"] for r in out.collect()) == [2]
    # compact MATERIALIZES the eq delete (r9): the affected file is
    # found via a key semi-join probe, rewritten without the deleted
    # rows, and every delete manifest drops
    res = compact_iceberg(spark, root)
    assert res["files_rewritten"] == 1 and res["deletes_dropped"] == 1
    out2 = load_source(spark, root, "iceberg")
    assert sorted(r["id"] for r in out2.collect()) == [2]


def test_compact_materializes_mixed_pos_and_eq_deletes(spark, tmp_path):
    """Lifecycle closer on a MIXED-debt table: eq delete, then pos
    delete, then compact — the rewrite must apply BOTH kinds (eq under
    the sequence rule) and the compacted table must read identically
    before and after, with zero delete manifests left."""
    from pg_analytics_spark.sources.iceberg_write import (
        compact_iceberg,
        delete_iceberg,
        equality_delete_iceberg,
        write_iceberg,
    )

    root = _mk_eq_tbl(spark, tmp_path, "ice_mixed_compact")
    keys = spark.createDataFrame([(i,) for i in range(10)], "id bigint")
    equality_delete_iceberg(spark, root, keys)
    # re-add id=3 AFTER the eq delete: must survive compaction too
    readd = spark.createDataFrame(
        [(3, 3, -3.0)], "id bigint, k bigint, v double"
    )
    write_iceberg(readd, root, mode="append")
    delete_iceberg(spark, root, "k = 2")
    before = {
        (r["id"], r["v"])
        for r in load_source(spark, root, "iceberg").collect()
    }
    res = compact_iceberg(spark, root)
    assert res["snapshot_id"] is not None
    assert res["deletes_dropped"] >= 2  # one eq + one pos manifest
    after = {
        (r["id"], r["v"])
        for r in load_source(spark, root, "iceberg").collect()
    }
    assert after == before
    assert (3, -3.0) in after  # the sequence-rule survivor
    assert not any(i < 10 and v >= 0 for i, v in after)
    # second compact is a clean no-op
    res2 = compact_iceberg(spark, root)
    assert res2["snapshot_id"] is None


def test_eq_upsert_duplicate_source_keys_rejected(spark, tmp_path):
    """Two changes for one key in a batch must be reduced by the
    caller — an unguarded apply would land BOTH images at sequence S
    and silently duplicate the key (Delta MERGE raises here too)."""
    from pg_analytics_spark.sources.iceberg_write import upsert_iceberg_eq

    root = _mk_eq_tbl(spark, tmp_path, "ice_eq_dup")
    src = spark.createDataFrame(
        [(1, 0, -1.0), (1, 0, -2.0)], "id bigint, k bigint, v double"
    )
    with pytest.raises(UnsupportedFormat, match="duplicate keys"):
        upsert_iceberg_eq(spark, root, src, ["id"])
    # table unchanged, no half-applied state
    assert load_source(spark, root, "iceberg").count() == 100


def test_txn_idempotent_streaming_epochs(spark, tmp_path):
    """write_iceberg(txn=(app, epoch)) — the snapshot-summary epoch
    watermark Iceberg's Spark streaming sink uses: a replayed or older
    epoch commits NOTHING; app ids are independent; the watermark is
    found on BRANCH lineage too (a staged WAP ingest replays clean)."""
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    path = str(tmp_path / "txn")

    def mk(a, b):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(a, b)], "id bigint, v double"
        )

    r0 = write_iceberg(mk(0, 10), path, mode="overwrite", txn=("app", 0))
    assert not r0.get("skipped_txn")
    r1 = write_iceberg(mk(10, 15), path, mode="append", txn=("app", 1))
    assert r1["rows"] == 5
    # replay of epoch 1: skipped, zero table change
    r2 = write_iceberg(mk(10, 15), path, mode="append", txn=("app", 1))
    assert r2["skipped_txn"] and r2["rows"] == 0
    assert load_source(spark, path, "iceberg").count() == 15
    # an OLDER epoch is skipped; a NEWER one applies
    assert write_iceberg(
        mk(0, 3), path, mode="append", txn=("app", 0)
    )["skipped_txn"]
    assert write_iceberg(
        mk(15, 17), path, mode="append", txn=("app", 2)
    )["rows"] == 2
    # a different app id has its own watermark
    assert write_iceberg(
        mk(17, 18), path, mode="append", txn=("other", 0)
    )["rows"] == 1
    assert load_source(spark, path, "iceberg").count() == 18


def test_txn_watermark_covers_branch_staged_epochs(spark, tmp_path):
    """An epoch staged on a WAP branch must be found by the replay
    check even though it is not on main's lineage — otherwise a
    crash-replay during an audit window would double-commit."""
    from pg_analytics_spark.sources.iceberg_write import (
        fast_forward_iceberg,
        write_iceberg,
    )

    path = str(tmp_path / "waptxn")
    base = spark.createDataFrame([(0, 0.0)], "id bigint, v double")
    write_iceberg(base, path, mode="overwrite")
    inc = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 6)], "id bigint, v double"
    )
    r = write_iceberg(
        inc, path, mode="append", branch="audit", txn=("q", 0)
    )
    assert not r.get("skipped_txn")
    # main untouched; replay of epoch 0 on the branch is a no-op
    assert load_source(spark, path, "iceberg").count() == 1
    assert write_iceberg(
        inc, path, mode="append", branch="audit", txn=("q", 0)
    )["skipped_txn"]
    assert (
        load_source(spark, path, "iceberg", {"ref": "audit"}).count()
        == 6
    )
    fast_forward_iceberg(path, "audit")
    assert load_source(spark, path, "iceberg").count() == 6
    # post-publish, the watermark still holds on main
    assert write_iceberg(
        inc, path, mode="append", txn=("q", 0)
    )["skipped_txn"]


def test_txn_watermark_survives_snapshot_expiry(spark, tmp_path):
    """r11 advice: the exactly-once high-water mark must not die with
    the snapshots that carried it — expire_snapshots can prune every
    summary-bearing snapshot of an app, after which a delayed
    crash-replay of a consumed epoch would re-commit duplicates.  The
    mark is ALSO persisted as a table property at commit time."""
    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.iceberg_write import (
        expire_iceberg_snapshots,
        write_iceberg,
    )

    path = str(tmp_path / "txnexp")

    def mk(a, b):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(a, b)], "id bigint, v double"
        )

    write_iceberg(mk(0, 5), path, mode="overwrite", txn=("app", 0))
    write_iceberg(mk(5, 8), path, mode="append", txn=("app", 1))
    # a later NON-txn compaction-style overwrite becomes the only
    # retained snapshot — every summary carrying the app watermark
    # is expired
    write_iceberg(mk(0, 8), path, mode="overwrite")
    expire_iceberg_snapshots(spark, path, retain_last=1)
    import json as _json
    import os as _os

    meta_dir = _os.path.join(path, "metadata")
    latest = max(
        (f for f in _os.listdir(meta_dir) if f.endswith(".metadata.json")),
        key=lambda f: int(f[1:].split(".")[0]),
    )
    meta = _json.load(open(_os.path.join(meta_dir, latest)))
    assert not any(
        (s.get("summary") or {}).get("streaming-app-id") == "app"
        for s in meta["snapshots"]
    )
    assert (
        meta["properties"]["pg-analytics-spark.streaming-epoch.app"]
        == "1"
    )
    # the delayed crash-replay of consumed epoch 1: still a no-op
    r = write_iceberg(mk(5, 8), path, mode="append", txn=("app", 1))
    assert r["skipped_txn"]
    assert load_source(spark, path, "iceberg").count() == 8
    # the NEXT epoch applies normally
    assert write_iceberg(
        mk(8, 9), path, mode="append", txn=("app", 2)
    )["rows"] == 1


def test_direct_write_empty_and_partitioned_contracts(spark, tmp_path):
    """r13 direct-write kernel pins: (1) an empty UNPARTITIONED commit
    still carries one 0-row schema-only data file (readers refuse a
    snapshot with zero live files); (2) a partitioned commit groups
    per tuple with manifest partition values matching the reader's
    transforms; (3) bounds ride the manifest (pruning drops files)."""
    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    # (1) empty unpartitioned overwrite
    p1 = str(tmp_path / "empty_tbl")
    empty = spark.range(0).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS STRING) AS v"
    )
    info = write_iceberg(empty, p1, mode="overwrite")
    assert info["rows"] == 0 and info["files"] == 1
    back = load_source(spark, p1, "iceberg")
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == ["k", "v"]

    # (2+3) partitioned write: tuple grouping + manifest pruning
    p2 = str(tmp_path / "part_tbl")
    df = spark.createDataFrame(
        [(i, f"d-{i % 3}", i % 3) for i in range(300)],
        "k INT, v STRING, g INT",
    )
    write_iceberg(df, p2, mode="overwrite", partition_by=["g"])
    full = load_source(spark, p2, "iceberg")
    pruned = load_source(
        spark, p2, "iceberg", {"partition_filter": [["g", "=", "1"]]}
    )
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = sorted(
        r["k"] for r in pruned.select("k").collect()
    )
    assert got == sorted(i for i in range(300) if i % 3 == 1)
