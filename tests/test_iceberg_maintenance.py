"""Iceberg maintenance actions (r9 verdict #6): rewrite_manifests
(pure-metadata manifest consolidation with explicit per-entry sequence
numbers) and remove_orphan_files (referenced-set sweep that never
touches a referenced file)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources import load_source
from pg_analytics_spark.sources.avro import read_container
from pg_analytics_spark.sources.iceberg_write import (
    _latest_metadata,
    equality_delete_iceberg,
    expire_iceberg_snapshots,
    remove_orphan_files_iceberg,
    rewrite_manifests_iceberg,
    upsert_iceberg_eq,
    write_iceberg,
)


def _mk(spark, path, n_appends=4):
    for i in range(n_appends):
        df = spark.range(i * 10, (i + 1) * 10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        write_iceberg(
            df.coalesce(1), path, mode="overwrite" if i == 0 else "append"
        )


def _manifest_count(path):
    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _s, mlist = read_container(snap["manifest-list"])
    return len(mlist), meta, snap


def _rows(spark, path, **opts):
    return {
        (r["k"], r["v"])
        for r in load_source(spark, path, "iceberg", opts or None).collect()
    }


def test_rewrite_manifests_consolidates_and_preserves_reads(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    _mk(spark, path, n_appends=4)
    before_rows = _rows(spark, path)
    n_before, _m, pre_snap = _manifest_count(path)
    assert n_before == 4  # one manifest per commit
    res = rewrite_manifests_iceberg(path)
    assert res["manifests_before"] == 4 and res["manifests_after"] == 1
    n_after, meta, snap = _manifest_count(path)
    assert n_after == 1  # the planning walk now opens ONE manifest
    assert _rows(spark, path) == before_rows
    assert (snap["summary"] or {})["operation"] == "replace"
    # carried entries: status=0 EXISTING with explicit per-entry seq
    _s, mlist = read_container(snap["manifest-list"])
    _s2, entries = read_container(mlist[0]["manifest_path"])
    assert all(e["status"] == 0 for e in entries)
    seqs = {e["sequence_number"] for e in entries}
    assert seqs == {1, 2, 3, 4}  # original data sequences survive
    # time travel to the pre-rewrite snapshot still works
    assert (
        _rows(spark, path, snapshot_id=pre_snap["snapshot-id"])
        == before_rows
    )
    # idempotent: a second rewrite is a no-op
    res2 = rewrite_manifests_iceberg(path)
    assert res2["snapshot_id"] is None


def test_rewrite_preserves_eq_delete_visibility(spark, tmp_path):
    """The strict data_seq < delete_seq rule must survive the rewrite:
    rows appended AFTER an equality delete keep being visible, rows
    before it keep being erased — per-entry sequence numbers are what
    carries this."""
    path = str(tmp_path / "t")
    _mk(spark, path, n_appends=2)  # seq 1, 2: k in 0..19
    keys = spark.createDataFrame([(5,), (15,)], "k long")
    equality_delete_iceberg(spark, path, keys, ["k"])  # seq 3
    # seq 4 RE-ADDS k=5: newer than the delete, must stay visible
    write_iceberg(
        spark.createDataFrame([(5, 999)], "k long, v long"),
        path,
        mode="append",
    )
    expect = {(k, 2 * k) for k in range(20) if k not in (5, 15)} | {
        (5, 999)
    }
    assert _rows(spark, path) == expect
    res = rewrite_manifests_iceberg(path)
    assert res["snapshot_id"] is not None
    assert _rows(spark, path) == expect
    # upsert (del+data at same seq) composes after the rewrite
    upsert_iceberg_eq(
        spark,
        path,
        spark.createDataFrame([(7, -1), (100, -2)], "k long, v long"),
        ["k"],
    )
    expect = (expect - {(7, 14)}) | {(7, -1), (100, -2)}
    assert _rows(spark, path) == expect


def test_rewrite_keeps_delete_manifests_and_changelog_skips(
    spark, tmp_path
):
    from pg_analytics_spark.sources.iceberg_changelog import (
        iceberg_changelog,
    )

    path = str(tmp_path / "t")
    _mk(spark, path, n_appends=3)
    equality_delete_iceberg(
        spark, path, spark.createDataFrame([(3,)], "k long"), ["k"]
    )
    n_before, _m, _s = _manifest_count(path)
    res = rewrite_manifests_iceberg(path)
    n_after, _m2, _s2 = _manifest_count(path)
    # 3 data manifests merge to 1; the delete manifest is untouched
    assert n_before == 4 and n_after == 2
    ch = iceberg_changelog(spark, path).collect()
    ch_before = {(r["k"], r["_change_type"]) for r in ch}
    # the replace snapshot contributes NO change rows
    assert not any(r["_snapshot_id"] == res["snapshot_id"] for r in ch)
    assert ch_before  # the real history is still there


def test_remove_orphans_refuses_an_unreadable_manifest(spark, tmp_path):
    """A live manifest the sweep cannot read would drop its data files
    out of the referenced set: the sweep raises, naming it, before it
    unlinks anything."""
    path = str(tmp_path / "t")
    _mk(spark, path, n_appends=2)
    data_dir = os.path.join(path, "data")
    before = sorted(os.listdir(data_dir))
    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    manifest = read_container(snap["manifest-list"])[1][0]["manifest_path"]
    with open(manifest, "r+b") as fh:
        fh.truncate(10)
    with pytest.raises(UnsupportedFormat, match="cannot read manifest"):
        remove_orphan_files_iceberg(path, older_than_hours=0)
    assert sorted(os.listdir(data_dir)) == before


def test_remove_orphans_never_touches_referenced_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path, n_appends=3)
    # plant orphans: an aborted staging file + a stale manifest
    orphan_data = os.path.join(path, "data", "aborted-write.parquet")
    with open(orphan_data, "wb") as fh:
        fh.write(b"not really parquet")
    orphan_meta = os.path.join(path, "metadata", "man-stale.avro")
    with open(orphan_meta, "wb") as fh:
        fh.write(b"stale")
    old = time.time() - 7 * 24 * 3600
    os.utime(orphan_data, (old, old))
    os.utime(orphan_meta, (old, old))
    # a RECENT orphan (in-flight writer) must survive the default guard
    recent = os.path.join(path, "data", "inflight.parquet")
    with open(recent, "wb") as fh:
        fh.write(b"staging")
    before = _rows(spark, path)
    res = remove_orphan_files_iceberg(path)  # default 72h guard
    assert res["files_deleted"] == 2
    assert not os.path.exists(orphan_data)
    assert not os.path.exists(orphan_meta)
    assert os.path.exists(recent)
    assert _rows(spark, path) == before
    # with the guard off the recent orphan goes too — and referenced
    # files STILL survive
    res2 = remove_orphan_files_iceberg(path, older_than_hours=0.0)
    assert res2["files_deleted"] == 1 and not os.path.exists(recent)
    assert _rows(spark, path) == before
    # expire then sweep: history files referenced by SURVIVING metadata
    # versions are kept (conservative), reads stay green
    expire_iceberg_snapshots(spark, path, retain_last=1)
    remove_orphan_files_iceberg(path, older_than_hours=0.0)
    assert _rows(spark, path) == before
    with pytest.raises(UnsupportedFormat):
        remove_orphan_files_iceberg(str(tmp_path / "nope"))


def test_metadata_table_functions_and_call_procedures(spark, tmp_path):
    """r10: the runtime's metadata tables (t.snapshots/files/
    manifests) as engine table functions, and the CALL procedure
    shape for the maintenance trio."""
    from pg_analytics_spark.engine import Engine

    path = str(tmp_path / "t")
    _mk(spark, path, n_appends=3)
    eng = Engine(spark=spark)
    eng.attach("t", [path], "iceberg")
    snaps = eng.sql(
        "SELECT sequence_number, operation FROM iceberg_snapshots('t') "
        "ORDER BY sequence_number"
    ).collect()
    assert [(r[0], r[1]) for r in snaps] == [
        (1, "overwrite"), (2, "append"), (3, "append")
    ]
    # files joins snapshots relationally; record counts are exact
    per_seq = eng.sql(
        "SELECT f.sequence_number, SUM(f.record_count) AS n "
        "FROM iceberg_files('t') f GROUP BY 1 ORDER BY 1"
    ).collect()
    assert [(r[0], r[1]) for r in per_seq] == [(1, 10), (2, 10), (3, 10)]
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM iceberg_manifests('t')"
    ).collect()[0]["n"] == 3
    # CALL procedures route to the native maintenance actions
    r = eng.sql("CALL system.rewrite_manifests('t')").collect()[0]
    assert r["manifests_before"] == 3 and r["manifests_after"] == 1
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM iceberg_manifests('t')"
    ).collect()[0]["n"] == 1
    orphan = os.path.join(path, "data", "aborted.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"junk")
    r2 = eng.sql("CALL remove_orphan_files('t', 0)").collect()[0]
    assert r2["files_deleted"] == 1 and not os.path.exists(orphan)
    r3 = eng.sql("CALL cat.system.expire_snapshots('t', 1)").collect()[0]
    assert r3["snapshots_expired"] == 3
    assert eng.sql("SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == 30
    # non-iceberg attachment is refused loudly
    import pytest as _pytest

    from pg_analytics_spark.dialect import UnsupportedDialect

    eng.attach("pq", f"{str(tmp_path / 't')}/data", "parquet")
    with _pytest.raises(UnsupportedDialect):
        eng.sql("SELECT * FROM iceberg_snapshots('pq')")


def test_snapshot_refs_tags_and_branches(spark, tmp_path):
    """r10: v2 `refs` — tags pin immutably, branches repoint, reads
    resolve VERSION AS OF '<name>' through the ref map; writes keep
    advancing main without touching refs."""
    from pg_analytics_spark.engine import Engine
    from pg_analytics_spark.errors import MissingDependency
    from pg_analytics_spark.sources.iceberg_write import (
        alter_iceberg_refs,
    )

    path = str(tmp_path / "t")
    _mk(spark, path, n_appends=2)  # k in 0..19
    r = alter_iceberg_refs(path, tag="v1")
    assert r["type"] == "tag"
    alter_iceberg_refs(path, branch="dev")
    write_iceberg(
        spark.createDataFrame([(100, 200)], "k long, v long"),
        path,
        mode="append",
    )
    # refs stay pinned while main advanced
    assert _rows(spark, path) == {(k, 2 * k) for k in range(20)} | {
        (100, 200)
    }
    assert (
        _rows(spark, path, ref="v1")
        == _rows(spark, path, ref="dev")
        == {(k, 2 * k) for k in range(20)}
    )
    # branch repoints; tag refuses
    alter_iceberg_refs(path, branch="dev")  # now at the new head
    assert _rows(spark, path, ref="dev") == _rows(spark, path)
    with pytest.raises(UnsupportedFormat, match="immutable"):
        alter_iceberg_refs(path, tag="v1")
    with pytest.raises(UnsupportedFormat, match="reserved"):
        alter_iceberg_refs(path, tag="main")
    with pytest.raises(MissingDependency, match="not found"):
        _rows(spark, path, ref="nope")
    # SQL surface
    eng = Engine(spark=spark)
    eng.attach("t", [path], "iceberg")
    row = eng.sql("ALTER TABLE t CREATE TAG audit").collect()[0]
    assert row["type"] == "tag"
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM t VERSION AS OF 'v1'"
    ).collect()[0]["n"] == 20
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM t VERSION AS OF 'audit'"
    ).collect()[0]["n"] == 21
    eng.sql("ALTER TABLE t DROP TAG audit")
    with pytest.raises(UnsupportedFormat, match="does not exist"):
        alter_iceberg_refs(path, drop="audit")
    # r11: refs are retention ROOTS — expire keeps every ref'd
    # snapshot, so the pinned corpus stays readable after the trim
    expire_iceberg_snapshots(spark, path, retain_last=1)
    assert _rows(spark, path, ref="v1") == {(k, 2 * k) for k in range(20)}
    assert _rows(spark, path, ref="dev") == _rows(spark, path)
    # dropping the tag releases the pin: the next expire reclaims it
    alter_iceberg_refs(path, drop="v1")
    expire_iceberg_snapshots(spark, path, retain_last=1)
    with pytest.raises(MissingDependency, match="not found"):
        _rows(spark, path, ref="v1")


def test_snapshot_delta_to_iceberg_zero_copy(spark, tmp_path):
    """r10: zero-copy Delta→Iceberg migration — the minted table reads
    identically, NO data file is copied, subsequent Iceberg DML works
    on the migrated table, and the hazards (partitioned/mapped/DV
    sources) refuse loudly."""
    from pyspark.sql import functions as F

    from pg_analytics_spark.sources.delta_write import (
        alter_delta,
        delete_delta,
        write_delta,
    )
    from pg_analytics_spark.sources.iceberg_write import (
        snapshot_delta_to_iceberg,
    )

    src = str(tmp_path / "src")
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_delta(df, src, mode="overwrite")
    write_delta(
        spark.range(20, 25).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        src,
        mode="append",
    )
    dst = str(tmp_path / "ice")
    r = snapshot_delta_to_iceberg(spark, src, dst)
    assert r["rows"] == 25 and r["files"] >= 2
    expect = {(k, 2 * k) for k in range(25)}
    assert _rows(spark, dst) == expect
    # zero-copy: no parquet under the target
    assert not any(
        n.endswith(".parquet")
        for _r, _d, ns in os.walk(os.path.join(dst))
        for n in ns
        if "metadata" not in _r
    )
    # Iceberg DML works on the migrated table (eq upsert, O(keys))
    upsert_iceberg_eq(
        spark,
        dst,
        spark.createDataFrame([(3, -1), (99, -2)], "k long, v long"),
        ["k"],
    )
    assert _rows(spark, dst) == (expect - {(3, 6)}) | {(3, -1), (99, -2)}
    # source unchanged and still independent
    from pg_analytics_spark.sources import load_source

    assert load_source(spark, src, "delta").count() == 25
    delete_delta(spark, src, "k < 5")
    assert (3, -1) in _rows(spark, dst)  # target unaffected

    # r11: PARTITIONED Delta sources migrate zero-copy — partition
    # values project from the manifest tuples (see
    # tests/test_iceberg_adoption.py for the full battery)
    part = str(tmp_path / "part")
    write_delta(
        df.withColumn("p", (F.col("k") % 2).cast("string")),
        part,
        mode="overwrite",
        partition_by="p",
    )
    snapshot_delta_to_iceberg(spark, part, str(tmp_path / "x1"))
    got = {
        (r["k"], r["v"], r["p"])
        for r in load_source(spark, str(tmp_path / "x1"), "iceberg").collect()
    }
    assert got == {(k, 2 * k, str(k % 2)) for k in range(20)}
    mapped = str(tmp_path / "mapped")
    write_delta(df, mapped, mode="overwrite")
    alter_delta(mapped, rename=("v", "val"))
    with pytest.raises(UnsupportedFormat, match="column-mapped"):
        snapshot_delta_to_iceberg(spark, mapped, str(tmp_path / "x2"))
    dv = str(tmp_path / "dv")
    write_delta(df, dv, mode="overwrite")
    delete_delta(spark, dv, "k < 3", dv=True)
    with pytest.raises(UnsupportedFormat, match="deletion"):
        snapshot_delta_to_iceberg(spark, dv, str(tmp_path / "x3"))
    with pytest.raises(UnsupportedFormat, match="already exists"):
        snapshot_delta_to_iceberg(spark, src, dst)


def test_wap_branch_write_audit_publish(spark, tmp_path):
    """r10 continuation: the Write-Audit-Publish pattern — branch
    writes advance refs[branch] while plain readers keep seeing main;
    fast_forward publishes atomically; guards refuse tag targets,
    'main', and branch writes on a nonexistent table."""
    from pg_analytics_spark.sources.iceberg_write import (
        alter_iceberg_refs,
        fast_forward_iceberg,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _mk(spark, path, n_appends=2)  # main: k in 0..19
    main_rows = {(k, 2 * k) for k in range(20)}
    # two staged (unpublished) commits on the branch
    write_iceberg(
        spark.createDataFrame([(100, 1)], "k long, v long"),
        path,
        mode="append",
        branch="audit",
    )
    write_iceberg(
        spark.createDataFrame([(101, 2)], "k long, v long"),
        path,
        mode="append",
        branch="audit",
    )
    # plain readers still see main; the branch sees both staged commits
    assert _rows(spark, path) == main_rows
    staged = main_rows | {(100, 1), (101, 2)}
    assert _rows(spark, path, ref="audit") == staged
    # r11: an expire during the audit window keeps the staged branch —
    # refs are retention roots (branch head + retain_last ancestors)
    expire_iceberg_snapshots(spark, path, retain_last=1)
    assert _rows(spark, path, ref="audit") == staged
    assert _rows(spark, path) == main_rows
    # publish: plain readers atomically see the audited state
    fast_forward_iceberg(path, "audit")
    assert _rows(spark, path) == staged
    # a branch that has DIVERGED from main refuses to publish (the
    # publish would drop main's commits)
    write_iceberg(
        spark.createDataFrame([(300, 9)], "k long, v long"),
        path,
        mode="append",
        branch="stale",
    )
    write_iceberg(
        spark.createDataFrame([(200, 3)], "k long, v long"),
        path,
        mode="append",  # main advances past the stale branch's base
    )
    with pytest.raises(UnsupportedFormat, match="diverged"):
        fast_forward_iceberg(path, "stale")
    assert _rows(spark, path) == staged | {(200, 3)}
    # guards
    alter_iceberg_refs(path, tag="pin")
    with pytest.raises(UnsupportedFormat, match="TAG"):
        write_iceberg(
            spark.createDataFrame([(1, 1)], "k long, v long"),
            path,
            mode="append",
            branch="pin",
        )
    with pytest.raises(UnsupportedFormat, match="reserved"):
        write_iceberg(
            spark.createDataFrame([(1, 1)], "k long, v long"),
            path,
            mode="append",
            branch="main",
        )
    with pytest.raises(UnsupportedFormat, match="existing table"):
        write_iceberg(
            spark.createDataFrame([(1, 1)], "k long, v long"),
            str(tmp_path / "fresh"),
            mode="append",
            branch="dev",
        )
    with pytest.raises(UnsupportedFormat, match="not a branch"):
        fast_forward_iceberg(path, "pin")


def test_rewrite_data_files_binpacks_and_preserves_reads(spark, tmp_path):
    """r11: bin-pack compaction — N small appended files collapse per
    the size target, values identical, time travel to pre-compaction
    snapshots intact, refs untouched."""
    from pg_analytics_spark.sources.iceberg_write import (
        alter_iceberg_refs,
        rewrite_data_files_iceberg,
    )

    path = str(tmp_path / "t")
    for i in range(6):  # 6 tiny single-file commits
        write_iceberg(
            spark.createDataFrame(
                [(i * 10 + j, i) for j in range(5)], "k long, v long"
            ).coalesce(1),
            path,
            mode="overwrite" if i == 0 else "append",
        )
    expect = {(i * 10 + j, i) for i in range(6) for j in range(5)}
    assert _rows(spark, path) == expect
    meta_pre = _latest_metadata(os.path.join(path, "metadata"))[1]
    pre_snap = max(
        meta_pre["snapshots"], key=lambda s: s["sequence-number"]
    )
    alter_iceberg_refs(path, tag="pre_pack")
    r = rewrite_data_files_iceberg(spark, path)
    assert r["files_rewritten"] == 6 and r["files_added"] == 1
    assert _rows(spark, path) == expect
    # file count really dropped
    meta = _latest_metadata(os.path.join(path, "metadata"))[1]
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _s, mf = read_container(cur["manifest-list"])
    n_files = 0
    for m in mf:
        _s2, es = read_container(m["manifest_path"])
        n_files += sum(1 for e in es if e.get("status", 0) != 2)
    assert n_files == 1
    # time travel to the pre-pack snapshot (via its tag) still reads
    assert _rows(spark, path, ref="pre_pack") == expect
    assert (
        _rows(spark, path, snapshot_id=pre_snap["snapshot-id"]) == expect
    )
    # operation is replace → changelog skips it
    assert cur["summary"]["operation"] == "replace"
    # second run: nothing left to pack
    r2 = rewrite_data_files_iceberg(spark, path)
    assert r2["snapshot_id"] is None and r2["files_rewritten"] == 0


def test_rewrite_data_files_eq_delete_visibility(spark, tmp_path):
    """Equality deletes apply DURING the rewrite scan; untouched files
    keep their original sequences so existing deletes still bind."""
    from pg_analytics_spark.sources.iceberg_write import (
        rewrite_data_files_iceberg,
        upsert_iceberg_eq,
        write_iceberg,
    )

    path = str(tmp_path / "t")
    for i in range(4):
        write_iceberg(
            spark.createDataFrame(
                [(i * 10 + j, i) for j in range(5)], "k long, v long"
            ).coalesce(1),
            path,
            mode="overwrite" if i == 0 else "append",
        )
    # CDC-style row-delta: eq-delete k, re-add with v=-1
    upsert_iceberg_eq(
        spark,
        path,
        spark.createDataFrame([(10, -1), (31, -1)], "k long, v long"),
        ["k"],
    )
    expect = {
        (i * 10 + j, i)
        for i in range(4)
        for j in range(5)
        if (i * 10 + j) not in (10, 31)
    } | {(10, -1), (31, -1)}
    assert _rows(spark, path) == expect
    r = rewrite_data_files_iceberg(spark, path)
    assert r["files_rewritten"] >= 4
    assert _rows(spark, path) == expect
    # a FRESH eq-upsert after the pack still applies (new data seq)
    upsert_iceberg_eq(
        spark,
        path,
        spark.createDataFrame([(10, -2)], "k long, v long"),
        ["k"],
    )
    assert _rows(spark, path) == (expect - {(10, -1)}) | {(10, -2)}


def test_rewrite_data_files_partitioned_and_target_size(spark, tmp_path):
    """Bins never cross partition tuples, and files at/over the target
    size are left alone."""
    from pg_analytics_spark.sources.iceberg_write import (
        rewrite_data_files_iceberg,
        write_iceberg,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    for i in range(4):
        df = spark.createDataFrame(
            [(i * 10 + j, (i * 10 + j) % 2) for j in range(5)],
            "k long, p long",
        ).coalesce(1)
        write_iceberg(
            df,
            path,
            mode="overwrite" if i == 0 else "append",
            partition_by=["p"],
        )
    expect = {(i * 10 + j, (i * 10 + j) % 2) for i in range(4) for j in range(5)}

    def _kp(**opts):
        return {
            (r["k"], r["p"])
            for r in load_source(spark, path, "iceberg", opts or None).collect()
        }

    assert _kp() == expect
    r = rewrite_data_files_iceberg(spark, path)
    # 8 small files (4 commits × 2 partitions) → 2 (one per partition)
    assert r["files_rewritten"] == 8 and r["files_added"] == 2
    assert _kp() == expect
    # partition pruning still works off the carried tuples
    pruned = load_source(
        spark, path, "iceberg", {"partition_filter": [["p", "=", 1]]}
    )
    assert {x["k"] for x in pruned.collect()} == {
        k for k, p in expect if p == 1
    }
    assert len([f for f in pruned.inputFiles() if f.endswith(".parquet")]) == 1
    # huge target leaves nothing to do; tiny target packs nothing
    r2 = rewrite_data_files_iceberg(spark, path, target_file_size_bytes=10)
    assert r2["snapshot_id"] is None


def test_expire_ref_level_retention(spark, tmp_path):
    """Spec §refs retention fields: max-ref-age-ms ages a ref out of
    the map (it stops pinning); a branch's ancestry keeps
    min-snapshots-to-keep and releases ancestors past
    max-snapshot-age-ms; absent fields keep the safe default (whole
    ref-exclusive ancestry)."""
    import time

    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.iceberg import _latest_metadata_file
    from pg_analytics_spark.sources.iceberg_write import (
        alter_iceberg_refs,
        expire_iceberg_snapshots,
        write_iceberg,
    )

    path = str(tmp_path / "t")

    def mk(a, b):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(a, b)], "id bigint, v double"
        )

    r0 = write_iceberg(mk(0, 5), path, mode="overwrite")
    write_iceberg(mk(5, 8), path, mode="append")
    write_iceberg(mk(8, 10), path, mode="append")
    # an aged-out tag releases its snapshot; a fresh one pins it
    alter_iceberg_refs(
        path, tag="old", snapshot_id=r0["snapshot_id"], max_ref_age_ms=1
    )
    alter_iceberg_refs(
        path,
        tag="fresh",
        snapshot_id=r0["snapshot_id"],
        max_ref_age_ms=3_600_000,
    )
    time.sleep(0.01)
    expire_iceberg_snapshots(spark, path, retain_last=1)
    import json as _json

    meta = _json.load(open(_latest_metadata_file(path)))
    assert "old" not in (meta.get("refs") or {})
    assert "fresh" in meta["refs"]
    # the fresh tag still reads
    assert (
        load_source(
            spark, path, "iceberg", {"ref": "fresh"}
        ).count()
        == 5
    )
    # drop the fresh tag; a second expire reclaims the snapshot
    alter_iceberg_refs(path, drop="fresh")
    expire_iceberg_snapshots(spark, path, retain_last=1)
    meta = _json.load(open(_latest_metadata_file(path)))
    assert len(meta["snapshots"]) == 1


def test_expire_branch_ancestry_bounds(spark, tmp_path):
    """min-snapshots-to-keep / max-snapshot-age-ms bound how much of a
    branch's REF-EXCLUSIVE ancestry (the WAP audit window) the ref
    pins; shared main ancestry stays governed by the table policy.
    Absent fields keep the whole exclusive chain (the safe default)."""
    import json as _json
    import time

    from pg_analytics_spark.sources.iceberg import _latest_metadata_file
    from pg_analytics_spark.sources.iceberg_write import (
        alter_iceberg_refs,
        expire_iceberg_snapshots,
        write_iceberg,
    )

    def mk(a, b):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(a, b)], "id bigint, v double"
        )

    def staged(path, bounds):
        # main base + THREE branch-staged commits (exclusive ancestry)
        write_iceberg(mk(0, 3), path, mode="overwrite")
        for lo in (3, 5, 7):
            write_iceberg(
                mk(lo, lo + 2), path, mode="append", branch="audit"
            )
        if bounds:
            # re-point the ref with retention fields (branch repoint
            # keeps the head; fields ride the refs entry)
            meta = _json.load(open(_latest_metadata_file(path)))
            head = meta["refs"]["audit"]["snapshot-id"]
            alter_iceberg_refs(
                path, branch="audit", snapshot_id=head, **bounds
            )
        time.sleep(0.01)
        expire_iceberg_snapshots(spark, path, retain_last=1)
        return _json.load(open(_latest_metadata_file(path)))

    # default: the whole exclusive chain survives (3 staged + main)
    meta = staged(str(tmp_path / "t0"), None)
    assert len(meta["snapshots"]) == 4
    # bounded: keep 2 of the staged chain once ages pass
    meta = staged(
        str(tmp_path / "t1"),
        {"min_snapshots_to_keep": 2, "max_snapshot_age_ms": 1},
    )
    assert len(meta["snapshots"]) == 3  # main head + 2 staged
    assert "audit" in meta["refs"]


def test_iceberg_refs_metadata_table(spark, tmp_path):
    """iceberg_refs('t') — the runtime's t.refs relation: named refs
    with their retention fields (NULL where unset), main synthesized
    from current-snapshot-id; reachable from engine SQL."""
    from pg_analytics_spark.engine import Engine
    from pg_analytics_spark.sources.iceberg_write import (
        alter_iceberg_refs,
        write_iceberg,
    )

    path = str(tmp_path / "t")
    write_iceberg(
        spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
        path,
        mode="overwrite",
    )
    alter_iceberg_refs(path, tag="trained_v1", max_ref_age_ms=3_600_000)
    alter_iceberg_refs(
        path, branch="audit", min_snapshots_to_keep=2,
        max_snapshot_age_ms=86_400_000,
    )
    eng = Engine(spark=spark)
    eng.attach("reft", [path], "iceberg")
    rows = {
        r["name"]: r
        for r in eng.sql(
            "SELECT * FROM iceberg_refs('reft') ORDER BY name"
        ).collect()
    }
    assert set(rows) == {"main", "audit", "trained_v1"}
    assert rows["trained_v1"]["type"] == "tag"
    assert rows["trained_v1"]["max_reference_age_in_ms"] == 3_600_000
    assert rows["audit"]["min_snapshots_to_keep"] == 2
    assert rows["audit"]["max_snapshot_age_in_ms"] == 86_400_000
    assert rows["main"]["snapshot_id"] == rows["audit"]["snapshot_id"]
    assert rows["main"]["max_reference_age_in_ms"] is None


def _live_data_files(path):
    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _s, mf = read_container(cur["manifest-list"])
    files = []
    for m in mf:
        if m.get("content", 0) == 1:
            continue
        _s2, es = read_container(m["manifest_path"])
        files.extend(
            e["data_file"]["file_path"]
            for e in es
            if e.get("status", 0) != 2
            and e["data_file"].get("content", 0) == 0
        )
    return sorted(files)


def _col_ranges(files, col):
    import pyarrow.parquet as pq

    out = []
    for f in files:
        t = pq.read_table(f, columns=[col])[col]
        import pyarrow.compute as pc

        out.append((pc.min(t).as_py(), pc.max(t).as_py()))
    return out


def test_rewrite_sort_strategy_clusters_and_preserves_reads(
    spark, tmp_path
):
    """r13: strategy='sort' rewrites every group clustered on the sort
    column — values identical (deletes applied during the rewrite),
    output files range-DISJOINT on the sort column, partition tuples
    preserved per group."""
    from pg_analytics_spark.sources.iceberg_write import (
        rewrite_data_files_iceberg,
    )

    path = str(tmp_path / "t")
    # 4 interleaved single-file commits: k mod 4 stripes, so every
    # file spans nearly the whole k range (worst case for skipping)
    for i in range(4):
        df = spark.createDataFrame(
            [(j, j * 2) for j in range(i, 80, 4)], "k long, v long"
        )
        write_iceberg(
            df.coalesce(1), path, mode="overwrite" if i == 0 else "append"
        )
    # an equality delete must stay applied through the rewrite
    equality_delete_iceberg(
        spark,
        path,
        spark.createDataFrame([(7,), (33,)], "k long"),
        ["k"],
    )
    expect = {(j, j * 2) for j in range(80) if j not in (7, 33)}
    assert _rows(spark, path) == expect
    total = sum(os.path.getsize(f) for f in _live_data_files(path))
    r = rewrite_data_files_iceberg(
        spark,
        path,
        strategy="sort",
        sort_order=["k"],
        target_file_size_bytes=max(1, total // 3),
    )
    assert r["files_rewritten"] == 4 and r["files_added"] >= 2
    assert _rows(spark, path) == expect
    files = _live_data_files(path)
    assert len(files) == r["files_added"]
    ranges = sorted(_col_ranges(files, "k"))
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"sorted rewrite overlaps: {ranges}"


def test_rewrite_sort_partitioned_groups_stay_pure(spark, tmp_path):
    """Each partition group rewrites separately; partition tuples are
    preserved and partition pruning still works after the rewrite."""
    from pg_analytics_spark.sources.iceberg_write import (
        rewrite_data_files_iceberg,
    )

    path = str(tmp_path / "t")
    for i in range(3):  # 3 commits, 2 partitions each → 6 files
        df = spark.createDataFrame(
            [(j, j % 2, j * 10) for j in range(i * 20, (i + 1) * 20)],
            "k long, p long, v long",
        )
        write_iceberg(
            df.repartition(2, "p"),
            path,
            mode="overwrite" if i == 0 else "append",
            partition_by=["p"],
        )
    expect = {(j, j % 2, j * 10) for j in range(60)}
    got = {
        (r["k"], r["p"], r["v"])
        for r in load_source(spark, path, "iceberg").collect()
    }
    assert got == expect
    r = rewrite_data_files_iceberg(
        spark, path, strategy="sort", sort_order=["k"]
    )
    assert r["files_rewritten"] == 6 and r["files_added"] == 2
    got = {
        (r2["k"], r2["p"], r2["v"])
        for r2 in load_source(spark, path, "iceberg").collect()
    }
    assert got == expect
    # partition pruning still prunes: scan one partition, count files
    pruned = load_source(
        spark, path, "iceberg", {"partition_filter": [["p", "=", 0]]}
    )
    assert {r3["p"] for r3 in pruned.select("p").distinct().collect()} == {
        0
    }


def test_rewrite_zorder_strategy_tightens_bounds(spark, tmp_path):
    """strategy='zorder': after the rewrite a small box query on the
    two clustered columns overlaps FEWER files' min/max envelopes than
    before (the file-skipping payoff), and values are identical."""
    from pg_analytics_spark.sources.iceberg_write import (
        rewrite_data_files_iceberg,
    )

    path = str(tmp_path / "t")
    # 4 files, each spanning the FULL (x, y) grid — zero skipping
    rows = [(i, (i * 37) % 100, (i * 61) % 100) for i in range(400)]
    for f in range(4):
        df = spark.createDataFrame(
            rows[f::4], "id long, x long, y long"
        )
        write_iceberg(
            df.coalesce(1), path, mode="overwrite" if f == 0 else "append"
        )

    def _box_overlap_count():
        files = _live_data_files(path)
        n = 0
        for (xlo, xhi), (ylo, yhi) in zip(
            _col_ranges(files, "x"), _col_ranges(files, "y")
        ):
            if xlo <= 20 and xhi >= 0 and ylo <= 20 and yhi >= 0:
                n += 1
        return n, len(files)

    pre_hit, pre_total = _box_overlap_count()
    assert pre_hit == pre_total == 4  # every file overlaps the box
    total = sum(os.path.getsize(f) for f in _live_data_files(path))
    r = rewrite_data_files_iceberg(
        spark,
        path,
        strategy="zorder",
        zorder_by=["x", "y"],
        target_file_size_bytes=max(1, total // 4),
    )
    assert r["files_rewritten"] == 4 and r["files_added"] >= 3
    post_hit, post_total = _box_overlap_count()
    assert post_hit < post_total, (post_hit, post_total)
    got = {
        (r2["id"], r2["x"], r2["y"])
        for r2 in load_source(spark, path, "iceberg").collect()
    }
    assert got == {(i, (i * 37) % 100, (i * 61) % 100) for i in range(400)}


def test_rewrite_strategy_validation(spark, tmp_path):
    from pg_analytics_spark.sources.iceberg_write import (
        rewrite_data_files_iceberg,
    )

    path = str(tmp_path / "t")
    _mk(spark, path, n_appends=2)
    with pytest.raises(ValueError, match="unknown strategy"):
        rewrite_data_files_iceberg(spark, path, strategy="shuffle")
    with pytest.raises(ValueError, match="sort_order"):
        rewrite_data_files_iceberg(spark, path, strategy="sort")
    with pytest.raises(ValueError, match="zorder_by"):
        rewrite_data_files_iceberg(spark, path, strategy="zorder")
    with pytest.raises(ValueError, match="not .* the current schema"):
        rewrite_data_files_iceberg(
            spark, path, strategy="sort", sort_order=["nope"]
        )
