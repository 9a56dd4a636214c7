"""Delta Change Data Feed: writer-side cdc files on UPDATE/DELETE,
read-side synthesis for inserts/truncates/overwrites, loud refusals
(sources/delta_write._stage_cdc_files, sources/delta_cdf.py)."""

from __future__ import annotations

import glob
import json
import os

import pytest

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources import load_source
from pg_analytics_spark.sources.delta_cdf import read_table_changes
from pg_analytics_spark.sources.delta_write import (
    alter_delta,
    alter_delta_properties,
    delete_delta,
    update_delta,
    write_delta,
)

CDF = {"delta.enableChangeDataFeed": "true"}


def _mk(spark, path, **kw):
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_delta(df, path, mode="overwrite", **kw)
    return df


def _counts(ch):
    from pyspark.sql import functions as F

    return {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def test_update_delete_write_cdc_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path, configuration=CDF)
    res = update_delta(spark, path, {"v": "v + 100"}, "k < 3")
    assert res.get("cdc_files", 0) >= 1
    delete_delta(spark, path, "k >= 8")
    assert glob.glob(path + "/_change_data/cdc-*.parquet")
    ch = read_table_changes(spark, path, 1, 2)
    assert _counts(ch) == {
        "update_preimage": 3,
        "update_postimage": 3,
        "delete": 2,
    }
    pre = {
        r["k"]: r["v"]
        for r in ch.filter("_change_type='update_preimage'").collect()
    }
    post = {
        r["k"]: r["v"]
        for r in ch.filter("_change_type='update_postimage'").collect()
    }
    assert pre == {0: 0, 1: 2, 2: 4} and post == {0: 100, 1: 102, 2: 104}
    # cdc actions are dataChange=false and never enter the snapshot
    assert load_source(spark, path, "delta").count() == 8


def test_insert_and_overwrite_synthesize(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _mk(spark, path, configuration=CDF)
    write_delta(
        spark.range(10, 12).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        ),
        path,
        mode="append",
    )
    write_delta(
        spark.range(3).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        ),
        path,
        mode="overwrite",
    )
    ch = read_table_changes(spark, path, 1, 2)
    by_v = {
        (r["_commit_version"], r["_change_type"])
        for r in ch.select("_commit_version", "_change_type").collect()
    }
    assert (1, "insert") in by_v
    assert (2, "insert") in by_v and (2, "delete") in by_v
    c = _counts(ch)
    assert c["delete"] == 12 and c["insert"] == 2 + 3


def test_dv_dml_also_writes_cdc(spark, tmp_path):
    """Deletion vectors + CDF compose: MoR DML must still emit exact
    row-level cdc."""
    path = str(tmp_path / "t")
    _mk(
        spark,
        path,
        configuration={**CDF, "delta.enableDeletionVectors": "true"},
    )
    delete_delta(spark, path, "k % 3 = 0")
    update_delta(spark, path, {"v": "v * 10"}, "k = 1")
    ch = read_table_changes(spark, path, 1, 2)
    c = _counts(ch)
    assert c == {
        "delete": 4,
        "update_preimage": 1,
        "update_postimage": 1,
    }
    post = ch.filter("_change_type='update_postimage'").collect()[0]
    assert post["v"] == 20


def test_partitioned_cdf(spark, tmp_path):
    """Change rows carry their partition values, a NULL key included."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.range(12).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 < 2, (F.col("id") % 3).cast("string")).alias(
            "p"
        ),
    )
    write_delta(
        df, path, mode="overwrite", partition_by="p", configuration=CDF
    )
    delete_delta(spark, path, "k >= 9")
    ch = read_table_changes(spark, path, 1, 1)
    got = {(r["k"], r["p"]) for r in ch.collect()}
    assert got == {(9, "0"), (10, "1"), (11, None)}


def test_partitioned_truncate_and_overwrite_cdf(spark, tmp_path):
    """r9 ADVICE: truncate/overwrite removes carry no partitionValues
    and the staged files lack partition columns, so synthesized
    delete rows showed NULL partition values — they must be recovered
    from the hive directories in the remove path."""
    from pyspark.sql import functions as F

    def mk(n):
        return spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"),
        )

    path = str(tmp_path / "t")
    write_delta(
        mk(6), path, mode="overwrite", partition_by="p", configuration=CDF
    )
    delete_delta(spark, path, None)  # v1: truncate
    write_delta(
        mk(3), path, mode="append", partition_by="p", configuration=CDF
    )  # v2
    write_delta(
        mk(2), path, mode="overwrite", partition_by="p", configuration=CDF
    )  # v3: overwrite = delete-all + insert
    ch = read_table_changes(spark, path, 1, 3)
    assert ch.filter("p IS NULL").count() == 0
    trunc = {
        (r["k"], r["p"])
        for r in ch.filter("_commit_version = 1").collect()
    }
    assert trunc == {
        (k, str(k % 3)) for k in range(6)
    }
    over = {
        (r["_change_type"], r["k"], r["p"])
        for r in ch.filter("_commit_version = 3").collect()
    }
    assert over == {("delete", k, str(k % 3)) for k in range(3)} | {
        ("insert", k, str(k % 3)) for k in range(2)
    }


def test_cdf_survives_rename(spark, tmp_path):
    """ALTER RENAME upgrades to column mapping; cdc files written
    before AND after must both resolve to the current names."""
    path = str(tmp_path / "t")
    _mk(spark, path, configuration=CDF)
    update_delta(spark, path, {"v": "v + 1"}, "k = 0")  # v1, pre-rename
    alter_delta(path, rename=("v", "val"))  # v2
    update_delta(spark, path, {"val": "val + 1"}, "k = 0")  # v3
    ch = read_table_changes(spark, path, 1, 3)
    assert "val" in ch.columns and "v" not in ch.columns
    posts = {
        r["_commit_version"]: r["val"]
        for r in ch.filter("_change_type='update_postimage'").collect()
    }
    assert posts == {1: 1, 3: 2}


def test_refusals(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _mk(spark, path)  # CDF off
    with pytest.raises(UnsupportedFormat):
        read_table_changes(spark, path, 0)
    # DML while CDF off, then enabled: the off-era commit is refused
    update_delta(spark, path, {"v": "v + 1"}, "k = 0")  # v1, no cdc
    alter_delta_properties(path, CDF)  # v2
    with pytest.raises(UnsupportedFormat):
        read_table_changes(spark, path, 1, 1).collect()
    # but the enabled-era range works
    delete_delta(spark, path, "k = 5")  # v3
    assert _counts(read_table_changes(spark, path, 3, 3)) == {"delete": 1}
    with pytest.raises(UnsupportedFormat):
        read_table_changes(spark, path, 5, 99)  # bad range


def test_cdf_protocol_bump_on_enable(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    alter_delta_properties(path, CDF)
    log = os.path.join(path, "_delta_log", f"{1:020d}.json")
    actions = [json.loads(line) for line in open(log)]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minWriterVersion"] >= 4


def test_engine_table_changes_sql(spark, tmp_path):
    from pg_analytics_spark.engine import Engine

    path = str(tmp_path / "t")
    _mk(spark, path, configuration=CDF)
    eng = Engine(spark=spark)
    eng.attach("t", [path], "delta")
    eng.sql("UPDATE t SET v = v + 5 WHERE k = 2")
    rows = eng.sql(
        "SELECT _change_type, k, v FROM table_changes('t', 1) "
        "ORDER BY _change_type"
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("update_postimage", 2, 9),
        ("update_preimage", 2, 4),
    ]


def test_merge_writes_exact_cdc(spark, tmp_path):
    """MERGE on a CDF table emits per-clause change images: update
    pre/post pairs, delete images, insert images — and unclaimed
    carried-through rows produce NO change row."""
    from pyspark.sql import functions as F

    from pg_analytics_spark.engine import Engine

    path = str(tmp_path / "t")
    _mk(spark, path, configuration=CDF)  # k 0..9, v = 2k
    eng = Engine(spark=spark)
    eng.attach("t", [path], "delta")
    spark.range(8, 14).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("nv")
    ).createOrReplaceTempView("src")
    eng.sql(
        "MERGE INTO t USING src s ON t.k = s.k "
        "WHEN MATCHED AND s.k = 9 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.nv "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)"
    )
    ch = read_table_changes(spark, path, 1, 1)
    c = _counts(ch)
    assert c == {
        "update_preimage": 1,   # k=8
        "update_postimage": 1,
        "delete": 1,            # k=9
        "insert": 4,            # k=10..13
    }, c
    post = {
        r["k"]: r["v"]
        for r in ch.filter("_change_type='update_postimage'").collect()
    }
    assert post == {8: 800}
    ins = {
        r["k"]: r["v"]
        for r in ch.filter("_change_type='insert'").collect()
    }
    assert ins == {10: 1000, 11: 1100, 12: 1200, 13: 1300}
    # snapshot agrees with the feed
    snap = {r["k"]: r["v"] for r in load_source(spark, path, "delta").collect()}
    assert snap[8] == 800 and 9 not in snap and snap[13] == 1300


def test_table_changes_timestamp_bounds(spark, tmp_path):
    """r10: either bound may be an ISO timestamp string — start
    resolves to the earliest commit at-or-after, end to the latest
    at-or-before (delta-spark's startingTimestamp/endingTimestamp)."""
    import datetime as dt

    from pg_analytics_spark.engine import Engine

    path = str(tmp_path / "t")
    _mk(spark, path, configuration=CDF)  # v0
    update_delta(spark, path, {"v": "v + 100"}, "k < 3")  # v1
    delete_delta(spark, path, "k >= 8")  # v2
    # commit timestamps (publication-stamped) bracket the range
    from pg_analytics_spark.sources.delta import _commit_info

    log = path + "/_delta_log"
    t1 = _commit_info(log, 1)[0]
    t2 = _commit_info(log, 2)[0]
    iso = lambda ms: dt.datetime.fromtimestamp(ms / 1000).isoformat()
    by_version = _counts(read_table_changes(spark, path, 1, 2))
    got = _counts(
        read_table_changes(spark, path, iso(t1 - 1), iso(t2 + 1))
    )
    assert got == by_version
    only_v1 = _counts(
        read_table_changes(spark, path, iso(t1 - 1), iso(t2 - 1))
    ) if t2 > t1 else None
    if only_v1 is not None:
        assert only_v1 == _counts(read_table_changes(spark, path, 1, 1))
    with pytest.raises(UnsupportedFormat, match="at or after"):
        read_table_changes(spark, path, iso(t2 + 60_000))
    # SQL surface takes quoted bounds
    eng = Engine(spark=spark)
    eng.attach("t", [path], "delta")
    n = eng.sql(
        f"SELECT COUNT(*) AS n FROM table_changes('t', '{iso(t1 - 1)}', "
        f"'{iso(t2 + 1)}')"
    ).collect()[0]["n"]
    assert n == sum(by_version.values())
