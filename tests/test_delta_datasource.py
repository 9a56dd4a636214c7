"""The delta_native Python DataSource: batch + streaming reads of the
native Delta writer's tables through Spark 4's DataSource API — no
JVM extension, worker-side read is pyarrow-only.

Streaming semantics mirror delta-spark's streaming source: initial
snapshot first, then O(new commits) per trigger; DML commits refuse
without ignoreDeletes/ignoreChanges.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pg_analytics_spark.sources import load_source
from pg_analytics_spark.sources.delta_write import (
    delete_delta,
    update_delta,
    write_delta,
)


@pytest.fixture()
def ds(spark):
    from pg_analytics_spark.sources.delta_datasource import (
        register_native_datasources,
    )

    register_native_datasources(spark)
    return spark


def _mk(spark, a, b):
    return spark.createDataFrame(
        [(i, float(i)) for i in range(a, b)], "id bigint, v double"
    )


def test_batch_scan_matches_replay_reader(ds, tmp_path):
    d = str(tmp_path / "t")
    df = ds.createDataFrame(
        [(i, "a b" if i % 2 else "z", float(i)) for i in range(20)],
        "id bigint, p string, v double",
    )
    write_delta(df, d, mode="overwrite", partition_by="p")
    out = ds.read.format("delta_native").option("path", d).load()
    ref = load_source(ds, d, "delta")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ref.select(*out.columns).collect())
    )
    assert [f.dataType for f in out.schema] == [
        f.dataType for f in ref.select(*out.columns).schema
    ]


def test_batch_partition_filter_prunes_and_matches(ds, tmp_path):
    d = str(tmp_path / "t")
    df = ds.createDataFrame(
        [(i, f"g{i % 4}", float(i)) for i in range(40)],
        "id bigint, p string, v double",
    )
    write_delta(df, d, mode="overwrite", partition_by="p")
    out = (
        ds.read.format("delta_native")
        .option("path", d)
        .load()
        .filter(F.col("p") == "g1")
    )
    got = sorted(r["id"] for r in out.collect())
    assert got == [i for i in range(40) if i % 4 == 1]


def test_batch_reads_dv_and_version_as_of(ds, tmp_path):
    d = str(tmp_path / "t")
    write_delta(_mk(ds, 0, 20), d, mode="overwrite")
    delete_delta(ds, d, "id < 5", dv=True)  # merge-on-read
    out = ds.read.format("delta_native").option("path", d).load()
    assert sorted(r["id"] for r in out.collect()) == list(range(5, 20))
    v0 = (
        ds.read.format("delta_native")
        .option("path", d)
        .option("versionAsOf", 0)
        .load()
    )
    assert v0.count() == 20


def test_batch_schema_evolution_null_fills(ds, tmp_path):
    d = str(tmp_path / "t")
    write_delta(_mk(ds, 0, 5), d, mode="overwrite")
    evolved = ds.createDataFrame(
        [(9, 9.0, "x")], "id bigint, v double, tag string"
    )
    write_delta(
        evolved, d, mode="append", options={"mergeSchema": "true"}
    )
    out = ds.read.format("delta_native").option("path", d).load()
    rows = {r["id"]: r["tag"] for r in out.collect()}
    assert rows[9] == "x" and rows[0] is None


def _run_stream(spark, d, ck, acc, **opts):
    reader = spark.readStream.format("delta_native").option("path", d)
    for k, v in opts.items():
        reader = reader.option(k, v)

    def fb(df, bid):
        acc.append((bid, sorted(r["id"] for r in df.collect())))

    q = (
        reader.load()
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_initial_snapshot_then_incremental(ds, tmp_path):
    d, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    write_delta(_mk(ds, 0, 10), d, mode="overwrite")
    acc: list = []
    _run_stream(ds, d, ck, acc)
    assert acc and acc[0][1] == list(range(10))  # initial snapshot
    write_delta(_mk(ds, 10, 13), d, mode="append")
    write_delta(_mk(ds, 13, 15), d, mode="append")
    _run_stream(ds, d, ck, acc)
    # the restart consumed ONLY the two new commits' adds
    assert acc[-1][1] == list(range(10, 15))
    _run_stream(ds, d, ck, acc)  # nothing new → no batch
    assert acc[-1][1] == list(range(10, 15))


def test_stream_refuses_dml_without_options(ds, tmp_path):
    d, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    write_delta(_mk(ds, 0, 10), d, mode="overwrite")
    acc: list = []
    _run_stream(ds, d, ck, acc)
    delete_delta(ds, d, "id = 0")
    with pytest.raises(Exception, match="remove actions|append-only"):
        _run_stream(ds, d, ck, acc)


def test_stream_schema_evolution_fails_then_resumes(ds, tmp_path):
    """delta-spark's mid-stream schema-change contract (r12 verdict
    'Next round' #5): a commit whose metaData changes the schema FAILS
    the running stream (the run is bound to its start schema — a
    silent projection would drop the new column), and a RESTART
    re-binds to the current schema, replays the evolution commit
    cleanly, and null-fills pre-evolution files."""
    from pg_analytics_spark.sources.delta_datasource import (
        _DeltaStreamReader,
    )

    d, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    write_delta(_mk(ds, 0, 6), d, mode="overwrite")
    acc: list = []
    _run_stream(ds, d, ck, acc)
    assert acc[-1][1] == list(range(6))  # initial snapshot
    # a LIVE reader (bound to the pre-evolution schema, as within one
    # run of a continuous-trigger query) meets the evolution commit
    live = _DeltaStreamReader(d, {})
    start = live.latestOffset()  # current snapshot fully consumed
    evolved = ds.createDataFrame(
        [(10, 1.0, "x"), (11, 2.0, "y")],
        "id bigint, v double, tag string",
    )
    write_delta(
        evolved, d, mode="append", options={"mergeSchema": "true"}
    )
    end = live.latestOffset()
    with pytest.raises(Exception, match="schema change"):
        live.partitions(start, end)
    # restart = fresh reader bound to the NEW schema: the evolution
    # commit replays from the same checkpoint and delivers its rows
    tags: list = []
    reader = ds.readStream.format("delta_native").option("path", d)

    def fb(df, bid):
        tags.append({r["id"]: r["tag"] for r in df.collect()})

    q = (
        reader.load()
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert tags and tags[-1] == {10: "x", 11: "y"}
    # a later same-schema append streams normally under the new run
    write_delta(
        ds.createDataFrame(
            [(12, 3.0, None)], "id bigint, v double, tag string"
        ),
        d,
        mode="append",
    )
    acc2: list = []
    _run_stream(ds, d, ck, acc2)
    assert acc2 and acc2[-1][1] == [12]


def test_stream_ignore_changes_reemits_rewritten_files(ds, tmp_path):
    d, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    write_delta(_mk(ds, 0, 10).coalesce(1), d, mode="overwrite")
    acc: list = []
    _run_stream(ds, d, ck, acc, ignoreChanges="true")
    update_delta(ds, d, {"v": "v + 1"}, "id = 3")  # rewrites the file
    _run_stream(ds, d, ck, acc, ignoreChanges="true")
    # the rewritten file re-emits ALL its surviving rows (delta-spark's
    # documented ignoreChanges contract: downstream dedupes)
    assert acc[-1][1] == list(range(10))


class TestWriter:
    """The delta_native WRITER half: df.write.format('delta_native')
    stages one parquet file per task (pyarrow, arrow batches) and the
    driver publishes ONE put-if-absent Delta commit; the streaming
    sink commits each epoch with a SetTransaction action so replays
    publish nothing (exactly-once at the table level)."""

    def test_create_append_overwrite_roundtrip(self, ds, tmp_path):
        d = str(tmp_path / "t")
        _mk(ds, 0, 10).write.format("delta_native").mode(
            "overwrite"
        ).option("path", d).save()
        assert load_source(ds, d, "delta").count() == 10
        _mk(ds, 10, 15).write.format("delta_native").mode(
            "append"
        ).option("path", d).save()
        got = sorted(
            r["id"] for r in load_source(ds, d, "delta").collect()
        )
        assert got == list(range(15))
        _mk(ds, 0, 3).write.format("delta_native").mode(
            "overwrite"
        ).option("path", d).save()
        assert load_source(ds, d, "delta").count() == 3
        # time travel across the sink's commits still works
        from pg_analytics_spark.sources.delta import _load_via_log, snapshot

        assert _load_via_log(ds, snapshot(d, 1)).count() == 15

    def test_add_actions_carry_stats_for_skipping(self, ds, tmp_path):
        import json as _json
        import os as _os

        d = str(tmp_path / "t")
        _mk(ds, 0, 100).coalesce(2).write.format("delta_native").mode(
            "overwrite"
        ).option("path", d).save()
        log = _os.path.join(d, "_delta_log")
        fn = sorted(
            f for f in _os.listdir(log) if f.endswith(".json")
        )[-1]
        adds = [
            _json.loads(line)["add"]
            for line in open(_os.path.join(log, fn))
            if '"add"' in line
        ]
        assert adds
        st = _json.loads(adds[0]["stats"])
        assert st["numRecords"] > 0
        assert "id" in st["minValues"] and "id" in st["maxValues"]
        # the replay reader's stats filter can now skip these files
        from pg_analytics_spark.sources.delta import _load_via_log, snapshot

        lo = _load_via_log(ds, snapshot(d), stats_filter={"id": (0, 5)})
        assert lo.count() >= 6  # at least the matching file's rows

    def test_append_schema_mismatch_refused(self, ds, tmp_path):
        d = str(tmp_path / "t")
        _mk(ds, 0, 5).write.format("delta_native").mode(
            "overwrite"
        ).option("path", d).save()
        bad = ds.createDataFrame([(1, "x")], "id bigint, s string")
        with pytest.raises(Exception, match="schema mismatch"):
            bad.write.format("delta_native").mode("append").option(
                "path", d
            ).save()

    def test_stream_sink_exactly_once_replay(self, ds, tmp_path):
        src, d, ck = (
            str(tmp_path / "src"),
            str(tmp_path / "t"),
            str(tmp_path / "ck"),
        )
        _mk(ds, 0, 20).write.parquet(src)

        def run(ckpt):
            q = (
                ds.readStream.schema("id bigint, v double")
                .parquet(src)
                .writeStream.format("delta_native")
                .option("path", d)
                .option("txnAppId", "sink-test")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run(ck)
        assert load_source(ds, d, "delta").count() == 20
        # a restarted query that LOST its checkpoint replays epoch 0 —
        # the txn watermark publishes nothing twice
        run(str(tmp_path / "ck2"))
        assert load_source(ds, d, "delta").count() == 20
        from pg_analytics_spark.sources.delta_write import (
            last_txn_version,
        )

        assert last_txn_version(d, "sink-test") == 0


def test_stream_rate_limit_max_commits_per_trigger(ds, tmp_path):
    """maxCommitsPerTrigger bounds how far latestOffset advances per
    trigger (exercised at the reader-protocol level: availableNow
    drains in one batch by design, but a processingTime query calls
    latestOffset repeatedly and gets bounded batches)."""
    from pg_analytics_spark.sources.delta_datasource import (
        _DeltaStreamReader,
    )

    d = str(tmp_path / "t")
    write_delta(_mk(ds, 0, 4), d, mode="overwrite")  # v0
    for a in range(3):  # v1..v3
        write_delta(_mk(ds, 4 + a, 5 + a), d, mode="append")
    r = _DeltaStreamReader(d, {"maxcommitspertrigger": "1"})
    o0 = r.initialOffset()
    e1 = r.latestOffset()  # first call: whole backlog (baseline)
    assert e1["version"] == 3
    parts = r.partitions(o0, e1)
    assert parts  # the initial snapshot at v3
    write_delta(_mk(ds, 10, 11), d, mode="append")  # v4
    write_delta(_mk(ds, 11, 12), d, mode="append")  # v5
    e2 = r.latestOffset()
    assert e2["version"] == 4  # capped: ONE commit past the last end
    n = sum(
        b.num_rows for p in r.partitions(e1, e2) for b in r.read(p)
    )
    assert n == 1  # exactly commit v4's rows
    e3 = r.latestOffset()
    assert e3["version"] == 5  # the next trigger advances again


#: partition column type -> value of row i (one more row has a NULL key)
_PART_CASES = {
    "int": lambda i: i % 3,
    "string": lambda i: "a b" if i % 2 else "z",
    "boolean": lambda i: i % 2 == 0,
    "date": lambda i: dt.date(2024, 1, 1 + i % 3),
}


def _log_adds(d):
    import json as _json
    import os as _os

    log = _os.path.join(d, "_delta_log")
    return [
        _json.loads(line)["add"]
        for fn in sorted(f for f in _os.listdir(log) if f.endswith(".json"))
        for line in open(_os.path.join(log, fn))
        if '"add"' in line
    ]


@pytest.mark.parametrize("ptype", sorted(_PART_CASES))
def test_writer_partitioned_roundtrip(ds, tmp_path, ptype):
    """partitionBy writes: hive-dir staging (partition columns dropped
    from the files), per-file partitionValues in the add actions equal
    to those write_delta produces for the same rows (NULL key
    included), both readers project them back (NULL as NULL), and the
    datasource reader prunes on them."""
    val = _PART_CASES[ptype]
    rows = [(i, val(i), float(i)) for i in range(20)] + [(20, None, 20.0)]
    df = ds.createDataFrame(rows, f"id bigint, p {ptype}, v double")
    d = str(tmp_path / "t")
    df.repartition(2, "p").write.format("delta_native").mode(
        "overwrite"
    ).option("path", d).option("partitionBy", "p").save()
    ref = str(tmp_path / "ref")
    write_delta(df, ref, mode="overwrite", partition_by="p")

    def layout(root):
        return sorted(
            {
                (str(a["partitionValues"]), a["path"].rsplit("/", 1)[0])
                for a in _log_adds(root)
            }
        )

    assert layout(d) == layout(ref)
    assert ({"p": None}, "p=__HIVE_DEFAULT_PARTITION__") in [
        (a["partitionValues"], a["path"].rsplit("/", 1)[0])
        for a in _log_adds(d)
    ]
    # appends must match the spec; a mismatch refuses
    df.filter("id < 2").write.format("delta_native").mode("append").option(
        "path", d
    ).option("partitionBy", "p").save()
    rows += rows[:2]
    with pytest.raises(Exception, match="partition mismatch"):
        df.limit(1).write.format("delta_native").mode("append").option(
            "path", d
        ).save()
    adds = _log_adds(d)
    assert all(a["partitionValues"] for a in adds)
    assert all(" " not in a["path"] for a in adds)
    # partition columns are NOT in the data files
    import os as _os

    import pyarrow.parquet as _pq

    from pg_analytics_spark.sources.delta_write import _decode_log_path

    cols = _pq.read_schema(
        _os.path.join(d, _decode_log_path(adds[0]["path"]))
    ).names
    assert "p" not in cols
    # both readers project the values back (NULL as NULL); the
    # datasource reader's partition pruning keeps exactly the matches
    native = ds.read.format("delta_native").option("path", d).load()
    for back in (load_source(ds, d, "delta"), native):
        got = back.select("id", "p", "v").collect()
        assert sorted(map(tuple, got)) == sorted(rows)
    for cond, want in (
        (F.col("p") == val(1), [r[0] for r in rows if r[1] == val(1)]),
        (F.col("p").isNull(), [20]),
    ):
        got = [r["id"] for r in native.filter(cond).collect()]
        assert sorted(got) == sorted(want)


def test_writer_refuses_enforcement_tables(ds, tmp_path):
    """Tables with CHECK constraints, generated columns, or column
    mapping refuse the datasource writer LOUDLY — its sessionless
    commit path cannot evaluate their expressions, and skipping them
    silently would commit wrong data."""
    from pg_analytics_spark.sources.delta_write import (
        alter_delta_constraints,
    )

    d1 = str(tmp_path / "con")
    write_delta(_mk(ds, 1, 5), d1, mode="overwrite")
    alter_delta_constraints(d1, add=("v_pos", "v > 0"), spark=ds)
    with pytest.raises(Exception, match="CHECK constraints"):
        _mk(ds, 5, 6).write.format("delta_native").mode("append").option(
            "path", d1
        ).save()
    d2 = str(tmp_path / "gen")
    write_delta(
        _mk(ds, 0, 5).withColumn("v2", F.expr("v * 2")),
        d2,
        mode="overwrite",
        generated={"v2": "v * 2"},
    )
    with pytest.raises(Exception, match="GENERATED COLUMNS"):
        _mk(ds, 5, 6).withColumn("v2", F.expr("v * 2")).write.format(
            "delta_native"
        ).mode("append").option("path", d2).save()


def test_stream_ignore_deletes_pure_delete_vs_rewrite(ds, tmp_path):
    """delta-spark's ignoreDeletes contract (r11 advice): a PURE
    whole-file delete streams past silently, but a copy-on-write
    rewrite (remove + dataChange add in one commit) is refused —
    emitting the rewritten file would duplicate rows already
    streamed."""
    d, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    # two single-file commits so a predicate can drop one whole file
    write_delta(_mk(ds, 0, 10).coalesce(1), d, mode="overwrite")
    write_delta(_mk(ds, 10, 20).coalesce(1), d, mode="append")
    acc: list = []
    _run_stream(ds, d, ck, acc, ignoreDeletes="true")
    assert acc[0][1] == list(range(20))
    delete_delta(ds, d, "id >= 10")  # drops the second file whole
    write_delta(_mk(ds, 20, 22), d, mode="append")
    _run_stream(ds, d, ck, acc, ignoreDeletes="true")
    assert acc[-1][1] == [20, 21]  # delete skipped, append consumed
    update_delta(ds, d, {"v": "v + 1"}, "id = 3")  # rewrite commit
    with pytest.raises(Exception, match="rewrites data|ignoreChanges"):
        _run_stream(ds, d, ck, acc, ignoreDeletes="true")


def test_writer_replace_carries_single_protocol(ds, tmp_path):
    """r11 advice: a schema-changing overwrite must emit exactly ONE
    protocol action per commit (Delta spec) and must CARRY the table's
    protocol, never downgrade it — external readers negotiated
    features (e.g. deletion vectors, minReader 3) from it."""
    import json as _json
    import os as _os

    d = str(tmp_path / "t")
    write_delta(_mk(ds, 0, 10), d, mode="overwrite")
    delete_delta(ds, d, "id < 3", dv=True)  # protocol → reader 3
    wide = ds.createDataFrame(
        [(1, "x", 2.0)], "id bigint, tag string, v double"
    )
    (
        wide.write.format("delta_native")
        .mode("overwrite")
        .option("path", d)
        .save()
    )
    log = _os.path.join(d, "_delta_log")
    last = sorted(f for f in _os.listdir(log) if f.endswith(".json"))[-1]
    acts = [
        _json.loads(x) for x in open(_os.path.join(log, last)) if x.strip()
    ]
    protos = [a["protocol"] for a in acts if "protocol" in a]
    assert len(protos) == 1, protos
    assert protos[0]["minReaderVersion"] == 3, protos
    metas = [a["metaData"] for a in acts if "metaData" in a]
    assert len(metas) == 1  # replace minted the new schema
    names = [
        f["name"] for f in _json.loads(metas[0]["schemaString"])["fields"]
    ]
    assert names == ["id", "tag", "v"]
    out = ds.read.format("delta_native").option("path", d).load()
    assert [tuple(r) for r in out.collect()] == [(1, "x", 2.0)]


def test_dv_partition_payload_is_roaring_blob(ds, tmp_path):
    """r11 verdict #4: a file with a LARGE deletion vector must ship
    the roaring blob (KB-scale), not a pickled list[int] (megabytes
    per task), and values must be unchanged."""
    import pickle

    from pg_analytics_spark.sources.delta import snapshot
    from pg_analytics_spark.sources.delta_datasource import (
        _partitions_for_adds,
    )

    d = str(tmp_path / "t")
    n = 120_000
    df = ds.range(n).select(
        F.col("id"), (F.col("id") * 2).cast("double").alias("v")
    )
    write_delta(df.coalesce(1), d, mode="overwrite")
    delete_delta(ds, d, "id % 3 != 0", dv=True)  # 80k deleted rows
    snap = snapshot(d)
    parts = _partitions_for_adds(snap, snap.active)
    assert len(parts) == 1
    blob = parts[0].dv_blob
    assert blob is not None and len(blob) < 64_000, len(blob)
    assert len(pickle.dumps(parts[0])) < 80_000
    out = ds.read.format("delta_native").option("path", d).load()
    assert out.count() == n // 3 + (1 if n % 3 else 0)
    assert out.filter(F.col("id") % 3 != 0).count() == 0


def test_batch_range_filter_prunes_typed(ds, tmp_path):
    """r11 verdict #6: >=/< pushdown against TYPED partition values —
    the date-partitioned-pipeline shape.  Typed comparison matters:
    lexicographic would keep day 9 > day 10.  Planner-level partition
    counts assert the pruning; the DataFrame result pins values."""
    import datetime as _dt

    from pyspark.sql.datasource import (
        GreaterThanOrEqual,
        LessThan,
    )

    from pg_analytics_spark.sources.delta_datasource import (
        _DeltaBatchReader,
    )

    d = str(tmp_path / "t")
    rows = [
        (i, _dt.date(2024, 1, 1 + i % 12), i % 12, float(i))
        for i in range(48)
    ]
    df = ds.createDataFrame(rows, "id bigint, day date, n int, v double")
    write_delta(
        df.coalesce(1), d, mode="overwrite", partition_by=["day", "n"]
    )

    def planned(*filters):
        r = _DeltaBatchReader(d, None)
        list(r.pushFilters(list(filters)))
        return len(r.partitions())

    total = planned()
    assert total == 12
    # date range [2024-01-03, 2024-01-06) → 3 of 12 partitions
    assert (
        planned(
            GreaterThanOrEqual(("day",), _dt.date(2024, 1, 3)),
            LessThan(("day",), _dt.date(2024, 1, 6)),
        )
        == 3
    )
    # int range: n >= 9 → 3 partitions (typed: '9' vs '10'/'11')
    assert planned(GreaterThanOrEqual(("n",), 9)) == 3
    # end-to-end: values correct under the same predicates
    out = (
        ds.read.format("delta_native")
        .option("path", d)
        .load()
        .filter(
            (F.col("day") >= "2024-01-03") & (F.col("day") < "2024-01-06")
        )
    )
    assert sorted(r["id"] for r in out.collect()) == [
        i for i in range(48) if 2 <= i % 12 < 5
    ]
    out2 = (
        ds.read.format("delta_native")
        .option("path", d)
        .load()
        .filter(F.col("n") >= 9)
    )
    assert sorted(r["id"] for r in out2.collect()) == [
        i for i in range(48) if i % 12 >= 9
    ]


def test_batch_in_filter_prunes(ds, tmp_path):
    """The In filter's dataclass field is `value` (a tuple), not
    `values` — this path shipped broken and untested in r11; pin it
    at planner level and end-to-end."""
    from pyspark.sql.datasource import In

    from pg_analytics_spark.sources.delta_datasource import (
        _DeltaBatchReader,
    )

    d = str(tmp_path / "t")
    df = ds.createDataFrame(
        [(i, f"g{i % 5}", float(i)) for i in range(50)],
        "id bigint, p string, v double",
    )
    write_delta(df.coalesce(1), d, mode="overwrite", partition_by="p")
    r = _DeltaBatchReader(d, None)
    list(r.pushFilters([In(("p",), ("g1", "g3"))]))
    assert len(r.partitions()) == 2
    out = (
        ds.read.format("delta_native")
        .option("path", d)
        .load()
        .filter(F.col("p").isin("g1", "g3"))
    )
    assert sorted(r_["id"] for r_ in out.collect()) == [
        i for i in range(50) if i % 5 in (1, 3)
    ]


def test_batch_timestamp_as_of(ds, tmp_path):
    """delta-spark's timestampAsOf on the DataSource: latest commit
    at-or-before the timestamp; combining with versionAsOf refuses."""
    import json as _json
    import os as _os

    d = str(tmp_path / "t")
    write_delta(_mk(ds, 0, 5), d, mode="overwrite")
    write_delta(_mk(ds, 5, 9), d, mode="append")
    # commit 0's timestamp from its commitInfo
    log = _os.path.join(d, "_delta_log")
    acts = [
        _json.loads(x)
        for x in open(_os.path.join(log, f"{0:020d}.json"))
        if x.strip()
    ]
    ts0 = next(a["commitInfo"]["timestamp"] for a in acts if "commitInfo" in a)
    v0 = (
        ds.read.format("delta_native")
        .option("path", d)
        .option("timestampAsOf", str(ts0))
        .load()
    )
    assert sorted(r["id"] for r in v0.collect()) == list(range(5))
    with pytest.raises(Exception, match="not both"):
        (
            ds.read.format("delta_native")
            .option("path", d)
            .option("timestampAsOf", str(ts0))
            .option("versionAsOf", 1)
            .load()
            .collect()
        )


def test_stream_max_files_per_trigger_subcommit_offsets(ds, tmp_path):
    """delta-spark's maxFilesPerTrigger: tail commits drain at most N
    add files per trigger, with sub-commit {"version", "index"}
    offsets splitting a multi-file commit across micro-batches.  The
    offset walk and slicing are pinned at reader level (the Python
    stream API never hands latestOffset the checkpointed start, so —
    as with maxCommitsPerTrigger — the first batch of a run is whole
    by documented contract); an end-to-end availableNow run then
    proves no file is lost or duplicated with the option set."""
    from pg_analytics_spark.sources.delta_datasource import (
        _DeltaStreamReader,
    )

    d, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    write_delta(_mk(ds, 0, 4).coalesce(1), d, mode="overwrite")
    r = _DeltaStreamReader(d, {"maxfilespertrigger": "2"})
    assert r.initialOffset() == {"version": -1}
    o1 = r.latestOffset()
    assert o1 == {"version": 0, "index": -1}  # baseline: whole
    base = r.partitions({"version": -1}, o1)
    assert len(base) == 1
    # backlog: a 3-file commit then a 2-file commit
    write_delta(_mk(ds, 4, 10).repartition(3), d, mode="append")
    write_delta(_mk(ds, 10, 14).repartition(2), d, mode="append")
    walk = [o1]
    seen_files = []
    while True:
        o_next = r.latestOffset()
        if o_next == walk[-1]:
            break
        parts = r.partitions(walk[-1], o_next)
        seen_files.extend(p.file_path for p in parts)
        walk.append(o_next)
    # 5 files at <=2 per trigger -> 3 tail triggers; commit 1 splits
    assert walk[1:] == [
        {"version": 1, "index": 2},
        {"version": 2, "index": 1},
        {"version": 2, "index": -1},
    ]
    assert len(seen_files) == 5 and len(set(seen_files)) == 5
    # restart path: a FRESH reader (new run) resuming from a PARTIAL
    # checkpointed offset, JSON-roundtripped the way Spark persists
    # offsets, must plan exactly the unconsumed slice
    import json as _json

    r2 = _DeltaStreamReader(d, {"maxfilespertrigger": "2"})
    start = _json.loads(_json.dumps({"version": 2, "index": 1}))
    end = _json.loads(_json.dumps({"version": 2, "index": -1}))
    resumed = r2.partitions(start, end)
    assert [p.file_path for p in resumed] == seen_files[4:]
    # end-to-end: the same option over a fresh checkpoint loses and
    # duplicates nothing
    acc: list = []
    _run_stream(ds, d, ck, acc, maxFilesPerTrigger="2")
    assert sorted(i for _bid, batch in acc for i in batch) == list(
        range(14)
    )
    write_delta(_mk(ds, 14, 16).coalesce(1), d, mode="append")
    _run_stream(ds, d, ck, acc, maxFilesPerTrigger="2")
    assert acc[-1][1] == [14, 15]


def test_range_pruning_keeps_nan_partitions(ds, tmp_path):
    """Spark orders NaN greater than every double; Python's NaN
    comparisons are all False — the pushed range lambda must keep
    NaN partitions for > / >= or rows silently vanish."""
    from pyspark.sql.datasource import GreaterThan

    from pg_analytics_spark.sources.delta_datasource import (
        _DeltaBatchReader,
    )

    d = str(tmp_path / "t")
    df = ds.createDataFrame(
        [(1, 1.0), (2, 9.0), (3, float("nan"))], "id bigint, p double"
    )
    write_delta(df.coalesce(1), d, mode="overwrite", partition_by="p")
    r = _DeltaBatchReader(d, None)
    list(r.pushFilters([GreaterThan(("p",), 5.0)]))
    kept = {p.part_values["p"] for p in r.partitions()}
    assert "1.0" not in kept and any(
        v.lower() == "nan" for v in kept
    ), kept
    out = (
        ds.read.format("delta_native")
        .option("path", d)
        .load()
        .filter(F.col("p") > 5.0)
    )
    assert sorted(r_["id"] for r_ in out.collect()) == [2, 3]


def test_dv_blob_cardinality_mismatch_raises(ds, tmp_path):
    """Inline DVs carry no CRC; a blob that decodes to a different
    bit count than the descriptor's cardinality must raise instead of
    silently resurrecting deleted rows."""
    from pg_analytics_spark.sources.delta import snapshot
    from pg_analytics_spark.sources.delta_datasource import (
        _partitions_for_adds,
        _read_file_partition,
    )

    d = str(tmp_path / "t")
    write_delta(_mk(ds, 0, 100).coalesce(1), d, mode="overwrite")
    delete_delta(ds, d, "id < 10", dv=True)
    snap = snapshot(d)
    parts = _partitions_for_adds(snap, snap.active)
    assert len(parts) == 1 and parts[0].dv_card == 10
    list(_read_file_partition(parts[0]))  # matching card: fine
    parts[0].dv_card = 11  # corrupt descriptor
    with pytest.raises(ValueError, match="cardinality"):
        list(_read_file_partition(parts[0]))
