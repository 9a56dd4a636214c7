"""Delta deletion-vector decode + application (sources/delta_dv.py).

Formats are implemented from the public specs (delta.io PROTOCOL.md
"Deletion Vectors", RoaringFormatSpec, ZeroMQ RFC 32 Z85); without
delta-spark in the environment the fixtures use the module's own
spec-faithful writer, so these tests prove internal consistency plus
end-to-end application through the native log replay."""

from __future__ import annotations

import json
import struct
import uuid

import pytest

from pg_analytics_spark.errors import MissingDependency
from pg_analytics_spark.sources import load_source
from pg_analytics_spark.sources.delta_dv import (
    ROARING_MAGIC,
    decode_roaring_array,
    dv_deleted_rows,
    encode_roaring_array,
    write_dv_file,
    z85_decode,
    z85_encode,
)


def test_z85_roundtrip_and_reference_vector():
    # ZeroMQ RFC 32's published test vector
    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B]
    )
    data = bytes(range(40))
    assert z85_decode(z85_encode(data)) == data


def test_roaring_array_roundtrip_array_and_bitmap_containers():
    small = [0, 1, 2, 65536, 2**32 + 5, 2**33 + 70000]
    assert decode_roaring_array(encode_roaring_array(small)) == sorted(small)
    # >4096 in one 16-bit container → bitmap container path
    big = list(range(0, 10000, 2))
    assert decode_roaring_array(encode_roaring_array(big)) == big


def test_roaring_run_container_decode():
    # hand-crafted: one bitmap, cookie 12347, 1 container (run), runs
    # [5..9] and [100..100]
    container = struct.pack("<H", 2) + struct.pack("<HH", 5, 4) + struct.pack(
        "<HH", 100, 0
    )
    bitmap = (
        struct.pack("<i", (0 << 16) | 12347)  # 1 container
        + b"\x01"  # run flag for container 0
        + struct.pack("<HH", 0, 6 - 1)  # key 0, cardinality 6
        + container  # < NO_OFFSET_THRESHOLD containers → no offsets
    )
    data = struct.pack("<i", ROARING_MAGIC) + struct.pack("<q", 1) + bitmap
    assert decode_roaring_array(data) == [5, 6, 7, 8, 9, 100]


def test_dv_descriptor_inline_and_file(tmp_path):
    rows = [0, 2, 7]
    data = encode_roaring_array(rows)
    inline = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data),
        "sizeInBytes": len(data),
        "cardinality": 3,
    }
    assert dv_deleted_rows(str(tmp_path), inline) == rows

    u = uuid.uuid4()
    path = tmp_path / f"deletion_vector_{u}.bin"
    offset = write_dv_file(str(path), data)
    by_uuid = {
        "storageType": "u",
        "pathOrInlineDv": z85_encode(u.bytes),
        "offset": offset,
        "sizeInBytes": len(data),
        "cardinality": 3,
    }
    assert dv_deleted_rows(str(tmp_path), by_uuid) == rows

    by_path = dict(by_uuid, storageType="p", pathOrInlineDv=str(path))
    assert dv_deleted_rows(str(tmp_path), by_path) == rows


def test_dv_corruption_detected(tmp_path):
    data = encode_roaring_array([1])
    path = tmp_path / "dv.bin"
    offset = write_dv_file(str(path), data)
    raw = bytearray(path.read_bytes())
    raw[offset + 5] ^= 0xFF  # flip a payload byte
    path.write_bytes(bytes(raw))
    with pytest.raises(MissingDependency, match="checksum"):
        dv_deleted_rows(
            str(tmp_path),
            {"storageType": "p", "pathOrInlineDv": str(path), "offset": offset},
        )
    with pytest.raises(MissingDependency, match="cardinality"):
        dv_deleted_rows(
            str(tmp_path),
            {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(data),
                "cardinality": 99,
            },
        )


def test_delta_replay_applies_deletion_vectors(spark, tmp_path):
    """End-to-end: native log replay reads a DV table — add action with
    a deletionVector descriptor drops exactly the flagged rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "dv_table")
    os.makedirs(f"{root}/_delta_log", exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([10, 11, 12, 13, 14], pa.int64())}),
        f"{root}/part-0.parquet",
    )
    pq.write_table(
        pa.table({"id": pa.array([20, 21], pa.int64())}),
        f"{root}/part-1.parquet",
    )
    data = encode_roaring_array([1, 3])  # drop 11 and 13
    u = uuid.uuid4()
    offset = write_dv_file(f"{root}/deletion_vector_{u}.bin", data)
    meta = {
        "id": "9999",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "id", "type": "long", "nullable": True, "metadata": {}}
                ],
            }
        ),
        "partitionColumns": [],
        "configuration": {},
    }
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
        {"metaData": meta},
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": {
                    "storageType": "u",
                    "pathOrInlineDv": z85_encode(u.bytes),
                    "offset": offset,
                    "sizeInBytes": len(data),
                    "cardinality": 2,
                },
            }
        },
        {
            "add": {
                "path": "part-1.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")

    df = load_source(spark, root, "delta")
    assert sorted(r["id"] for r in df.collect()) == [10, 12, 14, 20, 21]


def test_delta_replay_column_mapping(spark, tmp_path):
    """Column-mapping mode=name: physical col-<uuid> parquet names (top
    level AND nested struct fields) resolve to logical names via the
    schemaString physicalName metadata + positional cast."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "cm_table")
    os.makedirs(f"{root}/_delta_log", exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "col-aaaa": pa.array([1, 2], pa.int64()),
                "col-bbbb": pa.array(
                    [{"col-cccc": "x"}, {"col-cccc": "y"}],
                    pa.struct([("col-cccc", pa.string())]),
                ),
            }
        ),
        f"{root}/part-0.parquet",
    )
    meta = {
        "id": "8888",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {
                "type": "struct",
                "fields": [
                    {
                        "name": "id",
                        "type": "long",
                        "nullable": True,
                        "metadata": {
                            "delta.columnMapping.id": 1,
                            "delta.columnMapping.physicalName": "col-aaaa",
                        },
                    },
                    {
                        "name": "props",
                        "type": {
                            "type": "struct",
                            "fields": [
                                {
                                    "name": "tag",
                                    "type": "string",
                                    "nullable": True,
                                    "metadata": {
                                        "delta.columnMapping.id": 3,
                                        "delta.columnMapping.physicalName": "col-cccc",
                                    },
                                }
                            ],
                        },
                        "nullable": True,
                        "metadata": {
                            "delta.columnMapping.id": 2,
                            "delta.columnMapping.physicalName": "col-bbbb",
                        },
                    },
                ],
            }
        ),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "name"},
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": meta},
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")

    df = load_source(spark, root, "delta")
    assert df.columns == ["id", "props"]
    assert df.schema["props"].dataType.fieldNames() == ["tag"]
    rows = {r["id"]: r["props"]["tag"] for r in df.collect()}
    assert rows == {1: "x", 2: "y"}


def test_compact_materializes_deletion_vectors(spark, tmp_path):
    """compact_delta over a DV table: the rewrite reads THROUGH the
    deletion vectors, so the compacted commit holds only surviving
    rows in clean files — the maintenance op that retires DV overhead."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_analytics_spark.sources.delta_write import compact_delta

    root = str(tmp_path / "dv_compact")
    os.makedirs(f"{root}/_delta_log", exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([10, 11, 12, 13, 14], pa.int64())}),
        f"{root}/part-0.parquet",
    )
    data = encode_roaring_array([1, 3])  # drop 11 and 13
    u = uuid.uuid4()
    offset = write_dv_file(f"{root}/deletion_vector_{u}.bin", data)
    meta = {
        "id": "77",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "id", "type": "long", "nullable": True, "metadata": {}}
                ],
            }
        ),
        "partitionColumns": [],
        "configuration": {},
    }
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
        {"metaData": meta},
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": {
                    "storageType": "u",
                    "pathOrInlineDv": z85_encode(u.bytes),
                    "offset": offset,
                    "sizeInBytes": len(data),
                    "cardinality": 2,
                },
            }
        },
    ]
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")

    res = compact_delta(spark, root)
    assert res["version"] == 1
    back = load_source(spark, root, "delta")
    assert sorted(r["id"] for r in back.collect()) == [10, 12, 14]
    # the compacted add actions carry no deletionVector descriptors
    with open(f"{root}/_delta_log/{1:020d}.json") as fh:
        adds = [
            json.loads(line)["add"]
            for line in fh
            if line.strip() and "\"add\"" in line
        ]
    assert adds and all("deletionVector" not in a for a in adds)


def test_merge_delta_partitioned_cow_and_clause_order(spark, tmp_path):
    """MERGE on a PARTITIONED table: rewrites stage under the table's
    partition spec, untouched files stay, clause order is first-match-
    wins, and unmatched rows inside touched files carry through."""
    import os

    from pyspark.sql import functions as F

    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.delta_write import (
        merge_delta,
        write_delta,
    )

    path = str(tmp_path / "ptbl")
    base = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id bigint, p int, v double"
    )
    write_delta(base, path, mode="overwrite", partition_by="p")
    n_files_before = len(load_source(spark, path, "delta").inputFiles())

    src = spark.createDataFrame(
        [(3, -1.0), (6, 600.0), (100, 7.0)], "id bigint, nv double"
    )
    res = merge_delta(
        src, path, "t.id = s.id",
        [
            {"when": "matched", "action": "delete",
             "condition": "s.nv < 0"},
            {"when": "matched", "action": "update", "set": {"v": "s.nv"},
             "condition": None},
            {"when": "not_matched", "action": "insert",
             "values": {"id": "s.id", "p": "cast(s.id % 3 AS int)",
                        "v": "s.nv"},
             "condition": None},
        ],
    )
    got = {
        r["id"]: (r["p"], r["v"])
        for r in load_source(spark, path, "delta").collect()
    }
    assert 3 not in got                      # deleted
    assert got[6] == (0, 600.0)              # updated, partition kept
    assert got[100] == (1, 7.0)              # inserted
    assert got[9] == (0, 9.0)                # untouched row in a touched file
    assert len(got) == 30 - 1 + 1
    # COW really pruned: only the files containing ids 3 and 6 were
    # rewritten (both in partition p=0), p=1/p=2 files untouched
    assert res["files_removed"] < n_files_before
    # partition dirs present in the new files
    new_files = load_source(spark, path, "delta").inputFiles()
    assert all("p=" in f for f in new_files)
    # log-level: removes only name files under p=0
    import json as _json
    log = os.path.join(path, "_delta_log", f"{res['version']:020d}.json")
    removed = [
        _json.loads(l)["remove"]["path"]
        for l in open(log) if '"remove"' in l
    ]
    assert removed and all(r.startswith("p=0/") for r in removed)


def test_merge_delta_insert_only_and_errors(spark, tmp_path):
    import pytest as _pytest

    from pg_analytics_spark.errors import UnsupportedFormat
    from pg_analytics_spark.sources import load_source
    from pg_analytics_spark.sources.delta_write import (
        merge_delta,
        write_delta,
    )

    path = str(tmp_path / "tbl")
    write_delta(
        spark.createDataFrame([(1, "a")], "id bigint, s string"),
        path,
        mode="overwrite",
    )
    # insert-only merge removes nothing
    res = merge_delta(
        spark.createDataFrame([(1, "x"), (2, "b")], "id bigint, s string"),
        path, "t.id = s.id",
        [{"when": "not_matched", "action": "insert", "values": "all",
          "condition": None}],
    )
    assert res["files_removed"] == 0
    assert sorted(
        map(tuple, load_source(spark, path, "delta").collect())
    ) == [(1, "a"), (2, "b")]
    # ambiguous multi-match errors
    with _pytest.raises(UnsupportedFormat, match="more than one"):
        merge_delta(
            spark.createDataFrame(
                [(1, "x"), (1, "y")], "id bigint, s string"
            ),
            path, "t.id = s.id",
            [{"when": "matched", "action": "update", "set": "all",
              "condition": None}],
        )
    # unknown SET column errors
    with _pytest.raises(UnsupportedFormat, match="unknown target"):
        merge_delta(
            spark.createDataFrame([(1, "x")], "id bigint, s string"),
            path, "t.id = s.id",
            [{"when": "matched", "action": "update",
              "set": {"nope": "s.s"}, "condition": None}],
        )


# ------------------------------------------------------------------ #
# DV WRITE path: delete_delta/update_delta(dv=True) — merge-on-read
# DML that marks positions instead of rewriting files (r9)
# ------------------------------------------------------------------ #


def _mk_table(spark, path, n=400, files=4):
    from pg_analytics_spark.sources.delta_write import write_delta

    df = spark.range(0, n).selectExpr(
        "id", "id % 8 as k", "cast(id * 1.5 as double) as v"
    )
    write_delta(df.repartition(files), str(path))


def _parquet_state(path):
    import glob
    import os

    return sorted(
        (p, os.stat(p).st_mtime_ns, os.stat(p).st_size)
        for p in glob.glob(str(path) + "/**/*.parquet", recursive=True)
        if "_delta_log" not in p
    )


@pytest.mark.parametrize("dirname", ["t", "t with space", "t%41x"])
def test_dv_delete_marks_positions_without_rewriting(spark, tmp_path, dirname):
    """Also under directory names that Spark's file URIs percent-encode:
    the DV anti-join and the DML's file lookup must key on the path the
    log names, decoded exactly once (``%41`` is not ``A``)."""
    from pg_analytics_spark.sources.delta import _load_via_log, snapshot
    from pg_analytics_spark.sources.delta_write import delete_delta

    t = tmp_path / dirname
    _mk_table(spark, t)
    before = _parquet_state(t)
    res = delete_delta(spark, str(t), "k = 3", dv=True)
    assert res["dv_files"] > 0 and res["rows_deleted"] == 50
    assert res["files_added"] == 0 and res["rows_written"] == 0
    # data files untouched byte-for-byte — the whole point of MoR
    assert _parquet_state(t) == before
    out = load_source(spark, str(t), "delta")
    assert out.count() == 350
    assert out.filter("k = 3").count() == 0
    # old snapshot still time-travels (DV is a NEW version's overlay)
    assert _load_via_log(spark, snapshot(str(t), 0)).count() == 400
    # commit shape: remove precedes the re-add of the same path, and a
    # protocol upgrade announces the deletionVectors feature
    log = (t / "_delta_log" / "00000000000000000001.json").read_text()
    acts = [json.loads(ln) for ln in log.splitlines() if ln.strip()]
    kinds = [next(iter(a)) for a in acts]
    assert "protocol" in kinds
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert "deletionVectors" in proto["readerFeatures"]
    by_path = {}
    for i, a in enumerate(acts):
        if "remove" in a:
            by_path.setdefault(a["remove"]["path"], {})["rm"] = i
        if "add" in a:
            by_path.setdefault(a["add"]["path"], {})["add"] = i
    for p, idx in by_path.items():
        assert {"rm", "add"} <= set(idx), p
        assert idx["rm"] < idx["add"], "remove must precede re-add"
        add = acts[idx["add"]]["add"]
        assert add["deletionVector"]["storageType"] == "u"
        assert add["deletionVector"]["cardinality"] > 0


def test_dv_successive_deletes_union(spark, tmp_path):
    from pg_analytics_spark.sources.delta import snapshot
    from pg_analytics_spark.sources.delta_write import delete_delta

    t = tmp_path / "t"
    _mk_table(spark, t)
    delete_delta(spark, str(t), "k = 1", dv=True)
    delete_delta(spark, str(t), "k = 2", dv=True)
    out = load_source(spark, str(t), "delta")
    assert out.count() == 300
    assert out.filter("k in (1, 2)").count() == 0
    # the second commit's descriptors carry the UNION's cardinality
    active = snapshot(str(t)).active
    cards = sorted(
        a["deletionVector"]["cardinality"] for a in active.values()
    )
    assert sum(cards) == 100


def test_dv_delete_fully_matched_file_is_pure_remove(spark, tmp_path):
    from pg_analytics_spark.sources.delta import snapshot
    from pg_analytics_spark.sources.delta_write import (
        delete_delta,
        write_delta,
    )

    t = tmp_path / "t"
    # two separate commits → two files with disjoint `lo`, so the
    # first file fully matches the predicate
    df = spark.range(0, 100).selectExpr("id", "id < 50 as lo")
    write_delta(df.filter("lo").coalesce(1), str(t))
    write_delta(df.filter("not lo").coalesce(1), str(t), mode="append")
    res = delete_delta(spark, str(t), "lo", dv=True)
    out = load_source(spark, str(t), "delta")
    assert out.count() == 50 and out.filter("lo").count() == 0
    # at least one file dropped entirely: active set shrank, and the
    # dropped file has NO deletion vector (pure remove, no DV blob)
    active = snapshot(str(t)).active
    assert res["files_removed"] >= 1
    assert all(
        not a.get("deletionVector")
        or a["deletionVector"]["cardinality"] < 100
        for a in active.values()
    )


def test_dv_update_stages_only_matched_images(spark, tmp_path):
    from pg_analytics_spark.sources.delta import snapshot
    from pg_analytics_spark.sources.delta_write import update_delta

    t = tmp_path / "t"
    _mk_table(spark, t)
    before = _parquet_state(t)
    res = update_delta(spark, str(t), {"v": "v + 1000"}, "k = 5", dv=True)
    assert res["rows_written"] == 50  # ONLY the matched images
    # original files untouched; new files carry just the images
    after = _parquet_state(t)
    assert [x for x in after if x in before] == before
    assert len(after) > len(before)
    out = load_source(spark, str(t), "delta")
    assert out.count() == 400
    assert out.filter("k = 5 and v < 1000").count() == 0
    assert out.filter("k = 5").count() == 50
    # untouched rows keep exact values
    assert out.filter("k = 0 and v = 0.0").count() == 1


def test_dv_checkpoint_preserves_descriptors(spark, tmp_path):
    from pg_analytics_spark.sources.delta_write import (
        checkpoint_delta,
        delete_delta,
    )

    t = tmp_path / "t"
    _mk_table(spark, t)
    delete_delta(spark, str(t), "k = 7", dv=True)
    checkpoint_delta(str(t))
    out = load_source(spark, str(t), "delta")
    assert out.count() == 350 and out.filter("k = 7").count() == 0


def test_dv_null_predicate_three_valued_logic(spark, tmp_path):
    from pg_analytics_spark.sources.delta_write import delete_delta

    t = tmp_path / "t"
    _mk_table(spark, t)
    # NULL predicate on k=6 rows: neither matched nor deleted
    delete_delta(
        spark,
        str(t),
        "CASE WHEN k = 6 THEN NULL ELSE k = 0 END",
        dv=True,
    )
    out = load_source(spark, str(t), "delta")
    assert out.count() == 350
    assert out.filter("k = 6").count() == 50
    assert out.filter("k = 0").count() == 0


def test_vacuum_keeps_live_dv_blobs_and_drops_superseded(spark, tmp_path):
    """Each DV rewrite allocates a fresh uuid blob; VACUUM must keep
    the blobs the CURRENT version references and delete superseded
    ones past retention — same contract as data files."""
    import glob

    from pg_analytics_spark.sources.delta_write import (
        delete_delta,
        vacuum_delta,
    )

    t = tmp_path / "t"
    _mk_table(spark, t)
    delete_delta(spark, str(t), "k = 1", dv=True)
    delete_delta(spark, str(t), "k = 2", dv=True)  # supersedes blob 1
    blobs = sorted(glob.glob(str(t) + "/deletion_vector_*.bin"))
    assert len(blobs) == 2
    res = vacuum_delta(str(t), retention_hours=0.0)
    assert res["files_deleted"] == 1  # only the superseded blob
    left = sorted(glob.glob(str(t) + "/deletion_vector_*.bin"))
    assert len(left) == 1
    out = load_source(spark, str(t), "delta")
    assert out.count() == 300
    assert out.filter("k in (1, 2)").count() == 0


def test_enable_dv_property_routes_statements_mor(spark, tmp_path):
    """delta.enableDeletionVectors=true on the table makes engine SQL
    UPDATE/DELETE take the DV path — no per-statement flag, exactly
    delta-spark's TBLPROPERTIES contract."""
    import glob
    import os

    from pg_analytics_spark.engine import Engine
    from pg_analytics_spark.sources.delta_write import write_delta

    t = tmp_path / "t"
    df = spark.range(0, 200).selectExpr("id", "id % 4 as k")
    write_delta(
        df.repartition(2),
        str(t),
        configuration={"delta.enableDeletionVectors": "true"},
    )
    before = sorted(glob.glob(str(t) + "/*.parquet"))
    eng = Engine(spark=spark)
    eng.attach("dvprop", [str(t)], "delta")
    eng.sql("DELETE FROM dvprop WHERE k = 1")
    assert sorted(glob.glob(str(t) + "/*.parquet")) == before  # MoR
    assert glob.glob(str(t) + "/deletion_vector_*.bin")
    out = load_source(spark, str(t), "delta")
    assert out.count() == 150 and out.filter("k = 1").count() == 0


def test_property_routing_survives_checkpoint_replay(spark, tmp_path):
    """Regression (r13): _read_checkpoint left metaData.configuration
    as pyarrow's pair list, so EVERY property read after a checkpoint
    replay broke (cfg.get on a list) — the delta.enableDeletionVectors
    routing contract silently reverted DML to copy-on-write once the
    table had a checkpoint.  Pin: checkpoint, then DELETE still takes
    the merge-on-read DV path (same file re-added with a descriptor).
    """
    from pg_analytics_spark.sources.delta import snapshot
    from pg_analytics_spark.sources.delta_write import (
        checkpoint_delta,
        delete_delta,
        write_delta,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 10) for i in range(400)], "v long, k long"
    ).coalesce(2)
    write_delta(
        df, t, mode="overwrite",
        configuration={"delta.enableDeletionVectors": "true"},
    )
    checkpoint_delta(t)
    delete_delta(spark, t, "k = 3")  # routing comes from the PROPERTY
    snap = snapshot(t)
    active, meta = snap.active, snap.metadata
    assert isinstance(meta.get("configuration"), dict)
    assert any(a.get("deletionVector") for a in active.values()), (
        "post-checkpoint DELETE lost the DV routing property"
    )
    out = load_source(spark, t, "delta")
    assert out.count() == 360 and out.filter("k = 3").count() == 0
