"""Delta CHECK constraints (protocol writer feature
``checkConstraints``): ALTER ADD/DROP CONSTRAINT, protocol bump to
minWriterVersion 3, and enforcement on EVERY write path — append,
overwrite, UPDATE rewrite, MERGE output
(sources/delta_write.alter_delta_constraints / _check_constraints)."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources import load_source
from pg_analytics_spark.sources.delta import snapshot
from pg_analytics_spark.sources.delta_write import (
    alter_delta_constraints,
    merge_delta,
    update_delta,
    write_delta,
)


def _mk(spark, path):
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_delta(df, path, mode="overwrite")
    return df


def test_add_validates_existing_and_bumps_protocol(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    # a constraint the current data violates is refused
    with pytest.raises(UnsupportedFormat, match="violated by 5 row"):
        alter_delta_constraints(path, add=("v_big", "v >= 10"), spark=spark)
    r = alter_delta_constraints(path, add=("v_pos", "v >= 0"), spark=spark)
    assert r["operation"] == "ADD CONSTRAINT"
    proto = snapshot(path).protocol
    assert proto["minWriterVersion"] >= 3
    with pytest.raises(UnsupportedFormat, match="already exists"):
        alter_delta_constraints(path, add=("v_pos", "v >= 0"), spark=spark)


def test_enforced_on_every_write_path(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    alter_delta_constraints(path, add=("v_pos", "v >= 0"), spark=spark)
    bad = spark.createDataFrame([(100, -2)], "k long, v long")
    n_before = load_source(spark, path, "delta").count()
    # append
    with pytest.raises(UnsupportedFormat, match="v_pos"):
        write_delta(bad, path, mode="append")
    # overwrite
    with pytest.raises(UnsupportedFormat, match="v_pos"):
        write_delta(bad, path, mode="overwrite")
    # UPDATE rewrite
    with pytest.raises(UnsupportedFormat, match="v_pos"):
        update_delta(spark, path, {"v": "v - 100"}, "k < 3")
    # merge-on-read (DV) UPDATE stages only updated row images —
    # still enforced
    with pytest.raises(UnsupportedFormat, match="v_pos"):
        update_delta(spark, path, {"v": "v - 100"}, "k < 3", dv=True)
    # MERGE output
    with pytest.raises(UnsupportedFormat, match="v_pos"):
        merge_delta(
            bad,
            path,
            "t.k = s.k",
            [
                {"when": "not_matched", "action": "insert",
                 "values": "all", "condition": None},
            ],
        )
    # nothing was committed or staged by any refused write
    out = load_source(spark, path, "delta")
    assert out.count() == n_before and out.filter("v < 0").count() == 0
    # NULL passes (SQL CHECK semantics) and valid rows write fine
    write_delta(
        spark.createDataFrame([(200, None)], "k long, v long"),
        path,
        mode="append",
    )
    write_delta(
        spark.createDataFrame([(201, 7)], "k long, v long"),
        path,
        mode="append",
    )
    assert load_source(spark, path, "delta").count() == n_before + 2
    # after DROP the write goes through
    alter_delta_constraints(path, drop="v_pos")
    write_delta(bad, path, mode="append")
    assert load_source(spark, path, "delta").filter("v < 0").count() == 1
    with pytest.raises(UnsupportedFormat, match="does not exist"):
        alter_delta_constraints(path, drop="v_pos")


def test_engine_sql_statements(spark, tmp_path):
    from pg_analytics_spark.engine import Engine

    path = str(tmp_path / "t")
    _mk(spark, path)
    eng = Engine(spark=spark)
    eng.attach("t", [path], "delta")
    r = eng.sql(
        "ALTER TABLE t ADD CONSTRAINT v_pos CHECK (v >= 0 AND v < 1000)"
    ).collect()[0]
    assert r["operation"] == "ADD CONSTRAINT" and r["name"] == "v_pos"
    # surfaced through SHOW TBLPROPERTIES
    props = {
        row["key"]: row["value"]
        for row in eng.sql("SHOW TBLPROPERTIES t").collect()
    }
    assert props["delta.constraints.v_pos"] == "v >= 0 AND v < 1000"
    with pytest.raises(UnsupportedFormat, match="v_pos"):
        eng.sql("INSERT INTO t VALUES (100, -5)")
    r2 = eng.sql("ALTER TABLE t DROP CONSTRAINT v_pos").collect()[0]
    assert r2["operation"] == "DROP CONSTRAINT"
    eng.sql("INSERT INTO t VALUES (100, -5)")
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM t WHERE v = -5"
    ).collect()[0]["n"] == 1


class TestGeneratedColumns:
    """Protocol writer feature generatedColumns (minWriterVersion 4,
    schemaString metadata key delta.generationExpression): absent
    columns compute, provided columns validate (mismatch refuses the
    write), DML rewrites recompute, declaration is creation-only."""

    def _mk(self, spark, a, b):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(a, b)], "id bigint, v double"
        )

    def test_create_computes_and_append_validates(self, spark, tmp_path):
        import json as _json
        import os as _os

        from pg_analytics_spark.sources import load_source
        from pg_analytics_spark.sources.delta_write import write_delta

        d = str(tmp_path / "t")
        base = self._mk(spark, 0, 10).withColumn(
            "doubled", F.expr("v * 2")
        )
        write_delta(
            base, d, mode="overwrite", generated={"doubled": "v * 2"}
        )
        # protocol floor + metadata key on the creating commit
        log = _os.path.join(d, "_delta_log")
        first = _os.path.join(log, f"{0:020d}.json")
        acts = [_json.loads(x) for x in open(first) if x.strip()]
        proto = next(a["protocol"] for a in acts if "protocol" in a)
        assert proto["minWriterVersion"] >= 4
        meta = next(a["metaData"] for a in acts if "metaData" in a)
        md = {
            f["name"]: (f.get("metadata") or {}).get(
                "delta.generationExpression"
            )
            for f in _json.loads(meta["schemaString"])["fields"]
        }
        assert md["doubled"] == "v * 2"
        # append WITHOUT the column: computed
        write_delta(self._mk(spark, 10, 12), d, mode="append")
        got = {
            r["id"]: r["doubled"]
            for r in load_source(spark, d, "delta").collect()
        }
        assert got[11] == 22.0 and got[3] == 6.0
        # append with CORRECT provided values: passes
        ok = self._mk(spark, 12, 13).withColumn(
            "doubled", F.expr("v * 2")
        )
        write_delta(ok, d, mode="append")
        # append with WRONG values: refused, nothing written
        bad = self._mk(spark, 13, 14).withColumn("doubled", F.lit(0.0))
        with pytest.raises(UnsupportedFormat, match="generated column"):
            write_delta(bad, d, mode="append")
        assert load_source(spark, d, "delta").count() == 13

    def test_dml_recomputes(self, spark, tmp_path):
        from pg_analytics_spark.sources import load_source
        from pg_analytics_spark.sources.delta_write import (
            update_delta,
            write_delta,
        )

        d = str(tmp_path / "t")
        write_delta(
            self._mk(spark, 0, 10), d, mode="overwrite",
            generated={"doubled": "v * 2"},
        )
        update_delta(spark, d, {"v": "v + 100"}, "id = 3")
        got = {
            r["id"]: (r["v"], r["doubled"])
            for r in load_source(spark, d, "delta").collect()
        }
        assert got[3] == (103.0, 206.0)  # recomputed with the new v
        assert got[4] == (4.0, 8.0)

    def test_declaration_is_creation_only(self, spark, tmp_path):
        from pg_analytics_spark.sources.delta_write import write_delta

        d = str(tmp_path / "t")
        write_delta(self._mk(spark, 0, 5), d, mode="overwrite")
        with pytest.raises(UnsupportedFormat, match="CREATED"):
            write_delta(
                self._mk(spark, 5, 6).withColumn(
                    "doubled", F.expr("v * 2")
                ),
                d,
                mode="append",
                generated={"doubled": "v * 2"},
            )

    def test_overwrite_keeps_generation_and_refuses_reshape(
        self, spark, tmp_path
    ):
        """r11 advice: a schema-changing overwrite must not silently
        drop generation expressions; a same-shape overwrite (generated
        column omitted) recomputes and KEEPS enforcement, and a
        partition-respec overwrite's re-minted metaData still carries
        delta.generationExpression."""
        import json as _json
        import os as _os

        from pg_analytics_spark.sources import load_source
        from pg_analytics_spark.sources.delta_write import write_delta

        d = str(tmp_path / "t")
        write_delta(
            self._mk(spark, 0, 5), d, mode="overwrite",
            generated={"doubled": "v * 2"},
        )
        # reshape (new column set) → refused, table untouched
        other = spark.createDataFrame(
            [(1, "x")], "id bigint, w string"
        )
        with pytest.raises(UnsupportedFormat, match="GENERATED"):
            write_delta(other, d, mode="overwrite")
        # same shape, generated column omitted → recomputed
        write_delta(self._mk(spark, 10, 13), d, mode="overwrite")
        got = {
            r["id"]: r["doubled"]
            for r in load_source(spark, d, "delta").collect()
        }
        assert got == {10: 20.0, 11: 22.0, 12: 24.0}
        # enforcement survives the overwrite
        bad = self._mk(spark, 20, 21).withColumn("doubled", F.lit(0.0))
        with pytest.raises(UnsupportedFormat, match="generated column"):
            write_delta(bad, d, mode="append")
        # partition respec re-mints metaData: expressions must ride it
        write_delta(
            self._mk(spark, 0, 4), d, mode="overwrite", partition_by="id"
        )
        log = _os.path.join(d, "_delta_log")
        last = sorted(_os.listdir(log))[-1]
        acts = [
            _json.loads(x)
            for x in open(_os.path.join(log, last))
            if x.strip()
        ]
        meta = next(a["metaData"] for a in acts if "metaData" in a)
        md = {
            f["name"]: (f.get("metadata") or {}).get(
                "delta.generationExpression"
            )
            for f in _json.loads(meta["schemaString"])["fields"]
        }
        assert md["doubled"] == "v * 2"
        got = {
            r["id"]: r["doubled"]
            for r in load_source(spark, d, "delta").collect()
        }
        assert got == {0: 0.0, 1: 2.0, 2: 4.0, 3: 6.0}
