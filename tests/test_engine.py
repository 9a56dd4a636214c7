"""Engine lifecycle API tests — the reference's scan/DDL test surface
(reference tests/tests/scan.rs, explain.rs, settings.rs) re-expressed."""

from __future__ import annotations

import os
import types

import pytest

from pg_analytics_spark.errors import DataTypeMismatch, EngineError

from .conftest import SF_DIR


@pytest.mark.parametrize(
    "cpus, master, partitions",
    [("2", "local[2]", "2"), (None, "local[*]", str(os.cpu_count() or 8))],
)
def test_shuffle_partitions_follow_requested_cores(monkeypatch, cpus, master, partitions):
    """get_spark's default shuffle partitions come from the cores it
    asks for ($SPARK_GRAFT_CPUS), not from the host's core count.
    ``SparkSession.builder`` is a stub here: the shared test session
    stays untouched."""
    from pg_analytics_spark import session

    seen = {}

    class _Builder:
        def appName(self, name):
            return self

        def master(self, m):
            seen["master"] = m
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return types.SimpleNamespace(
                sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
            )

    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=_Builder())
    )
    if cpus is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    session.get_spark()
    assert seen["master"] == master
    assert seen["spark.sql.shuffle.partitions"] == partitions


def test_attach_and_count(engine):
    # Flagship demo: attach parquet + COUNT(*) (reference README.md:98-118).
    n = engine.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0][0]
    assert n > 0


def test_attach_idempotent(engine):
    # Re-attach replaces the registration (reference trigger.rs:139-143).
    df1 = engine.attach("li2", f"{SF_DIR}/lineitem.parquet")
    df2 = engine.attach("li2", f"{SF_DIR}/lineitem.parquet")
    assert df1.columns == df2.columns
    engine.detach("li2")


def test_attach_declared_columns_numeric_cast(engine):
    # Permissive numeric casts (reference cell.rs:754-757): double→int ok.
    df = engine.attach(
        "li_cast",
        f"{SF_DIR}/lineitem.parquet",
        columns={"l_quantity": "integer"},
    )
    assert dict(df.dtypes)["l_quantity"] == "int"
    engine.detach("li_cast")


def test_attach_declared_columns_mismatch(engine):
    # Non-castable pair raises a named error (reference cell.rs:1404-1417).
    with pytest.raises(DataTypeMismatch):
        engine.attach(
            "li_bad",
            f"{SF_DIR}/lineitem.parquet",
            columns={"l_shipdate": "boolean"},
        )


def test_views_nested(engine):
    # Nested views (reference tests/tests/scan.rs:652-691).
    engine.create_view("v_orders", "SELECT * FROM orders WHERE o_totalprice > 100")
    engine.create_view("v_orders2", "SELECT o_orderkey FROM v_orders LIMIT 5")
    assert engine.sql("SELECT COUNT(*) AS n FROM v_orders2").collect()[0][0] <= 5


def test_prepare_execute_deallocate(engine):
    # PREPARE/EXECUTE lifecycle (reference utility/prepare.rs:27-119).
    engine.prepare("p1", "SELECT COUNT(*) AS n FROM nation WHERE n_regionkey = :rk")
    n = engine.execute("p1", {"rk": 1}).collect()[0][0]
    assert n > 0
    engine.deallocate("p1")
    with pytest.raises(EngineError):
        engine.execute("p1")


def test_parameterized_sql(engine):
    # $1-style parameters (reference tests/tests/scan.rs:579-592) → :name.
    df = engine.sql(
        "SELECT n_name FROM nation WHERE n_nationkey = :k", args={"k": 0}
    )
    assert df.count() == 1


def test_explain_styles(engine):
    # Styles per reference utility/explain.rs:39-96, 148-155: pg one-liner,
    # DuckDB-like box art, Spark formatted passthrough.
    pg = engine.explain("SELECT COUNT(*) FROM lineitem", style="pg")
    assert pg.startswith("Spark Scan:")
    box = engine.explain("SELECT COUNT(*) FROM lineitem", style="duckdb")
    assert "┌" in box and "│" in box and "└" in box
    assert "HASHAGGREGATE" in box.upper()
    full = engine.explain("SELECT COUNT(*) FROM lineitem", style="formatted")
    assert "Physical Plan" in full
    timed = engine.explain("SELECT COUNT(*) FROM nation", style="pg", analyze=True)
    assert "Execution Time:" in timed


def test_settings_and_set(engine):
    # duckdb_settings analog (reference api/duckdb.rs:32-66, settings.rs tests).
    engine.set("spark.sql.shuffle.partitions", 4)
    df = engine.settings()
    assert {"key", "value", "meaning"} <= set(df.columns)
    assert (
        engine.spark.conf.get("spark.sql.shuffle.partitions") == "4"
    )


def test_describe_and_schema(engine):
    # DESCRIBE path (reference trigger.rs DESCRIBE; api/parquet.rs:113-190).
    rows = {r["col_name"]: r["data_type"] for r in engine.describe("lineitem").collect()}
    assert rows["l_orderkey"] == "bigint"
    assert engine.schema("lineitem")["l_quantity"].dataType.typeName() == "double"


def test_parquet_schema_and_describe(engine):
    meta = engine.parquet_schema(f"{SF_DIR}/region.parquet").collect()
    assert {r["name"] for r in meta} == {"r_regionkey", "r_name"}
    desc = {
        r["column_name"]: r["column_type"]
        for r in engine.parquet_describe(f"{SF_DIR}/region.parquet").collect()
    }
    assert desc["r_regionkey"] == "int"


def test_execute_raw(engine):
    # duckdb_execute escape hatch (reference api/duckdb.rs:26-29).
    assert engine.execute_raw("SELECT 1 AS one").collect()[0][0] == 1


def test_events_nanos_repaired(engine):
    # TIMESTAMP(NANOS) parquet must surface as a usable timestamp column.
    dtypes = dict(engine.spark.table("events").dtypes)
    assert dtypes["ts"] == "timestamp_ntz"
    n = engine.sql(
        "SELECT COUNT(*) AS n FROM events WHERE ts >= TIMESTAMP '1970-01-01'"
    ).collect()[0][0]
    assert n > 0


def test_sniff_csv(engine, tmp_path):
    p = tmp_path / "dialect.csv"
    p.write_text(
        "id;name;price\n1;widget;9.99\n2;gadget;12.50\n3;sprocket;0.25\n"
    )
    sniffed = engine.sniff_csv(str(p))
    assert sniffed["delimiter"] == ";"
    assert sniffed["has_header"] is True
    names = [c["name"] for c in sniffed["columns"]]
    assert names == ["id", "name", "price"]
    types = {c["name"]: c["type"] for c in sniffed["columns"]}
    assert types["id"] in ("int", "bigint") and types["price"] == "double"


def test_ctas_materialization(engine, tmp_path):
    """CTAS (SURVEY §2.2 CTAS row; reference tests/tests/scan.rs:314-333
    materializes foreign-table scans into a heap table)."""
    loc = str(tmp_path / "ctas_out")
    engine.sql(
        f"CREATE TABLE ctas_cheap USING parquet LOCATION '{loc}' AS "
        "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity < 3"
    )
    try:
        back = engine.sql("SELECT COUNT(*) AS n FROM ctas_cheap").collect()[0]["n"]
        direct = engine.sql(
            "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity < 3"
        ).collect()[0]["n"]
        assert back == direct > 0
        # the files are plain parquet, re-readable without the catalog
        again = engine.spark.read.parquet(loc).count()
        assert again == direct
    finally:
        engine.sql("DROP TABLE IF EXISTS ctas_cheap")


def test_materialize_external_partitioned(engine, tmp_path):
    import os

    out = str(tmp_path / "curated")
    df = engine.materialize(
        "curated_orders",
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders",
        path=out,
        partition_by="o_orderpriority",
    )
    assert df.count() == engine.sql("SELECT COUNT(*) c FROM orders").collect()[0]["c"]
    # hive layout on disk + re-attached under the new name
    assert any(d.startswith("o_orderpriority=") for d in os.listdir(out))
    n = engine.sql(
        "SELECT COUNT(*) c FROM curated_orders WHERE o_orderpriority = '1-URGENT'"
    ).collect()[0]["c"]
    assert n > 0
    engine.detach("curated_orders")


def test_materialize_managed_bucketed(engine):
    import shutil

    engine.spark.sql("DROP TABLE IF EXISTS orders_mat_b")
    wh = engine.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/orders_mat_b", ignore_errors=True)
    df = engine.materialize(
        "orders_mat_b",
        "SELECT o_orderkey, o_custkey FROM orders",
        bucket_by=(4, "o_orderkey"),
        sort_by="o_orderkey",
    )
    assert df.count() > 0
    desc = engine.spark.sql("DESCRIBE TABLE EXTENDED orders_mat_b").collect()
    txt = "\n".join(f"{r['col_name']} {r['data_type']}" for r in desc)
    assert "Num Buckets" in txt and "4" in txt, txt
    engine.spark.sql("DROP TABLE orders_mat_b")


def test_materialize_rejects_bucket_with_path(engine, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        engine.materialize(
            "x",
            "SELECT 1 AS a",
            path=str(tmp_path / "x"),
            bucket_by=(4, "a"),
        )


def test_cancel_all_interrupts_running_job(engine):
    """C1 parity: cancel_all() kills an in-flight job; the session stays
    usable afterwards (the reference interrupts DuckDB on signals,
    connection.rs:57-64)."""
    import threading
    import time

    from pyspark.sql import functions as F

    errors = []

    def slow_job():
        try:
            # ~minutes of work if not cancelled
            engine.spark.range(3_000_000_000).select(
                F.sum(F.sha2(F.col("id").cast("string"), 256).substr(1, 2).cast("long"))
            ).collect()
        except Exception as e:
            errors.append(e)

    t = threading.Thread(target=slow_job)
    t.start()
    time.sleep(2)
    engine.cancel_all()
    t.join(timeout=60)
    assert not t.is_alive(), "job did not cancel"
    assert errors, "cancelled job should raise"
    # session still works
    assert engine.sql("SELECT 1 AS x").collect()[0]["x"] == 1


def test_fetch_and_iter_rows(engine):
    rows = engine.fetch("SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")
    assert len(rows) == 25 and rows[0]["n_nationkey"] == 0
    it = engine.iter_rows("SELECT n_nationkey FROM nation ORDER BY n_nationkey")
    first = next(iter(it))
    assert first["n_nationkey"] == 0


def test_use_database_roundtrip(engine):
    assert engine.current_database() == "default"
    engine.spark.sql("CREATE DATABASE IF NOT EXISTS scratch")
    engine.use("scratch")
    assert engine.current_database() == "scratch"
    # temp views still resolve regardless of current database (C2 note)
    assert engine.sql("SELECT COUNT(*) c FROM nation").collect()[0]["c"] == 25
    engine.use("default")
    engine.spark.sql("DROP DATABASE scratch")


def test_materialize_writer_options(engine, tmp_path):
    out = str(tmp_path / "zstd_out")
    engine.materialize(
        "zstd_t",
        "SELECT n_nationkey, n_name FROM nation",
        path=out,
        options={"compression": "zstd"},
    )
    import glob
    import pyarrow.parquet as pq

    f = glob.glob(f"{out}/*.parquet")[0]
    meta = pq.ParquetFile(f).metadata
    assert meta.row_group(0).column(0).compression.lower() == "zstd"
    engine.detach("zstd_t")


def test_compact_small_files(spark, tmp_path):
    from pg_analytics_spark.engine import Engine

    eng = Engine(spark=spark)
    path = str(tmp_path / "many")
    # 16 tiny appended files, the streaming-sink pathology
    for i in range(4):
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "id % 3 AS g"
        ).repartition(4).write.mode("append").parquet(path)
    before = spark.read.parquet(path)
    n_rows = before.count()
    stats = eng.compact(path, target_file_mb=128)
    assert stats["files_before"] >= 16
    assert stats["files_after"] == 1  # tiny data -> one target file
    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert sorted(r["id"] for r in after.collect()) == sorted(
        range(0, 400)
    )


def test_compact_partitioned_one_file_per_partition(spark, tmp_path):
    from pg_analytics_spark.engine import Engine

    eng = Engine(spark=spark)
    path = str(tmp_path / "manyp")
    for i in range(3):
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "CAST(id % 2 AS INT) AS part"
        ).repartition(3).write.mode("append").partitionBy("part").parquet(path)
    stats = eng.compact(path, partition_by="part")
    after = spark.read.parquet(path)
    assert after.count() == 300
    assert stats["files_after"] <= 2  # one per partition dir
    assert {r["part"] for r in after.select("part").distinct().collect()} == {
        0,
        1,
    }


def test_fetch_arrow_and_iter_arrow(engine):
    """Arrow interchange parity (reference connection.rs:176-229): full
    table fetch and the bounded-memory RecordBatch cursor agree."""
    import pyarrow as pa

    t = engine.fetch_arrow("SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")
    assert isinstance(t, pa.Table)
    assert t.num_rows == 25 and t.column_names == ["n_nationkey", "n_name"]
    batches = list(
        engine.iter_arrow(
            "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",
            batch_rows=10,
        )
    )
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert [b.num_rows for b in batches] == [10, 10, 5]
    joined = pa.Table.from_batches(batches)
    assert joined.to_pydict() == t.to_pydict()


def test_summarize_profile(engine):
    """SUMMARIZE analog: one row per column, numeric stats only where
    they make sense, null accounting exact."""
    prof = {r["column_name"]: r for r in engine.summarize("orders").collect()}
    assert set(prof) == set(engine.spark.table("orders").columns)
    ok = prof["o_orderkey"]
    assert ok["column_type"] == "bigint" and ok["count"] > 0
    assert ok["avg"] is not None and ok["q50"] is not None
    assert prof["o_orderpriority"]["avg"] is None  # string column
    assert prof["o_orderkey"]["null_percentage"] == 0.0
    # query form
    q = engine.summarize("SELECT o_totalprice FROM orders WHERE o_totalprice > 0")
    assert q.count() == 1


def test_copy_to_roundtrip(engine, tmp_path):
    """COPY TO analog: parquet and csv exports round-trip."""
    n = engine.copy_to(
        "SELECT n_nationkey, n_name FROM nation", str(tmp_path / "pq")
    )
    assert n == 25
    assert engine.spark.read.parquet(str(tmp_path / "pq")).count() == 25
    n2 = engine.copy_to(
        "SELECT n_nationkey, n_name FROM nation",
        str(tmp_path / "csv"),
        format="csv",
        single_file=True,
    )
    back = engine.spark.read.option("header", True).csv(str(tmp_path / "csv"))
    assert back.count() == n2 == 25
    import pytest as _pytest

    from pg_analytics_spark.errors import EngineError

    with _pytest.raises(EngineError):
        engine.copy_to("SELECT 1", str(tmp_path / "x"), format="xml")


def test_copy_to_single_execution(engine, tmp_path):
    """copy_to runs the query ONCE: the count is an observed metric on
    the write job, not a separate count() job.  An accumulator bumped
    per evaluated row proves it — the old count()+write shape evaluates
    every row twice."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    acc = engine.spark.sparkContext.accumulator(0)

    def _tick(v):
        acc.add(1)
        return v

    tick = F.udf(_tick, LongType())
    engine.spark.range(100).select(tick("id").alias("id")).createOrReplaceTempView(
        "_copy_once_src"
    )
    n = engine.copy_to("SELECT id FROM _copy_once_src", str(tmp_path / "once"))
    assert n == 100
    assert engine.spark.read.parquet(str(tmp_path / "once")).count() == 100
    assert acc.value == 100  # one evaluation per row, not two


def test_copy_sql_statement(engine, tmp_path):
    """The reference's raw COPY text executes through Engine.sql."""
    out = str(tmp_path / "copy_out")
    res = engine.sql(
        f"COPY (SELECT n_nationkey, n_name FROM nation) TO '{out}' (FORMAT PARQUET)"
    ).collect()
    assert res[0]["count"] == 25
    assert engine.spark.read.parquet(out).count() == 25


def test_iter_arrow_complex_types(engine):
    """The columnar cursor must carry timestamps and arrays through the
    IPC hop unchanged (types survive, values equal fetch_arrow)."""
    q = (
        "SELECT ts, array(event_id, user_id) AS pair, props "
        "FROM events ORDER BY event_id LIMIT 30"
    )
    import pyarrow as pa

    batches = list(engine.iter_arrow(q, batch_rows=7))
    assert [b.num_rows for b in batches] == [7, 7, 7, 7, 2]
    joined = pa.Table.from_batches(batches)
    full = engine.fetch_arrow(q)
    assert joined.schema == full.schema
    assert joined.to_pydict() == full.to_pydict()


def test_ctas_delta_iceberg_sql_text(engine, tmp_path):
    """CREATE TABLE … USING delta|iceberg LOCATION … AS SELECT routes
    to the native protocol writers (no runtime jars needed) and
    attaches the result under the table name."""
    import os

    dloc = str(tmp_path / "ctas_delta")
    engine.sql(
        f"CREATE TABLE ctas_d USING delta "
        f"PARTITIONED BY (n_regionkey) LOCATION '{dloc}' AS "
        "SELECT n_nationkey, n_name, n_regionkey FROM nation"
    )
    assert os.path.isdir(os.path.join(dloc, "_delta_log"))
    assert engine.sql("SELECT COUNT(*) AS n FROM ctas_d").collect()[0]["n"] == 25
    n2 = engine.sql(
        "SELECT COUNT(*) AS n FROM ctas_d WHERE n_regionkey = 2"
    ).collect()[0]["n"]
    assert n2 == 5
    engine.detach("ctas_d")

    iloc = str(tmp_path / "ctas_ice")
    engine.sql(
        f"CREATE TABLE ctas_i USING iceberg LOCATION '{iloc}' AS "
        "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 9"
    )
    assert os.path.isdir(os.path.join(iloc, "metadata"))
    assert engine.sql("SELECT COUNT(*) AS n FROM ctas_i").collect()[0]["n"] == 9
    engine.detach("ctas_i")


def test_ctas_lake_create_vs_replace(engine, tmp_path):
    """Plain CREATE TABLE on an existing lakehouse target fails loudly;
    CREATE OR REPLACE performs the logical overwrite."""
    loc = str(tmp_path / "ctas_sem")
    engine.sql(
        f"CREATE TABLE ctas_sem USING delta LOCATION '{loc}' AS "
        "SELECT n_nationkey FROM nation WHERE n_nationkey < 5"
    )
    with pytest.raises(EngineError, match="already holds"):
        engine.sql(
            f"CREATE TABLE ctas_sem USING delta LOCATION '{loc}' AS "
            "SELECT n_nationkey FROM nation"
        )
    engine.sql(
        f"CREATE OR REPLACE TABLE ctas_sem USING delta LOCATION '{loc}' AS "
        "SELECT n_nationkey FROM nation WHERE n_nationkey < 3"
    )
    assert engine.sql("SELECT COUNT(*) AS n FROM ctas_sem").collect()[0]["n"] == 3
    engine.detach("ctas_sem")


def test_compact_delta_shape_and_partition_by_rejected(engine, tmp_path):
    from pg_analytics_spark.sources.delta_write import write_delta

    root = str(tmp_path / "dshape")
    write_delta(engine.spark.range(20).selectExpr("id"), root)
    res = engine.compact(root, format="delta")
    assert {"files_before", "files_after", "bytes", "version"} <= set(res)
    with pytest.raises(ValueError, match="partition_by"):
        engine.compact(root, format="delta", partition_by="id")


def test_create_secret_statement_text(engine):
    """The exact CREATE SECRET SQL the reference generates from user
    mappings (src/duckdb/secret.rs) applies through Engine.sql and
    lands as per-bucket Hadoop confs."""
    out = engine.sql(
        "CREATE OR REPLACE SECRET my_s3 ("
        " TYPE S3, KEY_ID 'AKID', SECRET 'sk''x', REGION 'eu-west-1',"
        " URL_STYLE 'path', SCOPE 's3://sealed-bucket/prefix' )"
    )
    conf = {r["key"]: r["value"] for r in out.collect()}
    pre = "fs.s3a.bucket.sealed-bucket."
    assert conf[pre + "access.key"] == "AKID"
    assert conf[pre + "secret.key"] == "sk'x"  # quote-escape handled
    assert conf[pre + "endpoint.region"] == "eu-west-1"
    assert conf[pre + "path.style.access"] == "true"
    # the confs really landed in the session
    assert (
        engine.spark.conf.get(f"spark.hadoop.{pre}access.key", None)
        == "AKID"
        or engine.spark._jsc.hadoopConfiguration().get(pre + "access.key")
        == "AKID"
    )


def test_insert_into_attached_delta_and_iceberg(engine, spark, tmp_path):
    """INSERT INTO an attached delta/iceberg table appends through the
    native writers and the attachment refreshes to the new snapshot."""
    from pg_analytics_spark.sources.delta_write import write_delta
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    droot = str(tmp_path / "dtab")
    write_delta(spark.range(3).selectExpr("id"), droot, mode="overwrite")
    engine.attach("dtab", droot, format="delta")
    res = engine.sql("INSERT INTO dtab SELECT id + 10 AS id FROM range(2)")
    assert res.collect()[0]["count"] == 2
    assert {r["id"] for r in engine.sql("SELECT id FROM dtab").collect()} == {
        0, 1, 2, 10, 11,
    }

    iroot = str(tmp_path / "itab")
    write_iceberg(spark.range(2).selectExpr("id"), iroot, mode="overwrite")
    engine.attach("itab", iroot, format="iceberg")
    res = engine.sql("INSERT INTO itab VALUES (7), (8)")
    assert res.collect()[0]["count"] == 2
    assert engine.sql("SELECT COUNT(*) AS n FROM itab").collect()[0]["n"] == 4
    engine.detach("dtab")
    engine.detach("itab")


def test_two_engines_interleaved_sessions(engine, spark):
    """Multi-session smoke (r4 verdict item 7): two Engines over
    newSession()-separated SparkSessions attach the SAME table name to
    DIFFERENT files and run interleaved queries — temp views, macros,
    prepared statements, and the nanos-stream marker are all
    session-scoped; nothing crosses over."""
    from tests.conftest import SF_DIR
    from pg_analytics_spark.engine import Engine

    s2 = spark.newSession()
    try:
        e2 = Engine(spark=s2)
        engine.attach("conc_t", f"{SF_DIR}/nation.parquet")
        e2.attach("conc_t", f"{SF_DIR}/region.parquet")
        # interleaved: each session resolves its OWN attachment
        n1 = engine.sql("SELECT COUNT(*) AS n FROM conc_t").collect()[0]["n"]
        n2 = e2.sql("SELECT COUNT(*) AS n FROM conc_t").collect()[0]["n"]
        c1 = engine.sql("SELECT * FROM conc_t").columns
        c2 = e2.sql("SELECT * FROM conc_t").columns
        assert "n_nationkey" in c1 and "r_regionkey" in c2
        assert n1 == 25 and n2 == 5
        n1b = engine.sql("SELECT COUNT(*) AS n FROM conc_t").collect()[0]["n"]
        assert n1b == 25  # e2's attach did not clobber e1's view
        # macros are per-engine state
        engine.sql("CREATE MACRO conc_m(x) AS x + 1")
        assert engine.sql("SELECT conc_m(1) AS v").collect()[0]["v"] == 2
        import pytest as _pytest

        with _pytest.raises(Exception):
            e2.sql("SELECT conc_m(1) AS v").collect()
        engine.sql("DROP MACRO conc_m")
        # the nanos-stream marker is a SESSION conf, not a module
        # global: setting it in session 1 is invisible to session 2
        from pg_analytics_spark.streaming.events import _NANOS_MARKER

        spark.conf.set(_NANOS_MARKER, "true")
        assert s2.conf.get(_NANOS_MARKER, "false") == "false"
        spark.conf.unset(_NANOS_MARKER)
        # sketch-cache release is a JVM-wide valve by design (both
        # sessions share one SparkContext's storage): releasing from
        # one engine only drops CACHES — values recompute exactly
        from pg_analytics_spark.operators.dedup import (
            exact_dedup,
            release_sketch_caches,
        )
        from pg_analytics_spark.sources import load_source

        d1 = load_source(spark, f"{SF_DIR}/documents.parquet", "parquet")
        d2 = load_source(s2, f"{SF_DIR}/documents.parquet", "parquet")
        r1 = exact_dedup(d1, "text", "doc_id").count()
        release_sketch_caches()
        r2 = exact_dedup(d2, "text", "doc_id").count()
        assert r1 == r2
    finally:
        engine.detach("conc_t")


def _lake_version(fmt: str, root: str) -> int:
    """The lake table's committed version: the newest Delta log entry or
    the Iceberg version hint."""
    if fmt == "delta":
        return max(
            int(f.split(".")[0])
            for f in os.listdir(os.path.join(root, "_delta_log"))
            if f.endswith(".json")
        )
    with open(os.path.join(root, "metadata", "version-hint.text")) as fh:
        return int(fh.read())


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_insert_into_lake_rejects_uncastable_values(engine, spark, tmp_path, fmt):
    """Standard INSERT semantics: a value the target type cannot
    represent ERRORS (DuckDB does too) — it must not be silently
    written as NULL by a non-ANSI cast.  The check rides the write's
    own job, and the failed INSERT commits nothing."""
    from pg_analytics_spark.engine import EngineError
    from pg_analytics_spark.sources.delta_write import write_delta
    from pg_analytics_spark.sources.iceberg_write import write_iceberg

    writer = write_delta if fmt == "delta" else write_iceberg
    root = str(tmp_path / "tab2")
    writer(spark.range(2).selectExpr("id"), root, mode="overwrite")
    engine.attach("tab2", root, format=fmt)
    try:
        version = _lake_version(fmt, root)
        with pytest.raises(
            EngineError,
            match=r"^INSERT INTO tab2: value\(s\) cannot be cast to id bigint$",
        ):
            engine.sql("INSERT INTO tab2 VALUES ('abc')")
        # nothing was committed by the failed insert
        assert _lake_version(fmt, root) == version
        n = engine.sql("SELECT COUNT(*) AS n FROM tab2").collect()[0]["n"]
        assert n == 2
        # a representable string still coerces (positional bind + cast)
        engine.sql("INSERT INTO tab2 VALUES ('41')")
        got = {
            r["id"] for r in engine.sql("SELECT id FROM tab2").collect()
        }
        assert got == {0, 1, 41}
    finally:
        engine.detach("tab2")


def test_insert_into_non_lake_table_still_errors_normally(engine):
    # parquet attachments keep Spark's own behavior (no silent rewrite)
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.sql("INSERT INTO region VALUES (9, 'x')").collect()


def test_describe_statement_duckdb_shape(engine):
    rows = engine.sql("DESCRIBE nation").collect()
    assert [r["column_name"] for r in rows] == [
        "n_nationkey", "n_name", "n_regionkey",
    ]
    assert rows[0]["column_type"] == "INT"
    assert rows[0]["null"] in ("YES", "NO")
    # query form: result schema WITHOUT executing
    rows2 = engine.sql(
        "DESCRIBE SELECT n_nationkey + 1 AS k, n_name FROM nation"
    ).collect()
    assert [(r["column_name"], r["column_type"]) for r in rows2] == [
        ("k", "INT"), ("n_name", "STRING"),
    ]


def test_describe_table_keyword_and_function_passthrough(engine):
    rows = engine.sql("DESCRIBE TABLE nation").collect()
    assert [r["column_name"] for r in rows] == [
        "n_nationkey", "n_name", "n_regionkey",
    ]
    # Spark's own DESCRIBE FUNCTION passes through untouched
    out = engine.sql("DESCRIBE FUNCTION upper").collect()
    assert any("upper" in str(r).lower() for r in out)


class TestCreateTempTable:
    def test_snapshot_semantics(self, spark):
        from pg_analytics_spark.engine import Engine

        eng = Engine(spark=spark)
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW ctt_base AS "
            "SELECT id, id * 2 AS v FROM range(5)"
        )
        eng.sql("CREATE TEMP TABLE ctt_snap AS SELECT * FROM ctt_base")
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW ctt_base AS "
            "SELECT id, id * 100 AS v FROM range(5)"
        )
        got = sorted(
            (r["id"], r["v"])
            for r in eng.sql("SELECT * FROM ctt_snap").collect()
        )
        # the temp TABLE materialized at creation — the view redefinition
        # must not leak in (the table/view distinction)
        assert got == [(i, i * 2) for i in range(5)]
        eng.sql("DROP TABLE ctt_snap")

    def test_duplicate_loud_replace_and_drop(self, spark):
        import pytest

        from pg_analytics_spark.engine import Engine
        from pg_analytics_spark.errors import EngineError

        eng = Engine(spark=spark)
        eng.sql("CREATE TEMP TABLE ctt_dup AS SELECT 1 AS x")
        with pytest.raises(EngineError, match="already exists"):
            eng.sql("CREATE TEMP TABLE ctt_dup AS SELECT 2 AS x")
        eng.sql("CREATE OR REPLACE TEMP TABLE ctt_dup AS SELECT 2 AS x")
        assert eng.sql("SELECT * FROM ctt_dup").collect()[0]["x"] == 2
        eng.sql("DROP TABLE ctt_dup")
        with pytest.raises(Exception):
            eng.sql("SELECT * FROM ctt_dup").collect()

    def test_drop_attachment_is_loud(self, spark, tmp_path):
        import pytest

        from pg_analytics_spark.engine import Engine
        from pg_analytics_spark.errors import EngineError

        p = str(tmp_path / "att.parquet")
        spark.range(3).write.parquet(p)
        eng = Engine(spark=spark)
        eng.attach("ctt_att", [p], "parquet")
        with pytest.raises(EngineError, match="detach"):
            eng.sql("DROP TABLE ctt_att")

    def test_dialect_shim_applies_inside_create(self, spark):
        from pg_analytics_spark.engine import Engine

        eng = Engine(spark=spark)
        # QUALIFY (DuckDB dialect) inside the CREATE's SELECT
        eng.sql(
            "CREATE OR REPLACE TEMP TABLE ctt_q AS "
            "SELECT id, row_number() OVER (ORDER BY id DESC) AS rk "
            "FROM range(10) QUALIFY rk <= 3"
        )
        assert eng.sql("SELECT COUNT(*) AS n FROM ctt_q").collect()[0][
            "n"
        ] == 3
        eng.sql("DROP TABLE ctt_q")


class TestForeignTableDDL:
    """The reference's own setup DDL, accepted as statement text
    (README.md:100-117; tests/tests/fixtures/arrow.rs:295-320)."""

    def _eng(self, spark):
        from pg_analytics_spark.engine import Engine

        eng = Engine(spark=spark)
        eng.sql("CREATE EXTENSION pg_analytics")
        eng.sql(
            "CREATE FOREIGN DATA WRAPPER parquet_wrapper "
            "HANDLER parquet_fdw_handler VALIDATOR parquet_fdw_validator"
        )
        eng.sql(
            "CREATE SERVER fdw_srv FOREIGN DATA WRAPPER parquet_wrapper"
        )
        return eng

    def test_readme_flow_auto_schema(self, spark):
        eng = self._eng(spark)
        eng.sql("CREATE USER MAPPING FOR public SERVER fdw_srv")
        eng.sql(
            "CREATE FOREIGN TABLE fdw_orders () SERVER fdw_srv "
            f"OPTIONS (files '{SF_DIR}/orders.parquet')"
        )
        n = eng.sql("SELECT COUNT(*) AS n FROM fdw_orders").collect()[0]["n"]
        assert n > 0
        eng.sql("DROP FOREIGN TABLE fdw_orders")

    def test_typed_columns_quoted_idents_and_comments(self, spark):
        eng = self._eng(spark)
        eng.sql(
            'CREATE FOREIGN TABLE fdw_typed (\n'
            '    "o_orderkey"  BIGINT,\n'
            "    -- commented out column\n"
            "    o_totalprice  DOUBLE PRECISION,\n"
            "    o_orderstatus TEXT\n"
            ") SERVER fdw_srv OPTIONS ("
            f"files '{SF_DIR}/orders.parquet', "
            "select 'o_orderkey, o_totalprice, o_orderstatus')"
        )
        df = eng.sql("SELECT * FROM fdw_typed")
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "bigint", "double", "string",
        ]
        eng.sql("DROP FOREIGN TABLE fdw_typed")

    def test_unknown_server_and_wrapper_are_loud(self, spark):
        import pytest

        from pg_analytics_spark.engine import Engine
        from pg_analytics_spark.errors import EngineError

        eng = Engine(spark=spark)
        with pytest.raises(EngineError, match="unknown server"):
            eng.sql(
                "CREATE FOREIGN TABLE t () SERVER nope OPTIONS (files 'x')"
            )
        with pytest.raises(EngineError, match="unknown wrapper"):
            eng.sql("CREATE FOREIGN DATA WRAPPER bogus_thing")

    def test_user_mapping_s3_options_feed_secret_store(self, spark):
        eng = self._eng(spark)
        eng.sql(
            "CREATE USER MAPPING FOR public SERVER fdw_srv OPTIONS ("
            "type 'S3', region 'us-east-1', endpoint 'localhost:9999', "
            "use_ssl 'false', url_style 'path')"
        )
        # the same conf pairs the reference's secret.rs compiles to
        conf = spark.sparkContext.getConf()
        hc = spark._jsc.hadoopConfiguration()
        assert hc.get("fs.s3a.endpoint") is not None

    def test_missing_files_option_is_loud(self, spark):
        import pytest

        from pg_analytics_spark.errors import EngineError

        eng = self._eng(spark)
        with pytest.raises(EngineError, match="files"):
            eng.sql("CREATE FOREIGN TABLE t2 () SERVER fdw_srv")
