"""Shared pytest fixtures: one SparkSession per test run, testdata paths.

Mirrors the reference's test harness shape (shared Postgres+extension
fixture, tests/tests/fixtures/mod.rs) with a shared local SparkSession;
DuckDB is the oracle (SURVEY §5's test plan).
"""

from __future__ import annotations

import contextlib
import os

import duckdb
import pytest

from pg_analytics_spark import Engine

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


@pytest.fixture(scope="session")
def engine() -> Engine:
    eng = Engine(
        app_name="pg_analytics_spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    eng.attach_dir(SF_DIR)
    yield eng
    eng.spark.stop()


@pytest.fixture(scope="session")
def spark(engine):
    return engine.spark


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the same tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@contextlib.contextmanager
def conf_set(spark, key: str, value: str | None):
    """Set one session conf for the ``with`` body and restore it after;
    ``None`` leaves the session's value in place."""
    prev = spark.conf.get(key)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


#: ``neardup_clusters`` branch -> broadcast threshold that selects it:
#: ``-1`` forces the label-propagation loop, the session default (10 MB)
#: sends every test-sized graph to the one-task union-find
CC_BRANCHES = {"loop": "-1", "union_find": None}


@pytest.fixture(params=sorted(CC_BRANCHES))
def cc_branch(request, spark):
    with conf_set(
        spark, "spark.sql.autoBroadcastJoinThreshold", CC_BRANCHES[request.param]
    ):
        yield request.param


def assert_df_matches_oracle(df, con, sql, float_tol=1e-9):
    """Order-insensitive comparison of a Spark DataFrame vs DuckDB SQL.

    Columns are compared by (sorted) name like the driver's comparator;
    floats within tolerance, everything else exact.
    """
    import math

    spark_rows = [tuple(r) for r in df.collect()]
    spark_cols = df.columns
    ora = con.execute(sql)
    ora_cols = [d[0] for d in ora.description]
    ora_rows = [tuple(r) for r in ora.fetchall()]
    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in ora_cols
    ), f"column mismatch: {spark_cols} vs {ora_cols}"
    # reorder both to sorted-column order
    sidx = [spark_cols.index(c) for c in sorted(spark_cols, key=str.lower)]
    oidx = [ora_cols.index(c) for c in sorted(ora_cols, key=str.lower)]
    norm_s = sorted([_norm([r[i] for i in sidx]) for r in spark_rows])
    norm_o = sorted([_norm([r[i] for i in oidx]) for r in ora_rows])
    assert len(norm_s) == len(norm_o), f"row count {len(norm_s)} vs {len(norm_o)}"
    for a, b in zip(norm_s, norm_o):
        for (_, x), (_, y) in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                assert (
                    math.isclose(x, y, rel_tol=float_tol, abs_tol=float_tol)
                ), f"float mismatch {x} vs {y} in row {a} vs {b}"
            else:
                assert x == y, f"value mismatch {x!r} vs {y!r} in row {a} vs {b}"


def _norm(vals):
    import datetime as dt
    from decimal import Decimal

    out = []
    for v in vals:
        if isinstance(v, Decimal):
            v = float(v)
        if isinstance(v, dt.datetime):
            v = v.replace(tzinfo=None).isoformat()
        elif isinstance(v, dt.date):
            v = v.isoformat()
        out.append((v is None, v))  # NULLs sort deterministically
    return tuple(out)
