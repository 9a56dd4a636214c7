"""Every workload REGISTRY entry vs the DuckDB oracle at sf0.001.

This mirrors the driver's t2 gate (BASELINE.md) and the reference's
DuckDB-as-oracle test style (reference tests/tests/scan.rs:243-312).
"""

from __future__ import annotations

import pytest

from pg_analytics_spark.workload import REGISTRY

from .conftest import SF_DIR, assert_df_matches_oracle


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, oracle):
    qd = REGISTRY[name]
    df = qd.spark(spark, SF_DIR)
    if qd.oracle is None:
        assert df.count() >= 0  # rows-only check, like the driver's weak gate
        return
    assert_df_matches_oracle(df, oracle, qd.oracle, float_tol=0.0)


def test_freeze_holds_its_rows_without_the_files(spark, tmp_path):
    """``freeze`` returns exactly the input's rows, plans no file scan,
    and still returns them after the scratch files are gone."""
    import shutil

    from pg_analytics_spark.workload.base import freeze

    path = str(tmp_path / "scratch")
    spark.range(0, 500, 1, 4).selectExpr(
        "id", "id % 7 AS g", "CAST(id AS STRING) AS s"
    ).write.parquet(path)
    src = spark.read.parquet(path)
    want = sorted(tuple(r) for r in src.collect())
    frozen = freeze(src)
    plan = frozen._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, plan
    assert sorted(tuple(r) for r in frozen.collect()) == want
    shutil.rmtree(path)
    assert sorted(tuple(r) for r in frozen.collect()) == want
