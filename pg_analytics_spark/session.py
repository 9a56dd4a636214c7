"""SparkSession construction with scale-aware defaults.

The reference keeps one global embedded-DuckDB connection
(reference src/duckdb/connection.rs:32-110); our analog is one
SparkSession with settings chosen so the same code runs on
local[N] for tests and on a 1000-executor cluster unchanged:

* AQE on — runtime shuffle-partition coalescing + skew-join splitting
  replace hand-tuned partition counts at any scale.
* UTC session timezone — external parquet/csv timestamps are naive;
  pinning UTC makes results byte-stable across machines (the reference
  inherits Postgres' TimeZone GUC; we pin instead of inherit).
* nanosAsLong — Spark cannot natively scan parquet TIMESTAMP(NANOS);
  the reader surfaces them as long and sources/parquet.py restores a
  proper timestamp column (reference reads ns via DuckDB and truncates
  to µs, src/schema/cell.rs:1234-1319 — we match that behavior).
* Arrow execution for pandas interchange — the reference's
  DuckDB↔Postgres boundary is Arrow RecordBatches
  (src/duckdb/connection.rs:176-229); ours is Arrow too, at the
  Python⇄JVM edge (toPandas / pandas UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs applied to every session we build.  Values chosen for a
#: single-node local[N] test harness but all remain correct on a real
#: cluster (AQE coalesces the 2x-cores shuffle partitions upward or
#: downward at runtime).
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # parquet TIMESTAMP(NANOS) → long; sources/parquet.py converts back.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Match DuckDB/Postgres case-insensitive identifier behavior
    # (reference preserve_casing default false, src/fdw/trigger.rs:184-188).
    "spark.sql.caseSensitive": "false",
    # Broadcast joins for dimension tables: keep Spark's 10MB default but
    # make it explicit — at 100 TB the fact side never broadcasts, the
    # dims (region/nation/supplier) always should.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Python DataSources (delta_native) prune partitions via
    # pushFilters; off by default in Spark 4.1
    "spark.sql.python.filterPushdown.enabled": "true",
    # Compiled whole-stage and expression classes live in one JVM-wide
    # LRU cache.  Spark's default of 100 entries is smaller than one
    # pass of the perfbench read_mix workload (about 440 classes), so
    # at 100 every warm pass compiled its plans again.  Census
    # (tools/codegen_census.py; three read_mix passes, three lake_dml
    # passes and frozen-33 in one session): 916 distinct classes.  A
    # warm read_mix pass recompiles 1-7 of them at 4000 entries and
    # 427-458 at 100; lake_dml adds about 28 per pass (its seeded
    # literals are inlined), so 4000 leaves 4x headroom for longer
    # sessions.  JVM metaspace after the census: 193 MB at 4000, 188 MB
    # at 100.  Static: read once, when the session is built.
    "spark.sql.codegen.cache.maxEntries": "4000",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "pg_analytics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores).  ``shuffle_partitions`` defaults to that core count
    (every host core for ``*``) — on a cluster leave it at Spark's
    default and let AQE coalesce.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = (
            int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
        )
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
