"""The benchmark's two workloads, driven only through the public API.

Each workload attaches its tables in ``setup`` and yields one *pass* of
operations at a time from a seeded generator.  An op returns the Arrow
table the engine delivered to Python.  Its ``oracle`` runs outside the
timed region against DuckDB over the same parquet files and returns the
expected rows; for a write it replays the statement on the oracle's own
copy of the table and returns the number of rows it changed.

``read_mix`` - read-only analyst work: TPC-H SQL text over parquet
                (dialect, Catalyst, scan, shuffle, Arrow delivery) and
                the LLM-curation operators (many small eager jobs).
``lake_dml`` - INSERT/UPDATE/DELETE/MERGE on a Delta (copy-on-write)
                and an Iceberg (merge-on-read) table, each commit
                followed by a read: writers, log replay, manifests and
                the Python workers the writers use.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from decimal import Decimal
from typing import Callable

import pyarrow as pa

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

#: The 22 TPC-H statements of the engine's workload registry plus
#: count_star; each is DuckDB-dialect SQL and its own oracle.
TPCH_QUERIES = (
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_type_profit",
    "q10_returned_items", "q11_important_value", "q12_priority_shipping",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_part_counts", "q17_small_quantity_revenue",
    "q18_large_volume_customer", "q19_discounted_revenue",
    "q20_potential_promotion", "q21_suppliers_kept_waiting",
    "q22_global_sales_opportunity", "count_star",
)


@dataclass
class Op:
    name: str
    kind: str  # query | commit | read | operator
    run: Callable[[], pa.Table]
    #: expected rows, or for a commit the rows its replay changed
    oracle: Callable[[object], list | int]
    operator: str | None = None  # the curation operator the op is about
    table: str | None = None  # the lake table an op touches


def registry_sql(name: str) -> str:
    from pg_analytics_spark.workload.base import REGISTRY

    import pg_analytics_spark.workload  # noqa: F401  (registers the rows)

    return REGISTRY[name].oracle


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    return tuple(
        (0, "") if v is None else
        (1, f"{v:.6g}") if isinstance(v, float) else (2, repr(v))
        for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def matches(got: pa.Table, expected: list[tuple]) -> bool:
    """Same rows as a multiset; floats to 1e-9 relative."""
    rows = [tuple(_norm(v) for v in r.values()) for r in got.to_pylist()]
    exp = [tuple(_norm(v) for v in r) for r in expected]
    if len(rows) != len(exp) or (rows and len(rows[0]) != len(exp[0])):
        return False
    rows.sort(key=_sort_key)
    exp.sort(key=_sort_key)
    return all(
        len(x) == len(y) and all(_same(p, q) for p, q in zip(x, y))
        for x, y in zip(rows, exp)
    )


def duck_views(con, data_dir: str, tables) -> None:
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def _duck(sql: str):
    """Oracle of a read-only statement: DuckDB's rows for the same SQL."""
    return lambda con: con.execute(sql).fetchall()


class ReadMix:
    """The 23 TPC-H statements through ``Engine.fetch_arrow`` and the
    curation operators on ``documents``, ``customer`` names and
    ``embeddings``, shuffled together; the ANN ops take a seeded query
    vector."""

    name = "read_mix"
    tables = TPCH_TABLES + ("documents", "embeddings")

    def __init__(self):
        self.vectors: dict[int, list[float]] = {}
        self.sql = {
            n: registry_sql(n) for n in TPCH_QUERIES + (
                "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
                "dedup_fuzzy_names", "dedup_near_keep_best",
                "sim_ann_ivf", "sim_topk_bruteforce",
            )
        }

    def setup(self, eng, data_dir: str, work_dir: str) -> None:
        eng.attach_dir(data_dir, self.tables)
        emb = eng.fetch_arrow("SELECT vec_id, embedding FROM embeddings").to_pylist()
        self.vectors = {r["vec_id"]: r["embedding"] for r in emb}

    def _ann_oracle(self, name: str, qid: int):
        sql = self.sql[name]
        if sql.count("vec_id = 0") != 1:
            raise ValueError(f"{name}: oracle no longer filters on vec_id = 0")
        return _duck(sql.replace("vec_id = 0", f"vec_id = {qid}"))

    def pass_ops(self, eng, rng) -> list[Op]:
        import pyspark.sql.functions as F

        from pg_analytics_spark.operators import dedup, similarity

        def docs():
            return eng.sql("SELECT * FROM documents")

        def emb():
            return eng.sql("SELECT vec_id, embedding, label FROM embeddings")

        def near_keep_best():
            d = docs()
            pairs = dedup.minhash_lsh_pairs(
                d, "text", "doc_id", num_hashes=12, bands=4, shingle_k=9, threshold=0.5,
            ).select("id_a", "id_b")
            clusters = dedup.neardup_clusters(d, pairs, "doc_id")
            key = F.col("n_chars") * F.lit(4294967296) - F.col("doc_id")
            return (
                clusters.join(d.select("doc_id", "n_chars"), "doc_id")
                .groupBy("cluster_id")
                .agg(
                    F.max_by("doc_id", key).alias("kept_doc_id"),
                    F.max("n_chars").alias("kept_n_chars"),
                    F.count("*").cast("bigint").alias("n_members"),
                )
                .filter(F.col("n_members") > 1)
            )

        def fuzzy_names():
            c = eng.sql("SELECT c_custkey, c_nationkey, c_name FROM customer")
            return dedup.edit_distance_pairs(
                c, "c_name", "c_custkey", "c_nationkey", max_dist=2
            ).selectExpr("id_a", "id_b", "edit_dist")

        def op(name, operator, build, oracle):
            return Op(name, "operator", lambda: build().toArrow(), oracle, operator=operator)

        qid = int(rng.choice(sorted(self.vectors)))
        qvec = self.vectors[qid]
        ops = [
            Op(q, "query", lambda s=self.sql[q]: eng.fetch_arrow(s), _duck(self.sql[q]))
            for q in TPCH_QUERIES
        ] + [
            op("exact_dedup", "exact_dedup",
               lambda: dedup.exact_dedup(docs(), "text", "doc_id"),
               _duck(self.sql["dedup_exact"])),
            op("minhash_lsh_pairs", "minhash_lsh_pairs",
               lambda: dedup.minhash_lsh_pairs(
                   docs(), "text", "doc_id",
                   num_hashes=12, bands=4, shingle_k=9, threshold=0.5),
               _duck(self.sql["dedup_minhash_lsh"])),
            op("simhash_pairs", "simhash_pairs",
               lambda: dedup.simhash_pairs(docs(), "text", "doc_id"),
               _duck(self.sql["dedup_simhash"])),
            op("fuzzy_names", "edit_distance_pairs", fuzzy_names,
               _duck(self.sql["dedup_fuzzy_names"])),
            op("neardup_keep_best", "neardup_clusters", near_keep_best,
               _duck(self.sql["dedup_near_keep_best"])),
            op("ivf_ann_topk", "ivf_ann_topk",
               lambda: similarity.ivf_ann_topk(emb(), "embedding", "vec_id", qvec, k=10),
               self._ann_oracle("sim_ann_ivf", qid)),
            op("brute_force_topk", "brute_force_topk",
               lambda: similarity.brute_force_topk(emb(), "embedding", "vec_id", qvec, k=20),
               self._ann_oracle("sim_topk_bruteforce", qid)),
        ]
        return [ops[i] for i in rng.permutation(len(ops))]


_ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
_READ = (
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total, MAX(o_orderkey) AS max_key "
    "FROM {t} GROUP BY o_orderstatus ORDER BY o_orderstatus"
)


class LakeDml:
    """A seeded DML sequence on a Delta and an Iceberg copy of ``orders``.

    The oracle replays the same statements on in-memory DuckDB copies
    (DuckDB 1.0 has no MERGE, so MERGE replays as UPDATE … FROM plus an
    anti-join INSERT) and records the rows each statement changed.
    """

    name = "lake_dml"
    tables = ("orders",)
    formats = ("delta", "iceberg")
    kinds = ("insert", "update", "delete", "merge")

    def __init__(self):
        self.stmt_no = 0
        self.n_orders = 0
        self.paths: dict[str, str] = {}

    def setup(self, eng, data_dir: str, work_dir: str) -> None:
        import pyarrow.parquet as pq

        eng.attach_dir(data_dir, self.tables)
        self.n_orders = pq.ParquetFile(os.path.join(data_dir, "orders.parquet")).metadata.num_rows
        for fmt in self.formats:
            self.paths[fmt] = os.path.join(work_dir, fmt)
            eng.sql(
                f"CREATE TABLE orders_{fmt} USING {fmt} LOCATION '{self.paths[fmt]}' "
                "AS SELECT * FROM orders"
            )

    def oracle_setup(self, con) -> None:
        for fmt in self.formats:
            con.execute(f"CREATE OR REPLACE TABLE orders_{fmt} AS SELECT * FROM orders")

    def _statements(self, kind: str, t: str, rng) -> tuple[str, list[str]]:
        """(engine statement, oracle statements) for one seeded DML."""
        self.stmt_no += 1
        m = int(rng.integers(200, 900))
        r = int(rng.integers(0, m))
        pick = f"o_orderkey % {m} = {r}"
        if kind == "insert":
            s = (f"INSERT INTO {t} SELECT o_orderkey + {self.stmt_no * 10_000_000} AS o_orderkey, "
                 f"o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                 f"FROM orders WHERE {pick}")
            return s, [s]
        if kind == "update":
            s = f"UPDATE {t} SET o_totalprice = o_totalprice + 1 WHERE {pick}"
            return s, [s]
        if kind == "delete":
            s = f"DELETE FROM {t} WHERE {pick}"
            return s, [s]
        shift = int(rng.integers(0, self.n_orders))
        src = (f"(SELECT o_orderkey + {shift} AS k, o_totalprice * 2 AS p "
               f"FROM orders WHERE {pick})")
        new = "s.k, 0, 'N', s.p, TIMESTAMP '2000-01-01 00:00:00', '1-URGENT'"
        s = (f"MERGE INTO {t} tgt USING {src} s ON tgt.o_orderkey = s.k "
             "WHEN MATCHED THEN UPDATE SET o_totalprice = s.p "
             f"WHEN NOT MATCHED THEN INSERT ({_ORDER_COLS}) VALUES ({new})")
        return s, [
            f"UPDATE {t} SET o_totalprice = s.p FROM {src} s WHERE {t}.o_orderkey = s.k",
            f"INSERT INTO {t} SELECT {new} FROM {src} s "
            f"WHERE NOT EXISTS (SELECT 1 FROM {t} x WHERE x.o_orderkey = s.k)",
        ]

    def pass_ops(self, eng, rng) -> list[Op]:
        ops: list[Op] = []
        for fmt in rng.permutation(self.formats):
            t = f"orders_{fmt}"
            for kind in rng.permutation(self.kinds):
                stmt, replay = self._statements(str(kind), t, rng)
                ops.append(Op(
                    f"{fmt}.{kind}", "commit", lambda s=stmt: eng.fetch_arrow(s),
                    self._replayer(replay), table=str(fmt),
                ))
                read = _READ.format(t=t)
                ops.append(Op(
                    f"{fmt}.read", "read", lambda s=read: eng.fetch_arrow(s),
                    _duck(read), table=str(fmt),
                ))
        return ops

    @staticmethod
    def _replayer(statements: list[str]):
        """Oracle of a commit: replay it, return the rows it changed."""
        return lambda con: sum(con.execute(s).fetchone()[0] for s in statements)


WORKLOADS = {w.name: w for w in (ReadMix, LakeDml)}
