"""Deterministic synthetic lake data for the benchmark.

The tables have the schema and value ranges of the TPC-H-style test
data the engine is developed against (uniform keys, the same string
domains and date ranges), plus the ``documents`` and ``embeddings``
corpora of the curation operators.  Everything derives from one fixed
seed, so the benchmark's ``--seed`` changes only the operation order
and parameters, never the data.  Each table is one parquet file with
one row group, like the development data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = np.array(["en", "es", "zh", "de", "fr"])
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _ts(rng, n, lo: str, hi: str) -> pa.Array:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(lo_d, hi_d + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.004:
            # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.05:
            # near duplicate: an earlier document with one word replaced
            toks = texts[rng.integers(0, i)].split(" ")
            toks[rng.integers(0, len(toks))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(8, 80))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centres = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, n)
    vecs = centres[lab] + rng.normal(scale=1.5, size=(n, dim))
    # a few near-duplicate vectors, so the near-dup operators find pairs
    dup = np.flatnonzero(rng.random(n) < 0.02)
    dup = dup[dup > 0]
    vecs[dup] = vecs[dup - 1] + rng.normal(scale=0.05, size=(len(dup), dim))
    lab[dup] = lab[dup - 1]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(lab.astype(np.int32)),
    })


def generate(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every table at scale factor ``sf`` (0.1 gives 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype=np.int64), per_order)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t["documents"] = _documents(rng, max(int(50_000 * sf), 200))
    t["embeddings"] = _embeddings(rng, max(int(20_000 * sf), 200))
    return t


def write(out: str, sf: float) -> str:
    """Write every table to ``out/<table>.parquet``, replacing what is there.

    Generation takes well under a second at the benchmark's scale, so a
    run always writes fresh tables instead of trusting earlier ones.
    """
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, tbl in generate(sf).items():
        pq.write_table(
            tbl, os.path.join(out, f"{name}.parquet"),
            row_group_size=max(tbl.num_rows, 1), compression="snappy",
        )
    return out
