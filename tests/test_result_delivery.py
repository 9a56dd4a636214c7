"""Results delivered whole to the driver sort in one task.

``Engine.fetch_arrow`` and ``Engine.fetch`` put ``Repartition(1)``
under a final global ``Sort`` (``engine._sort_in_one_task``), so the
statement runs no range-sampling job.  These tests compare both paths
against the unrewritten ``toArrow()`` / ``collect()`` of the same
statement over sort keys with NULLs, NaN, -0.0/0.0, DESC NULLS LAST,
several keys, decimals, timestamps and non-ASCII strings, and check
that the streaming paths (``iter_arrow``, ``iter_rows``) keep Spark's
range-partitioned sort."""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pg_analytics_spark.engine import _sort_in_one_task

_N = 240

_STRINGS = ["a", "Z", "é", "Ω", "日本", "🙂", "", "ab", "ä", None]
_FLOATS = [
    float("nan"), -0.0, 0.0, None, 1.5, -1.5, float("inf"), float("-inf"),
    2.0, None, 0.0, -0.0,
]


def _rows(i: int) -> dict:
    return {
        "id": i,
        "g": None if i % 11 == 0 else i % 5,
        "f": _FLOATS[i % len(_FLOATS)],
        "d": None if i % 13 == 0 else Decimal(i % 17 * 37 - 300) / 100,
        "ts": None if i % 7 == 0 else dt.datetime(2024, 1, 1)
        + dt.timedelta(hours=i % 19 * 29),
        "s": _STRINGS[i % len(_STRINGS)],
    }


_SCHEMA = pa.schema([
    ("id", pa.int64()), ("g", pa.int32()), ("f", pa.float64()),
    ("d", pa.decimal128(12, 2)), ("ts", pa.timestamp("us")),
    ("s", pa.string()),
])


@pytest.fixture(scope="module")
def keys_table(engine, tmp_path_factory):
    """``sort_keys``: four files, so the scan has several partitions."""
    root = tmp_path_factory.mktemp("sort_keys")
    for part in range(4):
        rows = [_rows(i) for i in range(part, _N, 4)]
        pq.write_table(
            pa.Table.from_pylist(rows, schema=_SCHEMA),
            str(root / f"part-{part}.parquet"),
        )
    engine.attach("sort_keys", str(root), format="parquet")
    yield "sort_keys"
    engine.detach("sort_keys")


def _norm(v):
    """A value compared exactly: a float by its repr keeps -0.0 apart
    from 0.0 and makes NaN equal to NaN."""
    return repr(v) if isinstance(v, float) else v


#: (statement, number of leading sort-key columns).  ``None`` means the
#: sort order is total, so the whole rows must come back in order;
#: otherwise keys tie and only the key columns' sequence is compared.
_QUERIES = [
    ("SELECT f, id, s FROM sort_keys ORDER BY f, id", None),
    ("SELECT g, f, s FROM sort_keys ORDER BY g DESC NULLS LAST, "
     "f DESC NULLS LAST", 2),
    ("SELECT d, ts, id FROM sort_keys ORDER BY d NULLS LAST, ts DESC, id",
     None),
    ("SELECT s, id FROM sort_keys ORDER BY s DESC, id", None),
    ("SELECT ts, s FROM sort_keys ORDER BY ts NULLS FIRST", 1),
    ("SELECT s, COUNT(*) AS n, SUM(d) AS sd FROM sort_keys GROUP BY s "
     "ORDER BY s", None),
    # the sort key is not selected: a Project over the Sort
    ("SELECT id, s FROM sort_keys ORDER BY f DESC, id", None),
    # the Sort is the main plan of a WithCTE
    ("WITH c AS (SELECT g, SUM(d) AS sd, MIN(f) AS mf FROM sort_keys "
     "GROUP BY g) SELECT a.g, a.sd, b.mf FROM c a JOIN c b ON "
     "a.g = b.g ORDER BY a.sd DESC NULLS LAST, a.g", None),
]


def _keyed(rows: list[tuple], keys: int | None) -> list[tuple]:
    return [
        tuple(_norm(v) for v in (r if keys is None else r[:keys]))
        for r in rows
    ]


@pytest.mark.parametrize("query,keys", _QUERIES)
def test_one_task_sort_matches_the_range_sort(engine, keys_table, query, keys):
    plain = engine.sql(query)
    one = _sort_in_one_task(plain)
    assert one is not plain, "the final ORDER BY was not rewritten"
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan and "SinglePartition" in plan, plan

    want = [tuple(r.values()) for r in plain.toArrow().to_pylist()]
    assert len(want) > 4
    got = [tuple(r.values()) for r in engine.fetch_arrow(query).to_pylist()]
    assert _keyed(got, keys) == _keyed(want, keys)
    assert sorted(map(repr, got)) == sorted(map(repr, want))

    rows = [tuple(r) for r in engine.fetch(query)]
    assert _keyed(rows, keys) == _keyed(
        [tuple(r) for r in engine.sql(query).collect()], keys
    )


def test_nan_and_signed_zero_survive(engine, keys_table):
    """The float column's special values come back bit-exact."""
    got = engine.fetch_arrow(
        "SELECT f FROM sort_keys ORDER BY f NULLS FIRST, id"
    ).column("f").to_pylist()
    assert got[0] is None
    nans = [v for v in got if v is not None and math.isnan(v)]
    assert nans and got[-len(nans):] == nans, "NaN sorts last"
    zeros = [math.copysign(1, v) for v in got if v == 0.0]
    assert -1.0 in zeros and 1.0 in zeros


@pytest.mark.parametrize("query", [
    # a LIMIT root plans as TakeOrderedAndProject
    "SELECT id, f FROM sort_keys ORDER BY f, id LIMIT 5",
    # no sort at all
    "SELECT g, COUNT(*) FROM sort_keys GROUP BY g",
    # a bounded sort input: one row, or already one partition
    "SELECT COUNT(*) AS n FROM sort_keys ORDER BY n",
    "SELECT * FROM (SELECT id FROM sort_keys LIMIT 10) ORDER BY id",
])
def test_other_plans_are_left_alone(engine, keys_table, query):
    df = engine.sql(query)
    assert _sort_in_one_task(df) is df


@pytest.mark.parametrize("path", ["iter_arrow", "iter_rows"])
def test_streaming_paths_keep_the_range_sort(
    engine, keys_table, monkeypatch, path
):
    """``iter_arrow`` / ``iter_rows`` may stream more than driver memory,
    so their plan keeps its ``RangePartitioning`` exchange."""
    query = "SELECT s, id FROM sort_keys ORDER BY s DESC, id"
    df_type = type(engine.sql(query))
    plans: list[str] = []
    real = df_type.toLocalIterator

    def _traced(self, *a, **kw):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *a, **kw)

    monkeypatch.setattr(df_type, "toLocalIterator", _traced)
    if path == "iter_arrow":
        out = [
            tuple(r.values())
            for b in engine.iter_arrow(query, batch_rows=50)
            for r in b.to_pylist()
        ]
    else:
        out = [tuple(r) for r in engine.iter_rows(query)]
    monkeypatch.undo()
    assert len(plans) == 1 and "rangepartitioning" in plans[0], plans
    want = [tuple(r.values()) for r in engine.fetch_arrow(query).to_pylist()]
    assert out == want
