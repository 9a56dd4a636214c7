"""Property-based tests: random inputs vs naive Python reference
implementations (hypothesis).  Few examples per property — each round
trips through Spark — but each example is adversarially shrunk.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pg_analytics_spark.operators.temporal import asof_join, banded_range_join

from .conftest import CC_BRANCHES, conf_set

_EPOCH = dt.datetime(2024, 1, 1)


def _ts(seconds: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(seconds=seconds)


@st.composite
def temporal_case(draw):
    keys = ["k1", "k2"]
    # unique (key, ts) on the right keeps as-of matches deterministic
    left = [
        (i, draw(st.sampled_from(keys)), s)
        for i, s in enumerate(
            sorted(draw(st.sets(st.integers(0, 500), min_size=1, max_size=12)))
        )
    ]
    right = [
        (100 + j, draw(st.sampled_from(keys)), s, float(j))
        for j, s in enumerate(
            sorted(draw(st.sets(st.integers(0, 500), min_size=1, max_size=12)))
        )
    ]
    return left, right


_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(case=temporal_case())
@_SETTINGS
def test_asof_join_matches_naive(spark, case):
    left_rows, right_rows = case
    left = spark.createDataFrame(
        [(i, k, _ts(s)) for i, k, s in left_rows],
        "lid long, k string, lts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(j, k, _ts(s), v) for j, k, s, v in right_rows],
        "rid long, k string, rts timestamp_ntz, v double",
    )
    got = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_cols=["rid", "v"],
        ).collect()
    }
    for i, k, s in left_rows:
        cands = [(rs, j) for j, rk, rs, _ in right_rows if rk == k and rs <= s]
        expected = max(cands)[1] if cands else None
        assert got[i] == expected, (i, k, s, cands)


@given(case=temporal_case())
@_SETTINGS
def test_range_join_matches_naive(spark, case):
    left_rows, right_rows = case
    left = spark.createDataFrame(
        [(i, k, _ts(s)) for i, k, s in left_rows],
        "lid long, k string, lts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(j, k, _ts(s), v) for j, k, s, v in right_rows],
        "rid long, k string, rts timestamp_ntz, v double",
    )
    out = banded_range_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        lower_seconds=-60.0, upper_seconds=0.0, how="inner",
    ).collect()
    got = {(r["lid"], r["_match_rid"]) for r in out}
    expected = {
        (i, j)
        for i, k, s in left_rows
        for j, rk, rs, _ in right_rows
        if rk == k and s - 60 <= rs < s
    }
    assert got == expected


# ------------------------------------------------------------------ #
# Dedup / text-operator invariants
# ------------------------------------------------------------------ #

_texts = st.lists(
    st.text(
        alphabet="ab .,!x",  # small alphabet → real duplicates occur
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=14,
)


@given(texts=_texts)
@_SETTINGS
def test_exact_dedup_partitions_corpus(spark, texts):
    """exact_dedup is a partition of the input: dup_counts sum to the
    corpus size, representatives are distinct normalized texts, and the
    representative id is the minimum of its group."""
    import re as _re

    from pg_analytics_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = exact_dedup(df, "text", "doc_id").collect()
    assert sum(r["dup_count"] for r in got) == len(texts)

    def norm(t):
        return _re.sub(r"\s+", " ", t.lower()).strip()

    groups = {}
    for i, t in enumerate(texts):
        groups.setdefault(norm(t), []).append(i)
    assert len(got) == len(groups)
    for r in got:
        g = groups[norm(r["text"])]
        assert r["doc_id"] == min(g)
        assert r["dup_count"] == len(g)


@given(texts=_texts)
@_SETTINGS
def test_simhash_pairs_symmetric_and_verified(spark, texts):
    """Every reported pair has id_a < id_b and hamming <= 3, and
    identical token sequences always pair (distance 0 survives any
    banding)."""
    from pg_analytics_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = simhash_pairs(df, "text", "doc_id").collect()
    seen = set()
    for r in got:
        assert r["id_a"] < r["id_b"]
        assert 0 <= r["hamming"] <= 3
        seen.add((r["id_a"], r["id_b"]))

    def toks(t):
        return tuple(x for x in t.lower().split() if x)

    for i, a in enumerate(texts):
        for j in range(i + 1, len(texts)):
            if toks(a) and toks(a) == toks(texts[j]):
                assert (i, j) in seen, (a, texts[j])


@given(texts=_texts)
@_SETTINGS
def test_hash_split_is_deterministic_and_total(spark, texts):
    """Every doc lands in exactly one split, and re-running yields the
    identical assignment (the append-stability property)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i,) for i in range(len(texts))], "doc_id long"
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    a = {r["doc_id"]: r["s"] for r in df.select("doc_id", split.alias("s")).collect()}
    b = {r["doc_id"]: r["s"] for r in df.select("doc_id", split.alias("s")).collect()}
    assert a == b
    assert set(a) == set(range(len(texts)))
    assert set(a.values()) <= {"train", "val", "test"}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda e: e[0] != e[1]
        ),
        max_size=20,
    ),
    branch=st.sampled_from(sorted(CC_BRANCHES)),
)
@_SETTINGS
def test_neardup_clusters_match_naive_components(spark, edges, branch):
    """Both component branches (label propagation, one-task union-find;
    drawn per example) == naive union-find on random graphs."""
    from pg_analytics_spark.operators.dedup import neardup_clusters

    n = 16
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges] or [(0, 0)],
        "id_a long, id_b long",
    ).filter("id_a < id_b")
    with conf_set(
        spark, "spark.sql.autoBroadcastJoinThreshold", CC_BRANCHES[branch]
    ):
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in neardup_clusters(nodes, pairs, "doc_id").collect()
        }
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for i in range(n):
        comp.setdefault(find(i), []).append(i)
    want = {i: min(comp[find(i)]) for i in range(n)}
    assert got == want


def _naive_lev(a, b):
    m, n = len(a), len(b)
    d = list(range(n + 1))
    for i in range(1, m + 1):
        prev = d[0]
        d[0] = i
        for j in range(1, n + 1):
            cur = d[j]
            d[j] = min(d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return d[n]


@given(
    strs=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=14), min_size=2, max_size=14
    ),
    prefix=st.sampled_from(["", "Customer#"]),
)
@_SETTINGS
def test_passjoin_edit_distance_lossless(spark, strs, prefix):
    """edit_distance_pairs (PassJoin filter + LCP stripping) finds
    EXACTLY the naive-DP pairs with distance <= 2 — no false dismissals
    from segmenting, shifting, short-string routing, or prefix
    stripping."""
    import itertools

    from pg_analytics_spark.operators.dedup import edit_distance_pairs

    rows = [(i, prefix + s, i % 2) for i, s in enumerate(strs)]
    df = spark.createDataFrame(rows, "id long, t string, blk int")
    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in edit_distance_pairs(df, "t", "id", "blk").collect()
    }
    want = {}
    for (i, a, ba), (j, b, bb) in itertools.combinations(rows, 2):
        if ba == bb and _naive_lev(a, b) <= 2:
            want[(min(i, j), max(i, j))] = _naive_lev(a, b)
    assert got == want


@st.composite
def bloom_case(draw):
    items = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=1,
        max_size=12,
    )
    hist = draw(st.sets(items, min_size=1, max_size=30))
    probe = draw(st.sets(items, min_size=1, max_size=15)) | set(
        list(hist)[:5]
    )
    return sorted(hist), sorted(probe)


def _bloom_ref_bits(items, m_bits, k):
    """Pure-Python replica of bloom_bits' bit math."""
    import hashlib

    from pg_analytics_spark.functions.hashing import MINHASH_COEFFS, MINHASH_P

    words = {}
    for s in items:
        h32 = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
        for a, b in MINHASH_COEFFS[:k]:
            pos = ((a * h32 + b) % MINHASH_P) % m_bits
            w, bit = pos // 32, pos % 32
            words[w] = words.get(w, 0) | (1 << bit)
    return words


@given(case=bloom_case())
@_SETTINGS
def test_bloom_bits_exact_and_no_false_negatives(spark, case):
    from pyspark.sql import functions as F

    from pg_analytics_spark.operators.dedup import bloom_bits, bloom_probe

    hist, probe = case
    m_bits, k = 1 << 10, 5
    hdf = spark.createDataFrame(
        [(s,) for s in hist], "s STRING"
    ).selectExpr(
        "s",
        "CAST(conv(substr(md5(cast(s AS binary)), 1, 8), 16, 10) AS BIGINT)"
        " AS h32",
    )
    bits = bloom_bits(hdf, "h32", m_bits=m_bits, num_hashes=k)
    got = {r["word"]: r["bits"] for r in bits.collect()}
    assert got == _bloom_ref_bits(hist, m_bits, k)  # bit-exact build
    pdf = spark.createDataFrame(
        [(s,) for s in probe], "s STRING"
    ).selectExpr(
        "s",
        "CAST(conv(substr(md5(cast(s AS binary)), 1, 8), 16, 10) AS BIGINT)"
        " AS h32",
    )
    hits = {
        r["s"]: r["bloom_hit"]
        for r in bloom_probe(
            pdf, "h32", bits, ["s"], m_bits=m_bits, num_hashes=k
        ).collect()
    }
    hset = set(hist)
    for s in probe:
        if s in hset:
            assert hits[s], f"false negative for {s!r}"


_coord = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
_point = st.tuples(_coord, _coord)
_ring = st.lists(_point, min_size=3, max_size=8)


@st.composite
def _geometry(draw):
    kind = draw(st.sampled_from(
        ["POINT", "MULTIPOINT", "LINESTRING", "MULTILINESTRING",
         "POLYGON", "MULTIPOLYGON"]
    ))
    if kind == "POINT":
        return (kind, draw(_point))
    if kind == "MULTIPOINT":
        return (kind, draw(st.lists(_point, min_size=1, max_size=6)))
    if kind == "LINESTRING":
        return (kind, draw(st.lists(_point, min_size=2, max_size=8)))
    if kind == "MULTILINESTRING":
        return (kind, draw(st.lists(
            st.lists(_point, min_size=2, max_size=5), min_size=1, max_size=3
        )))
    if kind == "POLYGON":
        return (kind, draw(st.lists(_ring, min_size=1, max_size=3)))
    return (kind, draw(st.lists(
        st.lists(_ring, min_size=1, max_size=2), min_size=1, max_size=2
    )))


@given(_geometry())
@settings(max_examples=200, deadline=None)
def test_wkb_roundtrip_lossless(geom):
    """parse_wkb(to_wkb(g)) == g for every covered 2D geometry — the
    codec the shapefile/GeoPackage sources rely on."""
    from pg_analytics_spark.sources.geom import envelope, parse_wkb, to_wkb

    back = parse_wkb(to_wkb(geom))
    assert back == geom
    # envelope is order-invariant under the round trip
    assert envelope(back) == envelope(geom)


@given(
    st.lists(
        st.sampled_from(
            [
                "SELECT", "FROM", "WHERE", "AS", "AND", "FOR", "IN", "IF",
                "ASOF", "JOIN", "ON", "USING", "SAMPLE", "MACRO", "*", ",",
                "(", ")", "[", "]", "{", "}", ":", "::", "->", "->>", "<=",
                ">=", "<", ">", "=", ".", "-", "t", "x", "l", "'s'", "1",
                "2.5", "int4", "json", "transform",
            ]
        ),
        min_size=0,
        max_size=30,
    )
)
@settings(max_examples=300, deadline=None)
def test_rewrite_pg_total_on_token_soup(parts):
    """Robustness property for the round-5 rewrite pipeline
    (comprehensions, slices, struct literals, ASOF routing, USING
    SAMPLE scoping): for ARBITRARY token soup, rewrite_pg either
    returns a string or raises the documented UnsupportedDialect —
    never IndexError / RecursionError / infinite loop.  (Semantic
    validity is the parser's job; the shim must only be total.)"""
    from pg_analytics_spark.dialect import UnsupportedDialect, rewrite_pg

    sql = " ".join(parts)
    try:
        out = rewrite_pg(sql)
    except UnsupportedDialect:
        return
    assert isinstance(out, str)


# ---------------------------------------------------------------------------
# arrow_part.transform_array — vectorized twin of transform_value
# ---------------------------------------------------------------------------

_XP_CASES = {
    # src ice type -> (arrow type factory, value strategy, transforms)
    "long": (
        lambda pa: pa.int64(),
        st.integers(-(2**62), 2**62),
        ["identity", "bucket[8]", "bucket[31]", "truncate[10]",
         "truncate[7]"],
    ),
    "int": (
        lambda pa: pa.int32(),
        st.integers(-(2**31), 2**31 - 1),
        ["identity", "bucket[8]", "truncate[100]"],
    ),
    "string": (
        lambda pa: pa.string(),
        st.text(min_size=0, max_size=12),  # incl. non-BMP codepoints
        ["identity", "bucket[16]", "truncate[3]", "truncate[1]"],
    ),
    "date": (
        lambda pa: pa.date32(),
        st.dates(dt.date(1901, 1, 1), dt.date(2199, 12, 31)),
        ["identity", "bucket[8]", "year", "month", "day"],
    ),
    "timestamp": (
        lambda pa: pa.timestamp("us"),
        st.datetimes(
            dt.datetime(1901, 1, 1), dt.datetime(2199, 12, 31)
        ),
        ["identity", "bucket[8]", "year", "month", "day", "hour"],
    ),
    "timestamptz": (
        lambda pa: pa.timestamp("us", tz="UTC"),
        st.datetimes(
            dt.datetime(1901, 1, 1), dt.datetime(2199, 12, 31)
        ),
        ["bucket[8]", "year", "month", "day", "hour"],
    ),
}


@st.composite
def _xp_case(draw):
    src_type = draw(st.sampled_from(sorted(_XP_CASES)))
    _mk, vals, transforms = _XP_CASES[src_type]
    transform = draw(st.sampled_from(transforms))
    values = draw(
        st.lists(st.one_of(st.none(), vals), min_size=0, max_size=24)
    )
    return src_type, transform, values

@given(case=_xp_case())
@settings(max_examples=120, deadline=None)
def test_transform_array_matches_scalar(case):
    """Bit-for-bit parity: the vectorized writer-side transform
    (arrow_part.transform_array) agrees with the reader's reference
    scalar (iceberg_prune.transform_value) on every element —
    including nulls, pre-epoch timestamps with fractional seconds,
    non-BMP string truncation, and negative truncate floors.  This is
    the write→prune agreement contract for transform-partitioned
    DataSource writes (VERDICT r12 item #3)."""
    import pyarrow as pa

    from pg_analytics_spark.sources.arrow_part import transform_array
    from pg_analytics_spark.sources.iceberg_prune import transform_value

    src_type, transform, values = case
    mk, _vals, _tr = _XP_CASES[src_type]
    arr = pa.array(values, type=mk(pa))
    got = transform_array(transform, arr, src_type).to_pylist()
    # the scalar path consumes what to_pylist() hands the old writer
    want = [
        None if v is None else transform_value(transform, v, src_type)
        for v in arr.to_pylist()
    ]
    if src_type in ("date", "timestamp", "timestamptz") and transform == "identity":
        # identity on temporals stays the source representation
        assert got == arr.to_pylist()
    else:
        assert got == want, (src_type, transform, values)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=60, deadline=None)
def test_group_take_partitions_all_rows(rows):
    """group_take is a PARTITION of the row set: every row index
    appears in exactly one group, the group's key tuple matches the
    rows it holds (nulls grouped together), and groups iterate in
    stringified-key order (deterministic file naming)."""
    import pyarrow as pa

    from pg_analytics_spark.sources.arrow_part import group_take

    k1 = pa.array([r[0] for r in rows], type=pa.int64())
    k2 = pa.array([r[1] for r in rows], type=pa.string())
    groups = list(group_take([k1, k2], len(rows)))
    seen: list[int] = []
    for tup, idx in groups:
        ids = idx.to_pylist()
        assert ids, "empty group"
        for i in ids:
            assert rows[i] == tup
        seen.extend(ids)
    assert sorted(seen) == list(range(len(rows)))
    keys = [tuple(map(str, t)) for t, _ in groups]
    assert keys == sorted(keys)

# ------------------------------------------------------------------ #
# arrow_part.BoundedGroupBuffer — the write tasks' global byte cap
# ------------------------------------------------------------------ #


def test_bounded_group_buffer_caps_total_bytes():
    """The r14 sink-memory bound (guide §5): >32 tuples fed multi-MB
    slices must never buffer more than cap + one slice, every byte
    reaches its key's flush exactly once, and the largest accumulator
    flushes first when the cap is crossed."""
    import pyarrow as pa

    from pg_analytics_spark.sources.arrow_part import BoundedGroupBuffer

    slice_mb = pa.table({"v": pa.array([b"x" * 1024] * 2048)})  # ~2 MB
    per_key = slice_mb.nbytes
    cap = 16 << 20  # 16 MB cap, far below 40 tuples x 2 MB
    flushed: dict = {}

    def _sink(key, tbl):
        flushed[key] = flushed.get(key, 0) + tbl.nbytes

    buf = BoundedGroupBuffer(_sink, key_flush_bytes=64 << 20,
                             total_cap_bytes=cap)
    for rnd in range(3):
        for k in range(40):  # >32 tuples, multi-MB slices
            buf.add(k, slice_mb)
    # the high-water mark stays within cap + one incoming slice
    assert buf.max_buffered <= cap + per_key
    buf.close()
    # conservation: every byte flushed exactly once, per key
    assert set(flushed) == set(range(40))
    assert all(v == 3 * per_key for v in flushed.values())


def test_bounded_group_buffer_key_flush_precedes_cap():
    """A key crossing its own flush threshold flushes immediately
    (large row groups preserved) without disturbing other keys."""
    import pyarrow as pa

    from pg_analytics_spark.sources.arrow_part import BoundedGroupBuffer

    t = pa.table({"v": pa.array([b"y" * 1024] * 1024)})  # ~1 MB
    calls: list = []
    buf = BoundedGroupBuffer(
        lambda k, tbl: calls.append((k, tbl.num_rows)),
        key_flush_bytes=2 * t.nbytes - 1,
        total_cap_bytes=1 << 30,
    )
    buf.add("hot", t)
    assert not calls
    buf.add("cold", t)
    buf.add("hot", t)  # crosses the per-key threshold -> flush now
    assert calls == [("hot", 2048)]
    buf.close()
    assert ("cold", 1024) in calls


# ------------------------------------------------------------------ #
# arrow_part.write_partitioned — the one task-side write kernel
# ------------------------------------------------------------------ #


def test_write_partitioned_kernel(tmp_path):
    """Spark-free: multi-key grouping into one file per tuple (NULL
    keys in the Hive sentinel directory), no ``.tmp`` left behind, no
    footer statistics on float columns, the ``max_open`` refusal, and
    no file for empty input."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from pg_analytics_spark.errors import UnsupportedFormat
    from pg_analytics_spark.sources.arrow_part import (
        hive_path,
        write_partitioned,
    )

    def run(batches, root, **kw):
        return list(
            write_partitioned(
                iter(batches),
                str(root),
                data_idx=[2, 3],
                key_fn=lambda b: [b.column(0), b.column(1)],
                name_of=lambda k: hive_path(["a", "b"], k, "f.parquet"),
                **kw,
            )
        )

    nan = float("nan")
    b = pa.record_batch(
        {
            "a": [1, 1, 2, 2, None],
            "b": ["x", "y", "x", "x", "x"],
            "v": [1.0, nan, 3.0, 4.0, None],
            "n": [10, 11, 12, 13, 14],
        }
    )
    files = run([b, b.slice(0, 2)], tmp_path / "t")
    got = {f.key: (f.rel, f.rows) for f in files}
    assert got == {
        (1, "x"): ("a=1/b=x/f.parquet", 2),
        (1, "y"): ("a=1/b=y/f.parquet", 2),
        (2, "x"): ("a=2/b=x/f.parquet", 2),
        (None, "x"): ("a=__HIVE_DEFAULT_PARTITION__/b=x/f.parquet", 1),
    }
    for f in files:
        t = pq.read_table(f.dst)
        assert t.column_names == ["v", "n"] and t.num_rows == f.rows
        assert f.size == (tmp_path / "t" / f.rel).stat().st_size
        rg = pq.ParquetFile(f.dst).metadata.row_group(0)
        assert rg.column(0).statistics is None  # v: NaN-blind min/max
        assert rg.column(1).statistics.has_min_max
    two_x = pq.read_table(tmp_path / "t" / "a=2/b=x/f.parquet")
    assert two_x["n"].to_pylist() == [12, 13]
    assert not [p for p in (tmp_path / "t").rglob("*") if p.suffix == ".tmp"]

    wide = pa.record_batch(
        {
            "a": list(range(257)),
            "b": ["x"] * 257,
            "v": [0.0] * 257,
            "n": [0] * 257,
        }
    )
    with pytest.raises(
        UnsupportedFormat, match=">256 distinct partition tuples"
    ):
        run([wide], tmp_path / "wide", max_open=256)

    assert run([b.slice(0, 0)], tmp_path / "e") == []
    assert not (tmp_path / "e").exists()


def test_delta_file_stats_from_the_kernel(tmp_path):
    """Delta stats of a kernel-written file: nullCount from the footer
    for every column, and no min/max for a float column holding NaN
    (Arrow's footer bounds leave NaN out)."""
    import json

    import pyarrow as pa
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from pg_analytics_spark.sources.delta_write import _delta_files

    b = pa.record_batch(
        {
            "id": [1, 2, None],
            "v": [1.0, float("nan"), None],
            "w": [0.5, None, 2.5],
        }
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("v", DoubleType()),
            StructField("w", DoubleType()),
        ]
    )
    ((rel, stats, _size, _mtime, rows),) = _delta_files(
        iter([b]), str(tmp_path), ["id", "v", "w"], [], lambda: "f.parquet",
        schema,
    )
    st = json.loads(stats)
    assert rel == "f.parquet" and rows == st["numRecords"] == 3
    assert st["nullCount"] == {"id": 1, "v": 1, "w": 1}
    assert st["minValues"] == {"id": 1, "w": 0.5}
    assert st["maxValues"] == {"id": 2, "w": 2.5}
