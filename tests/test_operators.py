"""Operator-level tests for the LLM-pipeline components: properties the
oracle can't check (approximate operators, engine-internal hashes,
mapInPandas plumbing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg_analytics_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
)
from pg_analytics_spark.operators.multimodal import (
    decode_media,
    fake_decode,
    real_decode,
    with_media_meta,
)
from pg_analytics_spark.operators.similarity import brute_force_topk, lsh_ann_topk

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    # plant exact and near duplicates with known ids
    dup = base.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    near = base.filter(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        "lang", "source", "n_chars",
    )
    return base.unionByName(dup).unionByName(near)


def test_exact_dedup_collapses_planted_dup(docs_with_dups):
    out = exact_dedup(docs_with_dups, "text", "doc_id")
    assert out.count() == 51  # 50 base + near-dup; exact dup collapsed
    row = out.filter(F.col("doc_id") == 0).collect()[0]
    assert row["dup_count"] == 2


def test_minhash_finds_planted_near_dup(docs_with_dups):
    pairs = minhash_lsh_pairs(docs_with_dups, "text", "doc_id", threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 100000) in found  # exact dup: jaccard 1.0, always banded together
    assert (1, 200001) in found  # near dup: tiny suffix edit


def test_simhash_exact_dup_distance_zero(docs_with_dups):
    pairs = simhash_pairs(docs_with_dups, "text", "doc_id", max_hamming=3)
    by_pair = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert by_pair.get((0, 100000)) == 0


def test_lsh_ann_subset_of_bruteforce_universe(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = brute_force_topk(emb, "embedding", "vec_id", q, k=10).collect()
    assert exact[0]["vec_id"] == 0 and exact[0]["sim"] == 1.0
    approx = lsh_ann_topk(emb, "embedding", "vec_id", q, k=10).collect()
    # the query vector always lands in its own bucket
    assert approx and approx[0]["vec_id"] == 0
    # approximate sims must be genuine cosine values (subset of universe)
    exact_all = {
        r["vec_id"]: r["sim"]
        for r in brute_force_topk(
            emb, "embedding", "vec_id", q, k=emb.count()
        ).collect()
    }
    for r in approx:
        assert exact_all[r["vec_id"]] == r["sim"]


def test_multimodal_meta_and_decode(spark):
    d = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(20)
        .select("doc_id", F.col("text").cast("binary").alias("blob"))
    )
    meta = with_media_meta(d, "blob", "image")
    row = meta.select("media_meta.*").collect()[0]
    assert row["modality"] == "image" and row["byte_len"] > 0

    decoded = decode_media(d, "blob", "doc_id", "image", decoder=fake_decode)
    rows = decoded.collect()
    assert len(rows) == 20
    for r in rows:
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert r["n_frames"] == 1 and r["ok"]

    # deterministic: same input → same fake dimensions
    again = {r["id"]: (r["width"], r["height"]) for r in decoded.collect()}
    assert {r["id"]: (r["width"], r["height"]) for r in rows} == again


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        real_decode(b"\x00", "image")


def test_approx_count_distinct_bounded_error(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    exact = li.agg(F.count_distinct("l_partkey")).collect()[0][0]
    approx = li.agg(F.approx_count_distinct("l_partkey")).collect()[0][0]
    assert abs(approx - exact) / exact < 0.1


def test_multimodal_resize_and_embed_plumbing(spark):
    from pg_analytics_spark.operators.multimodal import (
        EMBED_DIM,
        embed_media,
        fake_resize,
        resize_media,
        sample_frames,
    )

    d = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(20)
        .select("doc_id", F.col("text").cast("binary").alias("blob"))
    )
    resized = resize_media(d, "blob", "doc_id", 32, 32).collect()
    assert len(resized) == 20
    assert all(r["resized_len"] == 32 * 32 and r["ok"] for r in resized)
    # deterministic: same payload + dims → same bytes
    one = [r for r in resized if r["id"] == resized[0]["id"]][0]
    again = resize_media(d, "blob", "doc_id", 32, 32).collect()
    assert [r for r in again if r["id"] == one["id"]][0]["resized"] == one["resized"]

    emb = embed_media(d, "blob", "doc_id").collect()
    assert len(emb) == 20 and all(len(r["embedding"]) == EMBED_DIM for r in emb)
    assert all(-1.0 <= float(x) < 1.0 for r in emb for x in r["embedding"])


def test_multimodal_frame_sampling_explodes_rows(spark):
    from pg_analytics_spark.operators.multimodal import sample_frames

    d = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(10)
        .select("doc_id", F.col("text").cast("binary").alias("blob"))
    )
    frames = sample_frames(d, "blob", "doc_id", max_frames=4).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["id"], []).append(r["frame_idx"])
    assert set(per_doc) == {r["doc_id"] for r in d.select("doc_id").collect()}
    for idxs in per_doc.values():
        assert 1 <= len(idxs) <= 4
        assert idxs == sorted(idxs) and len(set(idxs)) == len(idxs)


def test_ivf_ann_subset_of_bruteforce_universe(spark):
    from pg_analytics_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    approx = ivf_ann_topk(emb, "embedding", "vec_id", q, k=10).collect()
    # the query vector's own cell is always probed first
    assert approx and approx[0]["vec_id"] == 0 and approx[0]["sim"] == 1.0
    exact_all = {
        r["vec_id"]: r["sim"]
        for r in brute_force_topk(emb, "embedding", "vec_id", q, k=emb.count()).collect()
    }
    for r in approx:
        assert exact_all[r["vec_id"]] == r["sim"]


def test_edit_distance_pairs_verify_modes_agree(spark):
    """verify_via_ids (long-text mode) must produce the identical pair
    set as the inline-text mode."""
    from pg_analytics_spark.operators.dedup import edit_distance_pairs
    from pg_analytics_spark.workload.base import table

    from .conftest import SF_DIR

    c = table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_nationkey", "c_name"
    )
    inline = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in edit_distance_pairs(
            c, "c_name", "c_custkey", "c_nationkey"
        ).collect()
    }
    via_ids = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in edit_distance_pairs(
            c, "c_name", "c_custkey", "c_nationkey", verify_via_ids=True
        ).collect()
    }
    assert inline == via_ids and inline


def test_embedding_lsh_pairs_subset_of_exact_and_no_crossjoin(spark):
    from pg_analytics_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs(
            emb, "embedding", "vec_id", threshold=0.3
        ).collect()
    }
    lsh = embedding_neardup_pairs_lsh(
        emb, "embedding", "vec_id", dim=64, threshold=0.3
    )
    # the scale path must be a bucket equi-join, never a cartesian product
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r.id_a, r.id_b): r.cosine for r in lsh.collect()}
    # every LSH pair is exactly verified → must appear in the exact set
    # with the identical cosine (subset: recall < 1 by design)
    for pair, cos in got.items():
        assert exact[pair] == cos
    assert len(got) > 0


def test_minhash_rejects_indivisible_banding(docs_with_dups):
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(
            docs_with_dups, "text", "doc_id", num_hashes=10, bands=4
        )


def test_release_sketch_caches(docs_with_dups):
    from pg_analytics_spark.operators.dedup import release_sketch_caches

    release_sketch_caches()  # drain anything earlier tests left behind
    minhash_lsh_pairs(docs_with_dups, "text", "doc_id").collect()
    assert release_sketch_caches() >= 2  # shingle + banded relations
    assert release_sketch_caches() == 0


def test_neardup_clusters_chain_component(spark, cc_branch):
    """A 16-node chain (diameter 15): on the loop branch it exercises
    the localCheckpoint path (lineage truncation every 5 iterations)
    and min-label convergence; on the union-find branch, a root chain
    15 links deep."""
    from pg_analytics_spark.operators.dedup import neardup_clusters

    n = 16
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    out = neardup_clusters(nodes, chain, "doc_id").collect()
    assert len(out) == n
    assert all(r.cluster_id == 0 for r in out)


def test_neardup_edges_build_single_pass_over_pairs(spark, cc_branch):
    """The dup-edge build must execute the pair-producing pipeline
    EXACTLY ONCE, on both component branches: both edge directions
    come from one explode pass, not a union of two selects over the
    same (expensive) pair source — Spark does no CSE across union
    branches, so the union shape ran the whole minhash/embedding pair
    pipeline once per branch.  Counted via an accumulator on the pair
    source: a star graph's 20 pairs must be seen 20 times (once), not
    40 (twice)."""
    from pg_analytics_spark.operators.dedup import neardup_clusters

    acc = spark.sparkContext.accumulator(0)

    def tag(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 21)], ["id_a", "id_b"]
    ).mapInPandas(tag, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(30)], ["doc_id"])
    out = neardup_clusters(nodes, star, "doc_id").collect()
    assert len(out) == 30
    assert sum(1 for r in out if r.cluster_id == 0) == 21  # the star
    assert acc.value == 20  # pair source executed once, not per branch


def test_neardup_clusters_nan_ids_are_one_vertex(spark, cc_branch):
    """Spark joins NaN to NaN and orders it above every number; Python
    does neither (a NaN root never equals itself, so union-find would
    not terminate), so float ids stay on the label-propagation loop:
    the two NaN ends below are one vertex joining 1.0 and 2.0."""
    from pg_analytics_spark.operators.dedup import neardup_clusters

    nan = float("nan")
    nodes = spark.createDataFrame([(1.0,), (2.0,), (nan,), (3.0,)], "doc_id double")
    pairs = spark.createDataFrame([(1.0, nan), (2.0, nan)], "id_a double, id_b double")
    got = sorted(
        (repr(r.doc_id), repr(r.cluster_id))
        for r in neardup_clusters(nodes, pairs, "doc_id").collect()
    )
    assert got == [("1.0", "1.0"), ("2.0", "1.0"), ("3.0", "3.0"), ("nan", "1.0")]


def test_union_find_task_asserts_the_counted_edge_bound():
    """The one-task kernel roots each component at its minimum id and
    raises when it receives more edges than the driver counted — the
    count that sent the graph to one task."""
    import pyarrow as pa

    from pg_analytics_spark.operators.dedup import _union_find_labels

    batch = pa.RecordBatch.from_pydict(
        {"_u": [3, 2, 7, None], "_v": [2, 1, 8, 5]}
    )
    (out,) = _union_find_labels(4)(iter([batch]))
    assert dict(zip(out["_u"].to_pylist(), out["_lbl"].to_pylist())) == {
        3: 1, 2: 1, 1: 1, 7: 7, 8: 7,
    }
    with pytest.raises(RuntimeError, match="more than the 3 counted"):
        list(_union_find_labels(3)(iter([batch])))


@pytest.mark.parametrize("id_type", ["int", "string"])
def test_neardup_clusters_keep_the_id_type(spark, cc_branch, id_type):
    """Labels come back in the id column's own type on both branches
    (the union-find task emits Arrow in the input's type), with the
    min-id rule applied in that type's order: "d10" < "d9" as strings."""
    from pg_analytics_spark.operators.dedup import neardup_clusters

    conv = int if id_type == "int" else (lambda i: f"d{i}")
    nodes = spark.createDataFrame(
        [(conv(i),) for i in range(12)], f"doc_id {id_type}"
    )
    pairs = spark.createDataFrame(
        [(conv(9), conv(10)), (conv(10), conv(11)), (conv(1), conv(2))],
        f"id_a {id_type}, id_b {id_type}",
    )
    out = neardup_clusters(nodes, pairs, "doc_id")
    assert out.schema["cluster_id"].dataType.simpleString() == id_type
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    root = conv(9) if id_type == "int" else conv(10)
    want = {conv(i): conv(i) for i in range(12)}
    want.update({conv(2): conv(1), conv(9): root, conv(10): root, conv(11): root})
    assert got == want


def test_bloom_no_false_negatives_and_plan_broadcasts(spark):
    from pg_analytics_spark.operators.dedup import bloom_bits, bloom_probe
    from pg_analytics_spark.plans import explain_formatted

    hist = spark.range(0, 2000).selectExpr(
        "CAST(conv(substr(md5(cast(id AS string)), 1, 8), 16, 10) AS BIGINT)"
        " AS h32"
    )
    bits = bloom_bits(hist, "h32", m_bits=1 << 15, num_hashes=5)
    # probe: 0..999 are members, 100000..100499 are not
    probe = spark.range(0, 1000).union(
        spark.range(100000, 100500)
    ).selectExpr(
        "id",
        "CAST(conv(substr(md5(cast(id AS string)), 1, 8), 16, 10) AS BIGINT)"
        " AS h32",
    )
    out = bloom_probe(probe, "h32", bits, ["id"], m_bits=1 << 15, num_hashes=5)
    rows = {r["id"]: r["bloom_hit"] for r in out.collect()}
    assert len(rows) == 1500
    # no false negatives: every member hits
    assert all(rows[i] for i in range(1000))
    # the filter is sized so non-members mostly miss (fpp well under 50%)
    misses = sum(not rows[i] for i in range(100000, 100500))
    assert misses > 250
    # scale contract: the bits relation joins as a broadcast
    plan = explain_formatted(out)
    assert "BroadcastHashJoin" in plan


def test_train_ivf_centroids_aligns_cells_with_clusters(spark):
    """Lloyd's iterations over a 2-cluster corpus must move the seeded
    centroids onto the true cluster directions, deterministically, and
    a trained p=1 probe must then retrieve the query's whole cluster."""
    import numpy as np

    from pg_analytics_spark.operators.similarity import (
        ivf_ann_topk,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(3)
    c0 = np.array([1.0, 0.0, 0.0, 0.0])
    c1 = np.array([0.0, 1.0, 0.0, 0.0])
    vecs = []
    for i in range(200):
        base = c0 if i % 2 == 0 else c1
        v = base + 0.05 * rng.randn(4)
        vecs.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    t1 = train_ivf_centroids(df, "embedding", 4, n_cells=2, n_iters=3)
    t2 = train_ivf_centroids(df, "embedding", 4, n_cells=2, n_iters=3)
    assert np.allclose(t1, t2)  # deterministic
    # each true center has a trained centroid at cosine > 0.99
    for c in (c0, c1):
        assert max(float(np.dot(t, c)) for t in t1) > 0.99

    q = vecs[0][1]
    got = ivf_ann_topk(
        df, "embedding", "vec_id", q, k=10, n_probes=1, centroids=t1
    ).collect()
    assert len(got) == 10
    assert all(r["vec_id"] % 2 == 0 for r in got)  # all from cluster 0


def test_auto_capacity_scales_with_corpus(spark):
    """The 'auto' capacity rule: bucket bits / cell count grow with the
    corpus so expected bucket size stays bounded (the SCALE.md cliff)."""
    import numpy as np

    from pg_analytics_spark.operators.dedup import (
        embedding_neardup_pairs_lsh,
        embedding_semantic_pairs,
        release_sketch_caches,
    )

    rng = np.random.RandomState(5)
    rows = [
        (i, [float(x) for x in rng.randn(8)]) for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    small = df.limit(200)

    # auto semantic: 3000 vectors / target 512 → 6 → floor 8 cells;
    # with target 100 → 30 cells (join-based assignment path)
    out = embedding_semantic_pairs(
        small, "embedding", "vec_id", threshold=0.999, n_cells="auto"
    )
    assert out.count() >= 0  # executes through the literal-fold path
    out_big = embedding_semantic_pairs(
        df, "embedding", "vec_id", threshold=0.999, n_cells="auto",
        target_cell_size=100,
    )
    assert out_big.count() >= 0  # executes through the join path
    # auto LSH: bits grow with n (3000/64 → ceil(log2 47) = 6 → floor 8;
    # target 4 → ceil(log2 750) = 10 bits) — just assert it executes and
    # produces a valid pair set either way
    pairs = embedding_neardup_pairs_lsh(
        df, "embedding", "vec_id", dim=8, threshold=0.999,
        bits_per_band="auto", target_bucket_size=4,
    )
    assert pairs.columns == ["id_a", "id_b", "cosine"]
    assert pairs.count() >= 0
    release_sketch_caches()


def test_pca_components_match_numpy_reference(spark):
    """pca_top_components must agree with a direct numpy PCA over the
    collected corpus: orthonormal components, eigenvalues equal to the
    numpy covariance spectrum, projection equal to the numpy
    projection within float tolerance — and the distributed moments
    are the exact sufficient statistics of the corpus."""
    import numpy as np

    from pg_analytics_spark.operators.pca import (
        embedding_moments,
        pca_project,
        pca_top_components,
    )
    from pg_analytics_spark.sources import load_source
    from tests.conftest import SF_DIR

    e = load_source(spark, f"{SF_DIR}/embeddings.parquet", "parquet")
    X = np.array([r["embedding"] for r in e.select("embedding").collect()],
                 dtype=np.float64)
    n, d = X.shape

    # moments = exact sufficient statistics (up to the decimal staging)
    mom = {(r["i"], r["j"]): r for r in embedding_moments(e, "embedding").collect()}
    assert len(mom) == d * (d + 1) // 2
    for (i, j) in [(1, 1), (1, d), (d // 2, d // 2), (3, 7)]:
        r = mom[(i, j)]
        assert r["n"] == n
        assert abs(r["sum_xi"] - X[:, i - 1].sum()) < 1e-5
        assert abs(r["sum_xixj"] - (X[:, i - 1] * X[:, j - 1]).sum()) < 1e-5

    k = 8
    comps, vals, mean = pca_top_components(e, "embedding", k)
    assert comps.shape == (k, d)
    # orthonormal rows
    assert np.allclose(comps @ comps.T, np.eye(k), atol=1e-9)
    # eigenvalues match numpy's covariance spectrum (descending)
    ref_cov = np.cov(X, rowvar=False, bias=True)
    ref_vals = np.sort(np.linalg.eigvalsh(ref_cov))[::-1][:k]
    assert np.allclose(vals, ref_vals, rtol=1e-6, atol=1e-8)
    assert list(vals) == sorted(vals, reverse=True)
    # distributed projection == numpy projection (sign convention fixed)
    got = {
        r["vec_id"]: np.array(r["projected"])
        for r in pca_project(e, "embedding", comps, mean)
        .select("vec_id", "projected")
        .collect()
    }
    ids = [r["vec_id"] for r in e.select("vec_id").collect()]
    ref = (X - X.mean(axis=0)) @ comps.T
    for row_idx, vid in enumerate(ids):
        assert np.allclose(got[vid], ref[row_idx], atol=1e-6), vid
    # captured variance of the top component dominates any single dim
    assert vals[0] >= ref_cov.diagonal().max() - 1e-9


def test_random_projection_is_distance_preserving_and_map_only(spark):
    """JL property: at k=32 the squared pairwise distances of the
    Rademacher sketch concentrate around the true 64-dim distances
    (relative distortion ~ N(0, 2/k) by the JL lemma — a RANK test
    would be meaningless on an isotropic corpus where all distances
    concentrate), and the projection plans with NO Exchange."""
    import numpy as np

    from pg_analytics_spark.operators.pca import random_projection
    from pg_analytics_spark.sources import load_source
    from tests.conftest import SF_DIR

    e = load_source(spark, f"{SF_DIR}/embeddings.parquet", "parquet")
    d = len(e.select("embedding").first()[0])
    K = 32
    proj = random_projection(e, "embedding", k=K, d=d, round_to=None)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    rows = proj.select(
        "vec_id", "embedding", *[f"rp_{r}" for r in range(K)]
    ).collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    P = np.array([[r[f"rp_{k}"] for k in range(K)] for r in rows])
    rng = np.random.default_rng(7)
    idx = rng.integers(0, len(rows), size=(300, 2))
    keep = idx[:, 0] != idx[:, 1]
    idx = idx[keep]
    true_sq = ((X[idx[:, 0]] - X[idx[:, 1]]) ** 2).sum(axis=1)
    proj_sq = ((P[idx[:, 0]] - P[idx[:, 1]]) ** 2).sum(axis=1)
    ratio = proj_sq / true_sq
    # sd of the ratio is ~sqrt(2/K)=0.25: median tight, tails bounded
    assert 0.85 < np.median(ratio) < 1.15, np.median(ratio)
    assert (np.abs(ratio - 1) < 0.75).mean() > 0.95, ratio


def test_pca_top_components_rejects_empty_and_ragged(spark):
    """ADVICE r5: an empty corpus must raise a named error (not a bare
    IndexError), and ragged / NULL-element vectors — whose per-cell
    moment counts disagree — must raise instead of yielding a silently
    wrong covariance."""
    import pytest as _pytest

    from pg_analytics_spark.errors import EngineError
    from pg_analytics_spark.operators.pca import pca_top_components

    empty = spark.createDataFrame([], "embedding array<double>")
    with _pytest.raises(EngineError, match="empty"):
        pca_top_components(empty, "embedding", 2)

    ragged = spark.createDataFrame(
        [([1.0, 2.0, 3.0],), ([4.0, 5.0],)], "embedding array<double>"
    )
    with _pytest.raises(EngineError, match="ragged"):
        pca_top_components(ragged, "embedding", 2)

    with_null = spark.createDataFrame(
        [([1.0, 2.0],), ([None, 5.0],), ([3.0, 4.0],)],
        "embedding array<double>",
    )
    with _pytest.raises(EngineError, match="ragged"):
        pca_top_components(with_null, "embedding", 2)


def test_embedding_moments_fast_near_equals_exact(spark):
    """The mapInArrow production covariance pass must agree with the
    decimal-exact explode path to float precision — same relation, same
    counts, sums within 1e-9 relative — and exact=False components must
    match exact=True's."""
    import numpy as np

    from pg_analytics_spark.operators.pca import (
        embedding_moments,
        embedding_moments_fast,
        pca_top_components,
    )
    from pg_analytics_spark.sources import load_source
    from tests.conftest import SF_DIR

    e = load_source(spark, f"{SF_DIR}/embeddings.parquet", "parquet").repartition(5)
    exact = embedding_moments(e, "embedding").collect()
    fast = embedding_moments_fast(e, "embedding").collect()
    assert len(exact) == len(fast)
    n_rows = exact[0]["n"]
    # the exact path quantizes each FACTOR to decimal(18,9) before
    # summing, so the two paths differ by up to ~n x the quantization
    # step per sum (not float roundoff) — bound accordingly
    tol = 5e-9 * n_rows
    for a, b in zip(exact, fast):
        assert (a["i"], a["j"], a["n"]) == (b["i"], b["j"], b["n"])
        for c in ("sum_xi", "sum_xj", "sum_xixj"):
            assert abs(a[c] - b[c]) <= tol, (a["i"], a["j"], c, a[c], b[c])

    ce, ve, me = pca_top_components(e, "embedding", 4, exact=True)
    cf, vf, mf = pca_top_components(e, "embedding", 4, exact=False)
    assert np.allclose(me, mf, rtol=1e-9)
    assert np.allclose(ve, vf, rtol=1e-7, atol=1e-10)
    assert np.allclose(ce, cf, atol=1e-6)


def test_moment_partials_arrow_equals_exploded(spark):
    """The r13 exact-integer mapInArrow moment build must equal the
    posexplode+decimal reference BIT-FOR-BIT — same cells, same counts,
    same decimal sums (incl. NULL-sum cells) — on the real corpus and
    on adversarial ragged/null/NaN/boundary inputs."""
    from pg_analytics_spark.operators.pca import (
        embedding_moment_partials,
        embedding_moment_partials_exploded,
        finalize_moments,
    )
    from pg_analytics_spark.sources import load_source
    from tests.conftest import SF_DIR

    def both(df):
        a = finalize_moments(
            embedding_moment_partials_exploded(df, "embedding")
        ).collect()
        b = finalize_moments(
            embedding_moment_partials(df, "embedding")
        ).collect()
        return [tuple(r) for r in a], [tuple(r) for r in b]

    e = load_source(
        spark, f"{SF_DIR}/embeddings.parquet", "parquet"
    ).repartition(5)
    a, b = both(e)
    assert a == b

    # ragged lengths, NULL vectors, NULL elements, NaN/inf (decimal
    # NULL under ANSI), clean-path magnitude screen (|x| > 8.589),
    # .5-boundary roundings, empty vector
    adv = spark.createDataFrame(
        [
            ([0.1234567895, 5e-10, -5e-10, 1.5e-9],),
            ([None, 2.0, float("nan"), 3.0],),
            ([1.0, 2.0],),
            (None,),
            ([0.049999999999999996, -0.0000000005, 9.25, -12.75],),
            ([float("inf"), -0.1234567885, 7.105427357601002e-15],),
            ([],),
        ],
        "embedding array<double>",
    )
    a, b = both(adv)
    assert a == b

    # half-boundary fuzz: values whose *1e9 lands near .5 exercise the
    # shortest-repr HALF_UP resolution inside the vectorized path
    fuzz = spark.createDataFrame(
        [
            (
                [
                    (k + 0.5) / 1e9 * (1 if k % 2 else -1)
                    for k in range(rr * 8, rr * 8 + 8)
                ],
            )
            for rr in range(200)
        ],
        "embedding array<double>",
    ).repartition(3)
    a, b = both(fuzz)
    assert a == b


def test_embedding_moments_fast_rejects_ragged_and_null(spark):
    import pytest as _pytest

    from pg_analytics_spark.errors import EngineError
    from pg_analytics_spark.operators.pca import embedding_moments_fast

    ragged = spark.createDataFrame(
        [([1.0, 2.0, 3.0],), ([4.0, 5.0],)], "embedding array<double>"
    ).coalesce(1)
    with _pytest.raises(Exception, match="ragged"):
        embedding_moments_fast(ragged, "embedding").collect()

    # ragged ACROSS partitions: each partition is internally uniform,
    # so the per-partition check cannot fire — the uniform-count check
    # in pca_top_components must catch it instead
    from pg_analytics_spark.operators.pca import pca_top_components

    ragged2 = spark.createDataFrame(
        [([1.0, 2.0, 3.0],), ([4.0, 5.0],)], "embedding array<double>"
    ).repartition(2)
    with _pytest.raises(EngineError, match="ragged"):
        pca_top_components(ragged2, "embedding", 1, exact=False)

    with_null = spark.createDataFrame(
        [([1.0, 2.0],), ([None, 5.0],)], "embedding array<double>"
    ).coalesce(1)
    with _pytest.raises(Exception, match="NULL"):
        embedding_moments_fast(with_null, "embedding").collect()


def test_containment_detects_embedded_document(spark):
    """A doc fully quoted inside a larger host scores c=1.0 on the
    contained side while symmetric Jaccard stays below a 0.5 gate."""
    from pg_analytics_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    small = "the quick brown fox jumps over the lazy dog again and again"
    host = (
        "completely unrelated preamble text about query engines and "
        "columnar execution strategies " + small + " followed by a long "
        "trailing discussion of shuffle partitioning and broadcast joins"
    )
    df = spark.createDataFrame(
        [(1, small), (2, host)], "doc_id bigint, text string"
    )
    got = containment_pairs(df, "text", "doc_id", threshold=0.6).collect()
    assert len(got) == 1
    r = got[0]
    assert r["id_a"] == 1 and r["id_b"] == 2
    assert r["c_ab"] == 1.0          # every shingle of small is in host
    assert r["c_ba"] < 0.6           # host is mostly its own text
    # the symmetric metric misses this pair at the usual 0.5 gate
    jac = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert jac == []


def test_pagerank_fixed_point_properties(spark):
    """Integer fixed-point PageRank: ranks are positive BIGINTs, total
    mass stays within flooring loss of the scale, and a re-run is
    bit-identical (the determinism the gate relies on)."""
    from pg_analytics_spark.workload import REGISTRY

    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    a = REGISTRY["graph_pagerank_copurchase"].spark(spark, sf).collect()
    b = REGISTRY["graph_pagerank_copurchase"].spark(spark, sf).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert all(r["rank_fp"] > 0 for r in a)
    # top-20 mass is a minority share of the unit total but nonzero
    total_top = sum(r["rank_fp"] for r in a)
    assert 0 < total_top <= 10**12


class TestPhashNearDup:
    """operators/multimodal.py one-permutation 1-bit minwise hash +
    banded near-dup search."""

    def _mk(self, spark, rows):
        return spark.createDataFrame(
            [(i, t.encode()) for i, t in rows], "doc_id long, blob binary"
        )

    def test_identical_payloads_hash_equal(self, spark):
        from pg_analytics_spark.operators.multimodal import phash_media

        t = "the quick brown fox jumps over the lazy dog " * 20
        df = self._mk(spark, [(1, t), (2, t)])
        a, b = sorted(
            phash_media(df, "blob", "doc_id").collect(),
            key=lambda r: r["id"],
        )
        assert (a["b0"], a["b1"], a["b2"], a["b3"]) == (
            b["b0"], b["b1"], b["b2"], b["b3"],
        )

    def test_local_edit_small_hamming_unrelated_large(self, spark):
        from pg_analytics_spark.operators.multimodal import phash_media

        base = " ".join(
            f"sentence number {i} about distributed analytics engines "
            "and columnar storage"
            for i in range(40)
        )
        edited = base.replace("number 17", "number seventeen", 1)
        other = " ".join(
            f"totally different line {i} with alternative vocabulary "
            "for testing"
            for i in range(40)
        )
        df = self._mk(spark, [(1, base), (2, edited), (3, other)])
        h = {
            r["id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
            for r in phash_media(df, "blob", "doc_id").collect()
        }

        def ham(x, y):
            return sum(bin(a ^ b).count("1") for a, b in zip(x, y))

        assert ham(h[1], h[2]) <= 3, ham(h[1], h[2])
        assert ham(h[1], h[3]) > 10, ham(h[1], h[3])

    def test_pairs_found_by_banding_match_threshold(self, spark):
        from pg_analytics_spark.operators.multimodal import (
            phash_neardup_pairs,
        )

        base = " ".join(
            f"shared paragraph {i} describing the spark query engine "
            "and its shuffle behavior"
            for i in range(40)
        )
        near = base.replace("paragraph 21", "paragraph twentyone", 1)
        far = " ".join(
            f"unrelated corpus text {i} with other words entirely "
            "and no overlap"
            for i in range(40)
        )
        df = self._mk(spark, [(10, base), (11, near), (12, far)])
        got = [
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in phash_neardup_pairs(df, "blob", "doc_id").collect()
        ]
        assert [(a, b) for a, b, _ in got] == [(10, 11)], got
        assert got[0][2] <= 3

    def test_short_payload_hashes_to_zero_bands(self, spark):
        from pg_analytics_spark.operators.multimodal import phash_media

        df = self._mk(spark, [(1, "tiny"), (2, "")])
        for r in phash_media(df, "blob", "doc_id").collect():
            assert (r["b0"], r["b1"], r["b2"], r["b3"]) == (0, 0, 0, 0)


def test_vad_media_run_lengths_and_edges(spark):
    """vad_media: hash-chain energies, threshold split, longest-run
    logic — incl. the all-silence clip (longest run 0)."""
    import hashlib

    from pg_analytics_spark.operators.multimodal import (
        fake_frame_energy,
        vad_media,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"alpha")), (2, bytearray(b"beta"))],
        "id long, payload binary",
    )
    rows = {r["id"]: r for r in vad_media(df, "payload", "id").collect()}
    for blob in (b"alpha", b"beta"):
        h = hashlib.md5(blob).digest()
        n = 1 + h[2] % 128
        es = fake_frame_energy(blob, n)
        speech = [e >= 128 for e in es]
        longest = run = 0
        for sp in speech:
            run = run + 1 if sp else 0
            longest = max(longest, run)
        rid = 1 if blob == b"alpha" else 2
        r = rows[rid]
        assert r["n_frames"] == n
        assert r["n_speech"] == sum(speech)
        assert r["longest_speech_run"] == longest
        assert r["speech_ratio"] == sum(speech) / n
    # threshold high enough → all silence, longest run 0
    quiet = vad_media(df, "payload", "id", threshold=256).collect()
    assert all(
        r["n_speech"] == 0 and r["longest_speech_run"] == 0 for r in quiet
    )


def test_semantic_pairs_bitexact_vs_hof_fold(spark):
    """r10: the vectorized per-cell matrix pass must reproduce the
    HOF-fold float tree BIT-FOR-BIT (the DuckDB oracle replays that
    fold) — pinned on a threshold where pairs actually exist, because
    the registry row's 0.9 threshold yields zero pairs on random
    embeddings and would pass vacuously."""
    from pyspark.sql import functions as F

    from pg_analytics_spark.functions.vectors import dot_product, l2_norm
    from pg_analytics_spark.operators.dedup import embedding_semantic_pairs
    from pg_analytics_spark.operators.similarity import (
        cell_assignments,
        ivf_centroids,
    )

    import numpy as _np

    rng = _np.random.RandomState(11)
    base = rng.randn(40, 16)
    rows = []
    for i in range(40):
        rows.append((2 * i, [float(x) for x in base[i]]))
        # planted near-duplicate: tiny perturbation of the same vector
        rows.append(
            (2 * i + 1, [float(x) for x in base[i] + rng.randn(16) * 0.01])
        )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = ivf_centroids(16, 8, 7)
    out = embedding_semantic_pairs(
        emb, "embedding", "vec_id", threshold=0.5, centroids=cents
    )
    cells = cell_assignments(emb, "embedding", "vec_id", cents).withColumn(
        "_n", l2_norm("_v")
    )
    a = cells.select(
        "cell", F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = cells.select(
        "cell", F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    sim = F.round(
        dot_product("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6
    )
    ref = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cell", "id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= 0.5)
    )
    got = {
        (r["cell"], r["id_a"], r["id_b"], r["cosine"].hex())
        for r in out.collect()
    }
    exp = {
        (r["cell"], r["id_a"], r["id_b"], r["cosine"].hex())
        for r in ref.collect()
    }
    assert got == exp and len(got) > 0


def test_embedding_lsh_pair_predicate_equals_post_filter(spark):
    """pair_predicate must be a pure pushdown: for any predicate p,
    pairs_lsh(pair_predicate=p) == pairs_lsh().filter(p) — in BOTH
    dataflow shapes.  (The pushed form evaluates p before the per-pair
    dot fold; the post-filter form is what a naive consumer writes.)"""
    import pyspark.sql.functions as F

    from pg_analytics_spark.operators.dedup import (
        embedding_neardup_pairs_lsh,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def pred(ida, idb):
        return (ida % 3 == 0) | (idb % 5 == 1)

    for carry in (True, False):
        base = embedding_neardup_pairs_lsh(
            emb, "embedding", "vec_id", dim=64, threshold=0.3,
            carry_vectors=carry,
        ).filter(pred(F.col("id_a"), F.col("id_b")))
        pushed = embedding_neardup_pairs_lsh(
            emb, "embedding", "vec_id", dim=64, threshold=0.3,
            carry_vectors=carry, pair_predicate=pred,
        )
        want = {(r.id_a, r.id_b): r.cosine for r in base.collect()}
        got = {(r.id_a, r.id_b): r.cosine for r in pushed.collect()}
        assert got == want and len(got) > 0, (carry, len(got), len(want))
