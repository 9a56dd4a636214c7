"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the 100 TB contract):
* exact   — one hash-aggregate on a fingerprint; fully map-side
            combinable, no skew (md5 keys are uniform).
* minhash — per-row signature in codegen → explode b band keys →
            self-equi-join on (band, hash) → verify only candidates.
            Shuffle volume is b rows per doc, never |docs|².
* simhash — same banding trick over four 16-bit sub-keys; candidates
            verified by Hamming distance.
* ngram   — exact Jaccard via shingle-explode + pair aggregation;
            quadratic only within identical-shingle buckets.  This is
            the *oracle-friendly exact* path; minhash is the scale path.
* embedding — exact cosine over all pairs (quadratic; small inputs /
            verification tier) — the ANN path lives in similarity.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    StructField,
    StructType,
)
from pyspark import StorageLevel

from pg_analytics_spark.functions.hashing import (
    band_hashes,
    hamming64,
    minhash_signature,
    simhash64,
    simhash64_agg,
)
from pg_analytics_spark.functions.text import char_shingles, fingerprint, tokens
from pg_analytics_spark.functions.vectors import cosine_similarity

# Sketch relations persisted by the pair-producing operators below.
# Persisting is load-bearing (each feeds both sides of a self-join and
# the verify joins — without it Spark recomputes the sketch subtree per
# consumer), but a long-lived session accumulating MEMORY_AND_DISK
# entries across many calls needs a release valve: call
# :func:`release_sketch_caches` once the returned plan has been consumed.
_SKETCH_CACHES: list[DataFrame] = []


def _persist_sketch(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _SKETCH_CACHES.append(df)
    return df


#: (analyzed-plan semanticHash, column) → vector dimensionality; a
#: driver-side int per corpus, never unpersisted (see
#: embedding_semantic_pairs' dim probe)
_DIM_CACHE: dict = {}


def release_sketch_caches() -> int:
    """Unpersist every sketch relation cached by minhash/simhash/LSH
    pair operators in this session.  Returns the number released.
    Safe to call at any time — consumed plans simply recompute if
    re-executed later."""
    n = len(_SKETCH_CACHES)
    while _SKETCH_CACHES:
        _SKETCH_CACHES.pop().unpersist()
    return n


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimate the scan's partition count from file metadata.

    `df.rdd.getNumPartitions()` is exact but forces full physical
    planning + RDD conversion (~0.8s of driver time per call);
    `inputFiles()` is a catalog lookup (~30ms).  Parquet splits at
    spark.sql.files.maxPartitionBytes (default 128 MiB), so
    max(#files, total_bytes/128Mi) is the right order of magnitude —
    all the spread heuristic needs.  Non-file sources fall back to the
    exact probe.
    """
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df.rdd.getNumPartitions()
    total = 0
    for f in files:
        if f.startswith("file:"):
            f = f[5:]
        try:
            total += os.path.getsize(f)
        except OSError:
            return df.rdd.getNumPartitions()
    return max(len(files), total // (128 << 20) + (1 if total else 0))


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    source has fewer partitions (e.g. one small parquet file).

    The signature/sketch computations below are CPU-bound per row; on a
    single-file input Spark would otherwise run them on one core.  The
    shuffle moves only the narrow projection this is called on.  When
    the input already has enough partitions (the 100 TB case) this is a
    no-op — no shuffle is added.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _estimated_scan_partitions(df) < target:
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group.

    Output: (id_col, text_col, dup_count).  One shuffle (hash-agg on
    the md5 fingerprint); partial aggregation makes it map-side
    combinable at any scale.
    """
    return (
        df.select(
            F.col(id_col), F.col(text_col), fingerprint(text_col).alias("_fp")
        )
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.min_by(text_col, F.col(id_col)).alias(text_col),
            F.count("*").alias("dup_count"),
        )
        .drop("_fp")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 9,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified with
    exact shingle Jaccard ≥ threshold.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    6 decimals.  md5-based hashing keeps the whole pipeline
    deterministic and cross-engine reproducible.

    shingle_k=9 (not the classic 5): measured on the synthetic corpus,
    5-char shingles give a background (random-pair) Jaccard median of
    0.17 / p99 0.25, which floods the 4×3 banding with false candidates
    (876k pairs for 5k docs, 0.03% precision); 9-char shingles drop the
    background to median 0.02 / p99 0.07 and the candidate set to ~900
    with identical verified survivors.  At 100 TB the candidate-join
    volume is the whole game — pick k against the corpus' background
    similarity, not by convention.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}): trailing signature hashes would be silently "
            "ignored by the banding"
        )
    rows_per_band = num_hashes // bands
    sh = _spread(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    ).select(
        F.col("_id"),
        char_shingles("_t", shingle_k).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    # The sketch relations feed BOTH sides of the candidate self-join
    # and both verification joins; without persist Spark recomputes the
    # shingle+signature subtree 4×.  Persisting (memory, spill to disk)
    # is the canonical Spark pattern for sketch reuse — at 100 TB the
    # shingle relation is ~the corpus size, exactly what MEMORY_AND_DISK
    # is for.  Spark's cache manager dedupes identical plans, so
    # repeated calls share one entry; release_sketch_caches() frees them.
    sh = _persist_sketch(sh)
    # Banding rows are narrow (id, band, hash) — the shingle arrays are
    # re-joined only for the (small) verified candidate set, so the
    # self-join shuffles longs+hashes, not 500-element string arrays.
    banded = _persist_sketch(
        sh.select(
            "_id",
            F.explode(
                band_hashes(
                    minhash_signature("_sh", num_hashes), bands, rows_per_band
                )
            ).alias("_bh"),
        )
    )
    cand = (
        banded.select(F.col("_id").alias("id_a"), "_bh")
        .join(banded.select(F.col("_id").alias("id_b"), "_bh"), on="_bh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.round(inter / union, 6)
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (no hashing, no misses).

    Shingle-explode → pair counting on shared shingles → Jaccard.
    Quadratic only within a shared-shingle bucket; the exact tier for
    verification or small corpora — the scale tier is minhash_lsh_pairs.
    Output matches minhash_lsh_pairs' shape: (id_a, id_b, jaccard).
    """
    sh = _spread(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    ).select(
        F.col("_id"), char_shingles("_t", shingle_k).alias("_sh")
    ).filter(F.size("_sh") > 0)
    sizes = sh.select("_id", F.size("_sh").alias("_n"))
    exploded = sh.select("_id", F.explode("_sh").alias("_s"))
    pairs = (
        exploded.alias("x")
        .join(exploded.alias("y"), on="_s")
        .filter(F.col("x._id") < F.col("y._id"))
        .groupBy(
            F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b")
        )
        .agg(F.count("*").alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    jac = F.round(
        F.col("_inter").cast("double")
        / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
        6,
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact shingle CONTAINMENT pairs — the asymmetric complement of
    Jaccard: C(A→B) = |S(A)∩S(B)| / |S(A)|.  A document quoted,
    wrapped, or embedded inside a larger one scores near 1.0 on the
    contained side while its symmetric Jaccard stays low (the union is
    dominated by the big doc) — exactly the sub-document duplication
    Jaccard-thresholded dedup misses in training corpora.

    Same dataflow as :func:`ngram_jaccard_pairs` (shingle explode →
    shared-shingle equi-join pair counting → two divisions): pairs
    form only on docs SHARING a shingle, never |docs|²; the scale
    tier for candidates stays minhash banding, with this as the exact
    verify.  Output (id_a, id_b, c_ab, c_ba) keeps BOTH directions
    (id_a < id_b), filtered on max(c_ab, c_ba) ≥ threshold.
    """
    sh = _spread(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    ).select(
        F.col("_id"), char_shingles("_t", shingle_k).alias("_sh")
    ).filter(F.size("_sh") > 0)
    sizes = sh.select("_id", F.size("_sh").alias("_n"))
    exploded = sh.select("_id", F.explode("_sh").alias("_s"))
    pairs = (
        exploded.alias("x")
        .join(exploded.alias("y"), on="_s")
        .filter(F.col("x._id") < F.col("y._id"))
        .groupBy(
            F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b")
        )
        .agg(F.count("*").alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    c_ab = F.round(
        F.col("_inter").cast("double") / F.col("_na").cast("double"), 6
    )
    c_ba = F.round(
        F.col("_inter").cast("double") / F.col("_nb").cast("double"), 6
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", c_ab.alias("c_ab"), c_ba.alias("c_ba"))
        .filter(F.greatest("c_ab", "c_ba") >= threshold)
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs via 64-bit SimHash with banded candidate search.

    Pigeonhole: two hashes within Hamming distance 3 agree on at least
    one of four 16-bit sub-keys → join on (band, subkey), verify exact
    Hamming ≤ max_hamming.  Output: (id_a, id_b, hamming).
    """
    toks = (
        _spread(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")))
        .select(F.col("_id"), tokens(F.lower("_t")).alias("_tk"))
        .filter(F.size("_tk") > 0)  # mirror the oracle's unnest, which drops token-less docs
    )
    # explode+sum formulation (simhash64_agg): vectorized bit-count sums,
    # no per-token array allocations — ~6x faster than the HOF fold.
    # Persisted because both sides of the candidate self-join read it;
    # without persist the whole hash subtree executes twice.  The
    # relation is tiny ((id, hash) per doc) at any corpus size.
    h = _persist_sketch(
        simhash64_agg(toks, "_id", "_tk").withColumnRenamed("simhash", "_h")
    )
    subkeys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("_h"), 16 * b)
                .bitwiseAND(F.lit(0xFFFF).cast("long"))
                .alias("k"),
            )
            for b in range(4)
        ]
    )
    banded = h.select("_id", "_h", F.explode(subkeys).alias("_bk"))
    a = banded.select(F.col("_id").alias("id_a"), F.col("_h").alias("h_a"), "_bk")
    b = banded.select(F.col("_id").alias("id_b"), F.col("_h").alias("h_b"), "_bk")
    return (
        a.join(b, on="_bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64("h_a", "h_b").cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine near-dup pairs over an embedding column.

    All-pairs (quadratic) — the verification tier.  At scale, bucket
    first with similarity.lsh_ann_topk's hyperplane signatures and run
    this within buckets.  Output: (id_a, id_b, cosine) rounded to 6.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = F.round(cosine_similarity("va", "vb"), 6)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.95,
    bands: int = 4,
    bits_per_band: int | str = 8,
    seed: int = 42,
    target_bucket_size: int = 64,
    carry_vectors: bool = True,
    pair_predicate=None,
) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH banding — the scale
    tier of :func:`embedding_neardup_pairs`.

    ``bands × bits_per_band`` seeded Gaussian hyperplanes
    (similarity.hyperplanes) give each vector one sign-bit key per
    band; candidate pairs agree on ALL bits of at least one band
    (equi-join on (band, key) — shuffle volume is ``bands`` rows per
    vector, never |corpus|²), then candidates are verified with
    exact cosine ≥ threshold.  Approximate in RECALL only (a true pair
    may bucket apart — P[band agree] = (1-θ/π)^bits per band); every
    emitted pair is exactly verified.  Recall rises with ``bands``,
    candidate volume falls with ``bits_per_band``.

    Dataflow (``carry_vectors=True``, default): the banded relation
    carries the vector, so verification runs MAP-SIDE directly on the
    band join's output and only the surviving pairs reach the final
    distinct — one wide shuffle (bands × vector bytes per row), no
    re-join, no candidate-set shuffle.  Measured at sf0.1: 0.76s vs
    1.44s for the re-join shape at identical output.
    ``carry_vectors=False`` keeps the narrow shape — banded is (id,
    band, key) longs and vectors re-join only for the DISTINCT
    candidate set — the right trade when vectors are very wide (≥4 KB)
    or bands high, where bands × vector bytes dominates the extra
    shuffle rounds.  A pair matching in k>1 bands is verified k times
    in carry mode (dupes collapse in the final distinct; multi-band
    agreement is rare by construction).
    Output: (id_a, id_b, cosine) with id_a < id_b, rounded to 6 —
    identical shape and values either way.

    ``pair_predicate`` (optional ``(id_a_col, id_b_col) -> Column``)
    filters CANDIDATE pairs before the cosine verify — the hook for
    consumers that only want a subset of pairs (cross-split leakage,
    incremental new-vs-history).  Filtering the operator's OUTPUT
    instead is semantically identical but evaluates the expensive
    per-pair dot fold on every candidate first: Catalyst merges the
    consumer's filter into the same conjunction AFTER the cosine
    predicate, so nothing is saved (measured at 10× sf0.1: 141.6 s
    output-filtered vs the pushed form — see SCALE.md §Round-13).
    With a selective predicate prefer ``carry_vectors=False``: the
    predicate then prunes NARROW (id, id) candidate rows before the
    vectors are ever joined on, which is the plan a cost-based SQL
    engine picks for the same query.

    ``bits_per_band="auto"`` applies the measured operating rule
    (SCALE.md): bucket capacity must scale with the corpus, so bits =
    max(8, ceil(log2(n / target_bucket_size))) from one metadata-cheap
    count.  Fixed 8 bits at 10× corpus measured 2.4× super-linear;
    auto restores ~linear.  Registry/oracle callers pin an explicit
    value instead (the oracle must replay the same plane count).
    """
    import math

    from pg_analytics_spark.operators.similarity import hyperplanes

    if bits_per_band == "auto":
        n = df.count()
        bits_per_band = max(8, math.ceil(math.log2(max(n, 1) / target_bucket_size)))
    planes = hyperplanes(dim, bands * bits_per_band, seed)
    e = _spread(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    )
    if not carry_vectors:
        e = _persist_sketch(e)  # feeds banded AND both verify joins
    # All plane dots in ONE data-driven transform over a 2-D literal
    # array (one small codegen template looping over planes), then band
    # keys read signs out of the dots array — vs inlining bands×bits
    # aggregate trees, this cuts generated-code size ~32× (cold JIT)
    # and plan-build py4j traffic to two expr strings.  Fold order per
    # dot is the same sequential left-to-right the oracle replays.
    plane_rows = ", ".join(
        "array(" + ", ".join(f"{float(w)!r}D" for w in p) + ")" for p in planes
    )
    dots = (
        f"transform(array({plane_rows}), p -> "
        "aggregate(zip_with(_v, p, (x, w) -> cast(x AS double) * w), "
        "0.0D, (acc, x) -> acc + x))"
    )
    band_keys = (
        f"transform(sequence(0, {bands - 1}), b -> named_struct("
        "'b', b, 'k', "
        f"aggregate(sequence(0, {bits_per_band - 1}), 0L, (acc, i) -> "
        f"acc + IF(element_at(_dots, b * {bits_per_band} + i + 1) >= 0.0D, "
        "shiftleft(1L, i), 0L))))"
    )
    from pg_analytics_spark.functions.vectors import dot_product, l2_norm

    cos = F.round(cosine_similarity("va", "vb"), 6)
    if carry_vectors:
        # norms fold ONCE per vector here; per-pair verification is then
        # a single dot fold (HOF folds evaluate per element — computing
        # both norms per candidate pair tripled the verify cost)
        banded = _persist_sketch(
            e.withColumn("_dots", F.expr(dots))
            .select(
                "_id",
                "_v",
                l2_norm("_v").alias("_n"),
                F.explode(F.expr(band_keys)).alias("_bk"),
            )
        )
        a = banded.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("va"),
            F.col("_n").alias("_na"), "_bk",
        )
        b = banded.select(
            F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
            F.col("_n").alias("_nb"), "_bk",
        )
        # same float tree as cosine_similarity: dot / (sqrt(ssa)*sqrt(ssb))
        pair_cos = F.round(
            dot_product("va", "vb") / (F.col("_na") * F.col("_nb")), 6
        )
        # The cheap conjuncts (id order, the caller's pair predicate)
        # guard the dot fold INSIDE the expression: Catalyst never
        # cost-reorders AND chains and its filter-merge order is not
        # ours to control, so a separate .filter() can end up
        # evaluating AFTER the interpreted fold (measured 141.6 s vs
        # 10.9 s at 10× — SCALE.md §Round-13 second wave).  A
        # CASE WHEN guard makes the short-circuit structural; NULL
        # fails the >= threshold verify like any non-pair.
        guard = F.col("id_a") < F.col("id_b")
        if pair_predicate is not None:
            guard = guard & pair_predicate(F.col("id_a"), F.col("id_b"))
        return (
            a.join(b, "_bk")
            .select(
                "id_a", "id_b", F.when(guard, pair_cos).alias("cosine")
            )
            .filter(F.col("cosine") >= threshold)
            .distinct()
        )
    banded = _persist_sketch(
        e.withColumn("_dots", F.expr(dots))
        .select("_id", F.explode(F.expr(band_keys)).alias("_bk"))
    )
    cand = banded.select(F.col("_id").alias("id_a"), "_bk").join(
        banded.select(F.col("_id").alias("id_b"), "_bk"), on="_bk"
    ).filter(F.col("id_a") < F.col("id_b"))
    if pair_predicate is not None:
        # narrow (id, id) rows — prune before the distinct AND before
        # the two vector joins below
        cand = cand.filter(pair_predicate(F.col("id_a"), F.col("id_b")))
    cand = cand.select("id_a", "id_b").distinct()
    va = e.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"))
    vb = e.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


#: bytes per directed edge in the small-graph test: two 8-byte ids
_EDGE_BYTES = 16


def neardup_clusters(
    nodes: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Connected components over near-dup pairs → cluster assignment.

    ``nodes``: one row per document id; ``pairs``: (id_a, id_b) edges
    from any pair-producing dedup operator.  Returns (id_col,
    cluster_id) where cluster_id is the MINIMUM member id of the
    component — deterministic, and the conventional keep-lowest-id
    dedup rule falls out as ``id == cluster_id``.

    Algorithm, chosen from the measured edge count (no option):

    * **Small graph** — ``n_edges × 16 B`` at most the session's
      ``spark.sql.autoBroadcastJoinThreshold`` (the bound Spark
      already uses for "small enough to ship whole to one place";
      ``-1`` disables the branch): union-find (min-id root, path
      halving) over the cached edges in ONE Arrow task.  Near-dup
      graphs are a few hundred edges; there the loop below spends
      ~15 eager jobs on per-job overhead, and this branch is one
      job.  The task asserts it received no more edges than the
      driver counted.
    * **Large graph** (and float ids, whose NaN Python cannot union)
      — min-label propagation to fixpoint.  Each
      iteration is one shuffle join + aggregate (both distributed);
      the number of iterations is bounded by the component diameter,
      which for near-dup clusters is tiny (dup groups are cliques or
      short chains through a shared representative).  At 100 TB this
      is the standard large-graph CC recipe (label propagation;
      alternating-star variants only pay off on web-graph-scale
      diameters).

    On both branches the driver reads only counts — no data is
    collected — and the labels re-attach to ``nodes`` with one join.
    """
    ids = nodes.select(F.col(id_col).alias("_u")).distinct()
    # Both edge directions come from ONE pass over the pair source
    # (explode of the 2-element array), not a union of two selects:
    # Spark does no common-subexpression elimination across union
    # branches, so the union shape re-executed the entire pair-producing
    # pipeline (minhash LSH, embedding blocking, ...) once per branch —
    # for every caller, the pair pipeline is the dominant cost, and the
    # explode halves it (guide §2.3 "don't compute things you throw
    # away").  Same relation: explode+distinct ≡ union+distinct.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("_u"), F.col("id_b").alias("_v")
                    ),
                    F.struct(
                        F.col("id_b").alias("_u"), F.col("id_a").alias("_v")
                    ),
                )
            ).alias("_e")
        )
        .select("_e._u", "_e._v")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Eager cache fill: the labels below DERIVE from edges, so without
    # it the pair-producing pipeline would run once per consumer
    # (labels' derivation and the join's edge side) — for expensive
    # pair sources (minhash LSH) that doubles the dominant cost.  One
    # count materializes edges once; everything after reads the cache,
    # and the count picks the branch.
    n_edges = edges.count()
    id_type = edges.schema["_u"].dataType
    threshold = (
        nodes.sparkSession._jsparkSession.sessionState()
        .conf()
        .autoBroadcastJoinThreshold()
    )
    # float ids stay on the loop: Spark joins NaN to NaN, Python never
    # finds NaN equal to itself (the union-find walk would not end)
    if n_edges * _EDGE_BYTES <= threshold and not isinstance(
        id_type, (FloatType, DoubleType)
    ):
        schema = StructType(
            [StructField("_u", id_type), StructField("_lbl", id_type)]
        )
        labels = (
            edges.coalesce(1)
            .mapInArrow(_union_find_labels(n_edges), schema)
            .localCheckpoint(eager=True)
        )
        edges.unpersist()
    else:
        labels = _propagate_min_labels(edges)
    # fresh column names on the label side: ids and labels share the
    # nodes lineage, so a bare "_u" join is an ambiguous self-join
    fin = labels.select(
        F.col("_u").alias("_lu"), F.col("_lbl").alias("_llbl")
    )
    return ids.join(fin, F.col("_u") == F.col("_lu"), "left").select(
        F.col("_u").alias(id_col),
        F.coalesce("_llbl", "_u").alias("cluster_id"),
    )


def _union_find_labels(n_edges: int):
    """Build the one-task union-find kernel over directed ``(_u, _v)``
    edge batches: emits ``(_u, _lbl)`` per edge vertex, ``_lbl`` the
    minimum id of its component, in the id column's own Arrow type.
    Edges with a NULL end are skipped (they never match the loop's
    equi-join either).  Raises if the task sees more than ``n_edges``
    rows — the bound that sent the graph to one task.

    Returned as a NESTED closure so Spark pickles it BY VALUE: a
    vanilla driver's workers lack the repo sys.path (the round-8
    driver-sim rule).  EXECUTOR closure — stdlib + pyarrow only.
    """

    def _kernel(batches):
        import pyarrow as pa

        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        seen = 0
        id_type = None
        for b in batches:
            seen += b.num_rows
            if seen > n_edges:
                raise RuntimeError(
                    f"neardup_clusters: union-find task received {seen} "
                    f"edges, more than the {n_edges} counted on the driver"
                )
            id_type = b.column(0).type
            for u, v in zip(b.column(0).to_pylist(), b.column(1).to_pylist()):
                if u is None or v is None:
                    continue
                ru = find(parent.setdefault(u, u))
                rv = find(parent.setdefault(v, v))
                if ru != rv:
                    # min-id root: the root IS the component's label
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        if parent:
            us = list(parent)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(us, type=id_type),
                    pa.array([find(u) for u in us], type=id_type),
                ],
                names=["_u", "_lbl"],
            )

    return _kernel


def _propagate_min_labels(edges: DataFrame) -> DataFrame:
    """Min-label propagation to fixpoint over the cached directed
    ``edges``; unpersists them and returns the converged ``(_u, _lbl)``
    labels, localCheckpointed."""
    # propagate over EDGE VERTICES only (guide §2.3 — shuffle fewer
    # bytes): a node with no dup edge can never change label, yet the
    # corpus-sized label relation used to ride every iteration's join.
    # Dup vertices are a tiny fraction of the corpus, so each
    # iteration now shuffles O(|dup vertices|); singletons re-attach
    # once at the end as their own cluster.
    labels = (
        edges.select(F.col("_u").alias("_w"))
        .distinct()
        # fresh attribute ids (alias hop): labels must not share
        # edges' _u attribute or every loop join is an ambiguous
        # self-join
        .select(F.col("_w").alias("_u"), F.col("_w").alias("_lbl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the handle actually holding the cache (labels may be a projection
    # of it after the first iteration; unpersist must hit the cached DF)
    cache_handle = labels
    iteration = 0
    while True:
        iteration += 1
        neighbor_min = (
            edges.join(labels, edges._v == labels._u)
            .groupBy(edges._u.alias("_u"))
            .agg(F.min("_lbl").alias("_nl"))
        )
        # carry the previous label through the update so convergence is
        # a filter+count over THIS relation — not a separate
        # new-vs-old join (one join + shuffle per iteration saved)
        new_labels = (
            labels.join(neighbor_min, "_u", "left")
            .select(
                "_u",
                F.least(F.col("_lbl"), F.coalesce("_nl", "_lbl")).alias("_lbl"),
                F.col("_lbl").alias("_old"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if iteration % 5 == 0:
            # Persist keeps each iteration's DATA from recomputing, but
            # the logical plan still grows one join per iteration —
            # planning time and lineage-recovery depth degrade on
            # high-diameter components.  localCheckpoint truncates the
            # lineage to the materialized blocks every 5 iterations, so
            # plan depth stays O(5) regardless of diameter.
            cp = new_labels.localCheckpoint(eager=True)
            new_labels.unpersist()
            new_labels = cp
        changed = new_labels.filter(F.col("_lbl") != F.col("_old")).count()
        cache_handle.unpersist()
        cache_handle = new_labels
        labels = new_labels.select("_u", "_lbl")
        if changed == 0:
            break
    edges.unpersist()
    # Truncate the converged labels' lineage before handing them to the
    # caller: the loop's plan re-embeds the whole edges subtree (the
    # entire pair-producing pipeline) once per un-checkpointed
    # iteration, so the caller's plan grows O(iterations)·O(pairs plan)
    # — pure Catalyst overhead at execution time since the data is
    # already cached.  One job over the dup-vertex-sized cached blocks.
    labels = labels.localCheckpoint(eager=True)
    cache_handle.unpersist()
    return labels


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    max_dist: int = 2,
    verify_via_ids: bool = False,
) -> DataFrame:
    """Blocked edit-distance pairs with a LOSSLESS PassJoin-style
    candidate filter (Li et al., "PassJoin: A Partition-based Method
    for Similarity Joins", VLDB 2011 — public algorithm).

    Instead of running the DP on every in-block pair, each string is
    partitioned into ``max_dist+1`` segments; for a pair within edit
    distance τ, at most τ segments are touched by edits, so at least
    one segment of `a` occurs VERBATIM in `b`, at its own position
    shifted by at most τ (net indel drift).  Candidates are therefore
    an equi-join on (block, partner-length, segment-index, content)
    where the probe side enumerates partner lengths within ±τ and
    position shifts within ±τ — O(τ²·(τ+1)) keys per row, constant —
    and only candidates run the thresholded DP.

    Strings shorter than ``2*(max_dist+1)`` get degenerate (empty)
    segments, so pairs where either side is that short go through a
    plain length-banded all-pairs path instead (a vanishing fraction
    of any real corpus).

    Output: (id_a, id_b, edit_dist) with id_a < id_b, distance ≤ τ.
    Scale: the candidate join shuffles constant-per-row keys, never
    |block|² pairs; uniform-content segments keep buckets small, and
    degenerate low-entropy segments (shared prefixes) only cost extra
    *candidates*, never correctness.
    """
    tau = int(max_dist)
    nseg = tau + 1
    min_len = 2 * nseg
    raw = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_raw"),
    )
    # Strip each block's longest common prefix before segmenting.
    # Stripping an identical prefix from both strings preserves edit
    # distance (the DP aligns equal prefixes on the diagonal), and it
    # is what keeps the filter selective on templated corpora: a shared
    # "Customer#"-style prefix would otherwise make segment 0
    # zero-entropy and degrade the candidate join to all-pairs.
    # LCP of a set == LCP of its lexicographic (min, max).
    lcp = raw.groupBy("_blk").agg(
        F.min("_raw").alias("_mn"), F.max("_raw").alias("_mx")
    ).selectExpr(
        "_blk",
        """IF(least(length(_mn), length(_mx)) = 0, 0,
           aggregate(
             sequence(1, least(length(_mn), length(_mx))),
             0,
             (acc, i) -> IF(acc = i - 1
                            AND substring(_mn, i, 1) = substring(_mx, i, 1),
                            i, acc)
           )) AS _lcp""",
    ).localCheckpoint(eager=True)
    # ^ the lcp relation (one row per block) is referenced by every
    # branch below (index, probe, probe-length filter, short, partner);
    # without materialization Spark re-plans and re-executes its
    # scan+aggregate subtree once PER REFERENCE (5x in the physical
    # plan).  localCheckpoint collapses those to one tiny job.
    base = (
        raw.join(F.broadcast(lcp), "_blk")
        .selectExpr(
            "_blk",
            "_id",
            "_raw",
            "substring(_raw, _lcp + 1) AS _txt",
            "length(_raw) - _lcp AS _len",
        )
    )

    # seg boundary arithmetic for partner length l (SQL fragments):
    # base b = l div n, remainder r = l % n; seg i (0-based) starts at
    # i*b + least(i, r) and has length b + (i < r)
    def _pos(l: str, i: int) -> str:
        return f"({i} * ({l} DIV {nseg}) + LEAST({i}, {l} % {nseg}))"

    def _slen(l: str, i: int) -> str:
        return f"(({l} DIV {nseg}) + CAST({i} < ({l} % {nseg}) AS INT))"

    long_side = base.filter(F.col("_len") >= min_len)
    # index side: its own segments at their true positions
    seg_structs = ", ".join(
        f"named_struct('l', _len, 'i', {i}, "
        f"'s', substring(_txt, {_pos('_len', i)} + 1, {_slen('_len', i)}))"
        for i in range(nseg)
    )
    idx = long_side.selectExpr(
        "_blk", "_id AS id_a", "_txt AS txt_a", f"explode(array({seg_structs})) AS _k"
    )
    # probe side: for each partner length l within ±tau and shift
    # within ±tau, the substring at the partner's segment position
    probe_structs = []
    for off in range(-tau, tau + 1):
        l = f"(_len + {off})"
        for i in range(nseg):
            for d in range(-tau, tau + 1):
                p = f"({_pos(l, i)} + {d})"
                probe_structs.append(
                    f"IF({l} >= {min_len} AND {p} >= 0, "
                    f"named_struct('l', {l}, 'i', {i}, "
                    f"'s', substring(_txt, {p} + 1, {_slen(l, i)})), NULL)"
                )
    probe = long_side.selectExpr(
        "_blk",
        "_id AS id_b",
        "_txt AS txt_b",
        f"explode(array({', '.join(probe_structs)})) AS _k",
    ).filter("_k IS NOT NULL")
    # probe-side pruning: a probe key for partner length l is useless
    # if no index string of length l exists in the block.  The per-block
    # length set is tiny → broadcast; the filter runs in the explode
    # stage, BEFORE the candidate join's shuffle (on a fixed-length
    # corpus this drops probe shuffle volume (2τ+1)×).
    blk_lens = long_side.select("_blk", F.col("_len").alias("_kl")).distinct()
    probe = probe.join(
        F.broadcast(blk_lens),
        (probe._blk == blk_lens._blk) & (F.col("_k.l") == F.col("_kl")),
    ).select(probe._blk, "id_b", "txt_b", "_k")
    cand_long = (
        idx.join(probe, ["_blk", "_k"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "txt_a", "txt_b")
        .distinct()
    )

    # short-string path: pairs where either side is short (partner
    # bounded by short_len + tau).  For small τ this runs a LOSSLESS
    # deletion-neighborhood join (the symmetric-delete dictionary
    # trick, public — Garbe's SymSpell): if ed(a, b) ≤ τ, deleting the
    # substituted/deleted chars from `a` and the substituted/inserted
    # chars from `b` (≤ τ each side, by any optimal alignment) reaches
    # the SAME matched-character subsequence, so the ≤τ-deletion
    # neighborhoods intersect.  Candidates are an equi-join on
    # (block, deletion variant) — |D≤τ| ≤ Σ C(3τ+1, k) keys per short
    # string, 29 at τ=2 — with the banded DP verifying INSIDE the join
    # condition so the pair-dedup distinct runs over matches only.
    # r14 (guide §3.3 cheap candidates before the DP): the previous
    # length-banded ALL-PAIRS join ran the DP on every in-block pair —
    # 4.5M DP evaluations on the sf0.1 names corpus vs 0.7M deletion
    # candidates (6.5×), worth ~1s of the frozen row.  τ > 2 would
    # explode the neighborhood (C(3τ+1, τ) keys), so large-τ calls
    # keep the all-pairs shape below.
    shorts_all = base.filter(F.col("_len") < min_len + tau)
    if tau <= 2:
        import itertools as _it

        max_short = min_len + tau - 1  # longest short-path string
        del_exprs = ["_txt"]
        if tau >= 1:
            for i in range(1, max_short + 1):
                del_exprs.append(
                    f"IF(length(_txt) >= {i}, concat("
                    f"substring(_txt, 1, {i - 1}), "
                    f"substring(_txt, {i + 1})), NULL)"
                )
        if tau >= 2:
            for i, j in _it.combinations(range(1, max_short + 1), 2):
                del_exprs.append(
                    f"IF(length(_txt) >= {j}, concat("
                    f"substring(_txt, 1, {i - 1}), "
                    f"substring(_txt, {i + 1}, {j - i - 1}), "
                    f"substring(_txt, {j + 1})), NULL)"
                )
        keys = (
            "array_distinct(filter(array("
            + ", ".join(del_exprs)
            + "), x -> x IS NOT NULL))"
        )
        keyed = shorts_all.selectExpr(
            "_blk", "_id", "_txt", "_len", f"explode({keys}) AS _k"
        )
        cand_short = (
            keyed.selectExpr(
                "_blk", "_id AS id_a", "_txt AS txt_a", "_len AS la", "_k"
            )
            .join(
                keyed.selectExpr(
                    "_blk", "_id AS id_b", "_txt AS txt_b",
                    "_len AS lb", "_k",
                ),
                ["_blk", "_k"],
            )
            .filter(
                (F.col("id_a") < F.col("id_b"))
                # membership: at least one side is genuinely short —
                # both-long pairs belong to the segment-filtered path
                & (F.least("la", "lb") < min_len)
                & (F.abs(F.col("la") - F.col("lb")) <= tau)
                & (F.levenshtein("txt_a", "txt_b", tau) >= 0)
            )
            .select("id_a", "id_b", "txt_a", "txt_b")
            .distinct()
        )
    else:
        # large τ: length-banded all-pairs, each unordered pair emitted
        # EXACTLY ONCE (both-short pairs keep id_a < id_b; short-long
        # pairs only appear with the short string on the build side)
        shorts = base.filter(F.col("_len") < min_len)
        cand_short = (
            shorts.selectExpr(
                "_blk", "_id AS id_a", "_txt AS txt_a", "_len AS la"
            )
            .join(
                shorts_all.selectExpr(
                    "_blk", "_id AS id_b", "_txt AS txt_b", "_len AS lb"
                ),
                "_blk",
            )
            .filter(
                ((F.col("lb") >= min_len) | (F.col("id_a") < F.col("id_b")))
                & (F.col("id_a") != F.col("id_b"))
                & (F.abs(F.col("la") - F.col("lb")) <= tau)
            )
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                F.when(F.col("id_a") < F.col("id_b"), F.col("txt_a"))
                .otherwise(F.col("txt_b"))
                .alias("txt_a"),
                F.when(F.col("id_a") < F.col("id_b"), F.col("txt_b"))
                .otherwise(F.col("txt_a"))
                .alias("txt_b"),
            )
        )

    # the two branches are DISJOINT — cand_long requires both lengths
    # >= min_len, cand_short requires the probe side < min_len — and
    # each is internally duplicate-free (cand_long by its distinct;
    # cand_short by its distinct for τ≤2, by the all-pairs shape's
    # exactly-once emission for larger τ), so the union needs no
    # further distinct: one full candidate shuffle saved.
    if verify_via_ids:
        # long-text mode: candidates shuffle only id pairs; the two
        # texts are joined back once for the final DP — the candidate
        # relation never carries document bodies
        cand = cand_long.select("id_a", "id_b").unionByName(
            cand_short.select("id_a", "id_b")
        )
        ta = base.select(F.col("_id").alias("id_a"), F.col("_txt").alias("txt_a"))
        tb = base.select(F.col("_id").alias("id_b"), F.col("_txt").alias("txt_b"))
        cand = cand.join(ta, "id_a").join(tb, "id_b")
    else:
        cand = cand_long.unionByName(cand_short)
    return (
        cand.select(
            "id_a",
            "id_b",
            F.levenshtein("txt_a", "txt_b", tau).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
    )


# ------------------------------------------------------------------ #
# Bloom-filter membership — incremental dedup against a history
# ------------------------------------------------------------------ #

#: Bloom words are 32-bit (stored in BIGINT): shiftleft stays positive
#: in both engines, so the bit math is cross-engine exact — a 64-bit
#: word would need 1<<63, which wraps in Spark and overflows in DuckDB.
BLOOM_WORD_BITS = 32


def _bloom_pos_sql(h: str, i: int, m_bits: int) -> str:
    """SQL for hash i's bit position of a 32-bit item hash `h`:
    affine map over the shared md5-derived family (functions/hashing.py)
    reduced mod m_bits.  All intermediates < 2^62 — exact BIGINT in
    Spark and DuckDB (which errors on overflow rather than wrapping)."""
    from pg_analytics_spark.functions.hashing import MINHASH_COEFFS, MINHASH_P

    a, b = MINHASH_COEFFS[i]
    return f"((({a} * {h} + {b}) % {MINHASH_P}) % {m_bits})"


def _bloom_wm_sql(h: str, num_hashes: int, m_bits: int) -> str:
    """SQL array<struct<word:int, mask:bigint>> of the item's Bloom
    slots; one entry per hash."""
    entries = []
    for i in range(num_hashes):
        p = _bloom_pos_sql(h, i, m_bits)
        entries.append(
            f"struct(CAST(({p} div {BLOOM_WORD_BITS}) AS INT) AS word, "
            f"SHIFTLEFT(CAST(1 AS BIGINT), "
            f"CAST({p} % {BLOOM_WORD_BITS} AS INT)) AS mask)"
        )
    return f"array({', '.join(entries)})"


def bloom_bits(
    items: DataFrame,
    hash_col: str,
    *,
    m_bits: int = 1 << 19,
    num_hashes: int = 7,
) -> DataFrame:
    """Distributed Bloom filter build over an item-hash column.

    `hash_col` must hold 32-bit non-negative item hashes as BIGINT
    (first 32 bits of md5 — `functions.hashing.shingle_hash32`).
    Returns the filter as a relation (word:int, bits:bigint) with at
    most m_bits/32 rows.

    Scale (100 TB): the ONLY shuffle is the final hash-agg on `word`,
    whose key space is m_bits/32 (a few thousand rows) — bit_or is
    map-side combinable, so each task emits at most one partial word
    table no matter how many items it scans.  The history corpus is
    never re-shuffled and never carried past its hash column.
    """
    if m_bits % BLOOM_WORD_BITS:
        raise ValueError(f"m_bits must be a multiple of {BLOOM_WORD_BITS}")
    wm = items.selectExpr(
        f"inline({_bloom_wm_sql(hash_col, num_hashes, m_bits)})"
    )
    return wm.groupBy("word").agg(F.expr("bit_or(mask)").alias("bits"))


def bloom_probe(
    probe: DataFrame,
    hash_col: str,
    bits: DataFrame,
    key_cols: list[str],
    *,
    m_bits: int = 1 << 19,
    num_hashes: int = 7,
) -> DataFrame:
    """Probe a Bloom filter built by :func:`bloom_bits`.

    `key_cols` must uniquely identify probe rows.  Returns one row per
    probe row: (key_cols..., bloom_hit) where bloom_hit is true iff all
    num_hashes bits are set — i.e. the item is POSSIBLY in the history
    (no false negatives; false-positive rate set by m_bits/num_hashes).

    Scale: the filter relation is m_bits/32 rows -> broadcast; the
    probe side explodes to num_hashes narrow (key, word, mask) rows and
    aggregates straight back, so membership against an arbitrarily
    large history costs ONE map-side broadcast join over the probe
    shard only — the history itself is not touched at probe time.
    """
    wm = probe.selectExpr(
        *key_cols, f"inline({_bloom_wm_sql(hash_col, num_hashes, m_bits)})"
    )
    j = wm.join(F.broadcast(bits), "word", "left")
    return j.groupBy(*key_cols).agg(
        F.expr(
            "bool_and((coalesce(bits, CAST(0 AS BIGINT)) & mask) = mask)"
        ).alias("bloom_hit")
    )


def embedding_semantic_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    n_cells: int | str = 8,
    seed: int = 7,
    centroids=None,
    target_cell_size: int = 512,
) -> DataFrame:
    """Semantic dedup pairs (the SemDeDup pattern, Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest-centroid cell,
    then compare pairs ONLY within a cell — near-duplicates are
    near-identical in embedding space, so they land in the same cell
    and the cross-cell quadratic disappears.

    Scale: the self-join is an equi-join on the cell id — shuffle
    volume is |corpus|, per-cell work is quadratic in CELL size, and at
    100 TB the cell id is a partition column (write-time layout), so
    each cell's pairs compute inside one partition with no global
    shuffle at all.  A trained codebook (similarity.train_ivf_centroids)
    shrinks cells toward true clusters, cutting the in-cell quadratic;
    the seeded codebook keeps the operator deterministic without a
    training job.  Recall boundary: a pair straddling a cell border is
    missed — the documented trade of every blocked method (the minhash
    family catches textual near-dups; this tier targets semantic ones).

    ``n_cells="auto"`` applies the measured operating rule (SCALE.md):
    cells of bounded size — n_cells = max(8, ceil(n /
    target_cell_size)) from one metadata-cheap count.  Fixed 8 cells at
    10× corpus measured 3× super-linear; auto restores ~linear (the
    join-based assignment in cell_assignments handles the larger
    codebook past codegen's literal-fold limit).  Registry/oracle
    callers pin an explicit value (the oracle replays the centroid
    literals).
    """
    import math

    from pg_analytics_spark.operators.similarity import (
        cell_assignments,
        ivf_centroids,
    )

    if n_cells == "auto":
        n = df.count()
        n_cells = max(8, math.ceil(n / target_cell_size))
    # dim probe: one LIMIT-1 job transferring a single int (not the
    # whole vector); skipped entirely when a codebook is supplied, and
    # memoized per (plan, column) — the dimensionality of a stable
    # relation never changes, so repeat callers (dedup_semantic and
    # dedup_semantic_keep share the corpus) pay the job once (r13 job
    # audit: one saved action per repeat call)
    if centroids is not None:
        dim = len(centroids[0])
    else:
        try:
            key = (
                df._jdf.queryExecution().analyzed().semanticHash(),
                vec_col,
            )
        except Exception:
            key = None
        dim = _DIM_CACHE.get(key) if key is not None else None
        if dim is None:
            dim = df.select(F.size(F.col(vec_col))).limit(1).first()[0]
            if key is not None:
                _DIM_CACHE[key] = dim
    cents = centroids if centroids is not None else ivf_centroids(dim, n_cells, seed)
    cells = cell_assignments(df, vec_col, id_col, cents)

    # In-cell quadratic as ONE Arrow-batched matrix pass per cell
    # (r10; replaces the r7 pair-join + persist shape).  Plan history,
    # all measured at sf0.1 (2k×64, warm, in-context): pair JOIN with
    # an `aggregate`-fold dot = 1.45s — Spark evaluates HOF lambdas
    # INTERPRETED per element, so 250k pairs × 64 dims paid ~16M
    # interpreted ops; a literal 64-term Add tree was 3× WORSE (4.4s:
    # the deep codegen tree splits into boxed methods); this
    # vectorized pass runs 0.55s.  Bit-exactness with the HOF fold and
    # the DuckDB oracle is preserved by accumulating dimension-by-
    # dimension from 0.0 — the numpy loop performs the IDENTICAL IEEE
    # op sequence ((0+p₀)+p₁)+… per pair (verified bit-for-bit at
    # threshold 0.5, where pairs exist).  Memory: the per-cell dot
    # matrix is O(cell²) — bounded by design: ``n_cells="auto"`` caps
    # cells near ``target_cell_size`` (a 512×512 float64 matrix is
    # 2 MB); at 100 TB the cell id is a partition column and each
    # cell's matrix computes inside its partition.  The closure
    # imports only numpy/pandas (vanilla-worker safe, the r8
    # driver-sim rule).
    th = float(threshold)

    def _cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        A = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["_v"].values]
        )
        ids = pdf["_id"].values
        n_rows, d = A.shape
        acc = np.zeros(n_rows)
        for i in range(d):
            acc = acc + A[:, i] * A[:, i]
        norms = np.sqrt(acc)
        dot = np.zeros((n_rows, n_rows))
        for i in range(d):
            dot = dot + A[:, i, None] * A[None, :, i]
        cos = np.round(dot / (norms[:, None] * norms[None, :]), 6)
        iu = np.triu_indices(n_rows, k=1)
        ia, ib = ids[iu[0]], ids[iu[1]]
        swap = ia > ib
        ia2 = np.where(swap, ib, ia)
        ib2 = np.where(swap, ia, ib)
        c = cos[iu]
        keep = c >= th
        return pd.DataFrame(
            {
                "cell": pdf["cell"].iloc[0],
                "id_a": ia2[keep],
                "id_b": ib2[keep],
                "cosine": c[keep],
            }
        )

    return cells.groupBy("cell").applyInPandas(
        _cell_pairs, "cell long, id_a long, id_b long, cosine double"
    )
