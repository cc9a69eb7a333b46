"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline, and an LSH
(random-hyperplane, integer-quantized) bucketing as the scale path.

Scale posture: brute-force is query-set × corpus — fine when the query side is
small and broadcast; the LSH variant reduces candidate generation to an
equi-join on bucket keys, which is the 100 TB-safe shape. Dot products are
computed with higher-order functions (zip_with/aggregate) — JVM-side, no
Python. Signs in the LSH path use integer-quantized arithmetic so bucket
assignment is bit-deterministic across engines and partitionings.

Zero-norm vectors (an all-zero embedding — blank input upstream) have no
defined cosine: every cosine here divides via try_divide, yielding NULL —
the same NULL DuckDB's double x/0 produces — instead of an ANSI
divide-by-zero error. NULL cosines rank last under DESC in both engines
(Spark desc = NULLS LAST, DuckDB default NULLS LAST) and fail every
`cosine >= threshold` filter, so zero vectors are never near-dups and
never beat a real neighbor (pinned by tests/test_embed_fuzz.py's
zero-vector corpus). The numpy bucket kernel reaches the same outcome:
0/0 = NaN fails the in-kernel mask, so NaN pairs never leave the kernel.
"""

from __future__ import annotations

import functools as _functools

import pandas as pd  # module-level so pandas_udf can resolve string hints
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# LCG constants for deterministic pseudo-random hyperplane weights
_LCG_A, _LCG_C, _LCG_M = 1_103_515_245, 12_345, 2_147_483_648


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product (order-deterministic)."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_topk(
    emb: DataFrame,
    query_ids_max: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: queries (id < query_ids_max) × corpus.

    The query side is tiny → broadcast; the corpus scan is a single pass.
    Deterministic ranking: (cosine desc, neighbor id asc) — cosines are
    bit-exact (float→double widening + sequential adds).
    """
    from pyspark.sql import Window

    # norms precomputed per side: one aggregate per ROW instead of three
    # per PAIR (numerically identical — same sequential fold)
    q = emb.filter(F.col(id_col) < query_ids_max).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnorm"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cnorm"),
    )
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.try_divide(dot(F.col("qvec"), F.col("cvec")), F.col("qnorm") * F.col("cnorm")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round(F.col("cosine"), 8).alias("cosine"), F.col("rn").alias("rank"))
    )


def lsh_bucket_assignments(
    emb: DataFrame,
    spark,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector, fully integer-deterministic.

    Vectors are quantized (round(x·1000) as BIGINT) and projected onto
    integer LCG hyperplanes inside an Arrow-vectorized UDF evaluated in the
    SAME scan that reads the vector — zero shuffles, no 64× posexplode row
    blowup (the earlier posexplode ⋈ broadcast(weights) → 2×groupBy shape
    cost two shuffles of dims·n rows). Buckets are bit-identical under any
    evaluation strategy because the math is pure integer. Dims beyond
    `dims` are ignored, matching the d < dims weight join of the oracle
    CTE.
    """
    return emb.select(
        F.col(id_col), lsh_bucket_expr(F.col(vec_col), planes, dims).alias("bucket")
    )


def _lcg_planes(planes: int, dims: int):
    """(dims, planes) int64 hyperplane weight matrix from the LCG."""
    import numpy as np

    return np.array(
        [
            [(_LCG_A * (d * planes + k) + _LCG_C) % _LCG_M - _LCG_M // 2 for k in range(planes)]
            for d in range(dims)
        ],
        dtype=np.int64,
    )


@_functools.lru_cache(maxsize=None)
def _bucket_udf(planes: int, dims: int):
    """Arrow-vectorized bucket computation: quantize, integer-matmul against
    the hyperplanes, pack sign bits. All integer math → bit-identical to the
    relational form (and the oracle's generate_series CTE). Chosen over a
    zip_with/aggregate column expression after measurement: the expression
    form interpreted planes·dims lambda steps per row (~1 s / 2000 rows at
    sf0.1 plus multi-second codegen of the 8×64 literal arrays) vs ~0.05 s
    here. np.round (banker's) cannot diverge from SQL round (half-up):
    f32 mantissa (24 bits) × 1000 (10 bits) products are exact in f64 and
    exact ties k+0.5 would need a factor of 2000 — impossible in binary."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    W = _lcg_planes(planes, dims)
    shifts = np.arange(planes, dtype=np.int64)

    @pandas_udf("long")
    def bucket(vecs: pd.Series) -> pd.Series:
        arrs = vecs.to_numpy()
        try:
            V = np.stack(arrs).astype(np.float64)
        except ValueError:  # ragged batch — missing dims contribute 0
            width = max(len(a) for a in arrs)
            V = np.zeros((len(arrs), width), dtype=np.float64)
            for i, a in enumerate(arrs):
                V[i, : len(a)] = a
        if V.shape[1] > dims:
            V = V[:, :dims]
        vq = np.round(V * 1000).astype(np.int64)
        s = vq @ W[: V.shape[1]]
        bits = ((s > 0).astype(np.int64) << shifts).sum(axis=1)
        return pd.Series(bits)

    return bucket


def lsh_bucket_expr(vec: Column, planes: int = 8, dims: int = 64) -> Column:
    """The bucket id as a single column (see lsh_bucket_assignments for
    semantics) — usable in any select; map-side, no shuffle."""
    return _bucket_udf(planes, dims)(vec)


def lsh_bucket_histogram(emb: DataFrame, spark, planes: int = 8, **kw) -> DataFrame:
    """Bucket occupancy histogram — the IVF-style coarse index statistics."""
    buckets = lsh_bucket_assignments(emb, spark, planes, **kw)
    return buckets.groupBy("bucket").agg(
        F.count("*").alias("n_vectors"),
        F.min(kw.get("id_col", "vec_id")).alias("min_vec_id"),
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    query_ids_max: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: coarse quantizer → inverted lists → nprobe search.

    The vectors with id < n_centroids stand in for trained k-means
    centroids (a deterministic, oracle-expressible choice; swap in real
    trained centroids in production — the plan shape is identical). Every
    corpus vector joins its argmax-cosine centroid's inverted list
    (tie-break: smallest centroid id); a query scores only the lists of
    its nprobe nearest centroids — n/K·nprobe candidates on average
    instead of n.

    Scale posture: the centroid table is O(K) and broadcast, assignment is
    one map-side pass over the corpus, and candidate generation is an
    equi-join on the centroid id. Cosines reuse the sequential-fold dot()
    so ranking is bit-deterministic across engines.
    """
    from pyspark.sql import Window

    e = emb.select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("nrm"))
    cents = e.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"), F.col("nrm").alias("cnrm")
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("nrm"),
        F.col("cid"),
        F.try_divide(dot(F.col(vec_col), F.col("cvec")), F.col("nrm") * F.col("cnrm")).alias("cos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cos"), F.asc("cid"))
    # r12 note: assign and probe both read `ranked`, so the crossJoin × K
    # dot-product pass runs twice. A localCheckpoint here measured
    # NEUTRAL-to-slower at sf0.1 (embed_ivf_knn 1.35 → 1.39 s,
    # sim_recall_certify 1.68 → 1.80 s, min of 3) — materializing the
    # vector-carrying rows costs what the replay costs at 2,000 vectors.
    # Worth revisiting only when |corpus| × K dominates the probe side.
    ranked = scored.withColumn("crn", F.row_number().over(w))
    assign = ranked.filter(F.col("crn") == 1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        F.col("nrm").alias("nnrm"),
        "cid",
    )
    probe = ranked.filter(
        (F.col(id_col) < query_ids_max) & (F.col("crn") <= nprobe)
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("nrm").alias("qnrm"),
        "cid",
    )
    cand = probe.join(assign, "cid").filter(F.col("neighbor_id") != F.col("query_id"))
    pairs = cand.select(
        "query_id",
        "neighbor_id",
        F.try_divide(dot(F.col("qvec"), F.col("nvec")), F.col("qnrm") * F.col("nnrm")).alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cosine"), 8).alias("cosine"),
            F.col("rn").cast("long").alias("rank"),
        )
    )


def cosine_near_dups(
    emb: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: for every pair with
    round(cosine, 8) ≥ threshold, the larger id is marked a duplicate of
    the smaller (keep-min-id policy). Returns one row per dropped vector.

    This is the exact all-pairs baseline (O(n²) — fine for a dim-table-
    sized corpus). The 100 TB path runs the same scoring inside
    hyperplane-LSH buckets (lsh_bucket_assignments) so candidate
    generation is an equi-join, not a cross join.
    """
    a = emb.select(
        F.col(id_col).alias("keep_id"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    b = emb.select(
        F.col(id_col).alias("drop_id"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    pairs = a.join(b, F.col("keep_id") < F.col("drop_id"))
    scored = pairs.select(
        "keep_id",
        "drop_id",
        F.round(F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")), 8).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)
    return scored.groupBy("drop_id").agg(
        F.count("*").alias("n_dups"),
        F.min("keep_id").alias("canonical_id"),
        F.max("cosine").alias("best_cosine"),
    )


def lsh_cosine_near_dups(
    emb: DataFrame,
    spark,
    threshold: float = 0.3,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup removal at scale: LSH-bucketed candidate generation + exact
    within-bucket cosine confirmation (keep-min-id policy).

    Scale shape: ONE shuffle (on the hyperplane bucket), then each bucket's
    all-pairs cosine runs as a blocked Arrow-vectorized kernel — each vector
    crosses the JVM→Python boundary once, not once per candidate pair, and
    the n_b²·dims scoring is NumPy instead of a per-pair interpreted
    zip_with/aggregate fold (~8× faster at sf0.1). The kernel accumulates
    the pair dot products dimension-sequentially (acc += x_d·y_d, outer
    over the pair axes), which is bit-identical to the left-to-right
    `dot()` fold, so the oracle still hash-matches; the threshold is
    pre-filtered in-kernel with a 1e-8 slack and decided EXACTLY in Spark
    on the engine-rounded cosine. The exact all-pairs baseline
    (cosine_near_dups) is the small-corpus twin.
    """
    import numpy as np
    import pandas as pd

    withb = emb.select(
        F.col(id_col), F.col(vec_col),
        lsh_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {"keep_id": pd.Series(dtype="int64"), "drop_id": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")}
        )
        if n < 2:
            return empty
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        acc = np.zeros((n, n), dtype=np.float64)
        for d in range(V.shape[1]):  # dimension-sequential ≡ dot() fold
            acc += np.multiply.outer(V[:, d], V[:, d])
        nrm = np.sqrt(acc.diagonal())
        iu, ju = np.triu_indices(n, 1)
        cos = acc[iu, ju] / (nrm[iu] * nrm[ju])
        m = cos >= threshold - 1e-8  # slack; exact decision post-round in Spark
        ki, di = ids[iu[m]], ids[ju[m]]
        return pd.DataFrame(
            {"keep_id": np.minimum(ki, di), "drop_id": np.maximum(ki, di), "cosine": cos[m]}
        )

    scored = (
        withb.groupBy("bucket")
        .applyInPandas(_bucket_pairs, "keep_id long, drop_id long, cosine double")
        .select("keep_id", "drop_id", F.round(F.col("cosine"), 8).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    return scored.groupBy("drop_id").agg(
        F.count("*").alias("n_dups"),
        F.min("keep_id").alias("canonical_id"),
        F.max("cosine").alias("best_cosine"),
    )


def kmeans_quantized(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means in quantized-integer space — the coarse-quantizer
    training step for the IVF index (ivf_topk's centroid stand-ins become
    trained centroids here; the reference's analogue is offline model
    fitting feeding the kernel, SURVEY §3.3).

    Determinism contract: components quantize to integers (×1000, round);
    centroid updates re-round the per-dimension mean back onto the integer
    lattice, so every distance is exact integer arithmetic and the argmin
    (tiebreak: smallest centroid id) is engine-independent — no float
    accumulation order anywhere. Init = the k smallest vector ids.

    Scale posture per iteration: centroids are O(k·dims) and broadcast;
    assignment is one shuffle keyed (vec_id, cid) for the distance sum and
    one window on vec_id; the update is a groupBy(cid, d) partial-agg.
    Iteration count is a small constant (driver-side loop builds one plan).
    """
    from pyspark.sql import Window

    pts = (
        emb.select(F.col(id_col).alias("vec_id"), F.posexplode(F.col(vec_col)))
        .filter(F.col("pos") < dims)
        .select(
            "vec_id",
            F.col("pos").alias("d"),
            F.round(F.col("col").cast("double") * 1000, 0).cast("long").alias("q"),
        )
    )
    pts = pts.localCheckpoint(eager=False)  # reused every iteration — cut lineage
    cents = pts.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), "d", F.col("q").alias("c")
    )
    assign = None
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    for _ in range(n_iter):
        diff = F.col("q") - F.col("c")
        dist = (
            pts.join(F.broadcast(cents), "d")
            .select("vec_id", "cid", (diff * diff).alias("sq"))
            .groupBy("vec_id", "cid")
            .agg(F.sum("sq").alias("d2"))
        )
        assign = (
            dist.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )
        cents = (
            pts.join(assign, "vec_id")
            .groupBy("cid", "d")
            .agg(
                F.round(F.sum("q").cast("double") / F.count("q"), 0)
                .cast("long")
                .alias("c")
            )
        )
    sizes = assign.groupBy("cid").agg(F.count("*").alias("n_members"))
    return cents.join(sizes, "cid").select("cid", "d", "c", "n_members")
