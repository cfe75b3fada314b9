"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, one narrow map + a top-k
reduce (TakeOrdered), no shuffle of the corpus. Scale path: random-
hyperplane LSH — md5-derived deterministic planes, bucket join instead
of the full cross product.

Everything is built from built-in higher-order array functions
(zip_with/aggregate) — JVM-side, Arrow-free, codegen-friendly. At
100 TB the brute-force path is still a single scan per query batch;
the LSH path cuts candidate sets by ~2^num_planes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The query vector is inlined as a literal array → the score is a
    per-row expression; orderBy+limit compiles to TakeOrdered (no full
    sort, no shuffle of the corpus).

    round_to rounds the score BEFORE ordering so that an independent
    engine computing the same pipeline selects the identical top-k
    despite last-ulp float divergence (ties broken by id).
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    score = cosine(F.col(vec_col), q)
    if round_to is not None:
        score = F.round(score, round_to)
    scored = df.select(F.col(id_col), score.alias("cos_sim"))
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def cosine_topk_vs(
    df: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """cosine_topk against a ONE-ROW query frame instead of a collected
    literal vector: the query row rides a broadcast join, so fetching
    the vector costs no separate driver job (r15: one Spark job instead
    of two per invocation, identical scores — the arithmetic is the
    same zip_with/aggregate expression over a column instead of a
    literal). ``query`` must be a single row holding ``vec_col``.
    ``limit(1)`` keeps a >1-row frame from duplicating and corrupting
    the top-k through the cross join, but it does not reject such a
    frame: it scores against one arbitrary row, which can differ from
    run to run. A 0-row frame yields an empty result by construction —
    there is nothing to score against."""
    q = query.limit(1).select(F.col(vec_col).alias("__qv"))
    score = dot(F.col(vec_col), F.col("__qv")) / (
        norm(F.col(vec_col)) * norm(F.col("__qv"))
    )
    if round_to is not None:
        score = F.round(score, round_to)
    return (
        df.join(F.broadcast(q))
        .select(F.col(id_col), score.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    round_to: int | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold (brute-force O(n²) — the
    exactness baseline; use lsh_bucketed_pairs at scale).

    round_to rounds the score BEFORE the threshold filter so that an
    independent engine selects the identical pair set despite last-ulp
    float divergence.
    """
    # precompute each vector's norm ONCE per row: a naive cosine per
    # pair re-evaluates both norms for every pair, tripling the O(dim)
    # work across O(n²) pairs
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), norm(F.col(vec_col)).alias("na")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), norm(F.col(vec_col)).alias("nb")
    )
    score = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    if round_to is not None:
        score = F.round(score, round_to)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def hyperplane_weight(plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1) derived from
    md5(f"{plane}:{dim}") — reproducible in any engine with md5."""
    import hashlib

    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:8]
    return int(h, 16) / float(2**31) - 1.0


def lsh_bucket(vec: Column, dims: int, num_planes: int = 8, plane_offset: int = 0) -> Column:
    """Random-hyperplane signature: bit p = (vec · plane_p >= 0).
    Returns the bucket id as a long (0 .. 2^num_planes-1).
    ``plane_offset`` selects a disjoint plane set per band."""
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        w = F.array(*[F.lit(hyperplane_weight(plane_offset + p, d)) for d in range(dims)])
        bit = F.when(dot(vec, w) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit * (2**p)
    return bucket


def lsh_bucketed_pairs(
    df: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    threshold: float = 0.45,
    num_bands: int = 1,
    target_bucket_rows: int = 128,
) -> DataFrame:
    """Scale path for cosine near-dup: bucket by hyperplane signature,
    compare only within buckets, verify exact cosine.

    ``num_bands`` independent hash tables of ``num_planes`` planes
    each (OR-amplification, the random-hyperplane analog of MinHash
    banding): a pair is a candidate if it collides in ANY band, then
    the exact cosine filter removes false positives — so precision is
    1.0 by construction and recall is 1-(1-p^r)^b for collision
    probability p = 1 - angle/pi. One band keeps the legacy
    single-table behavior. The recall bound is a CHECKED contract, not
    prose: tests/test_operators.py::
    test_lsh_planted_recall_meets_banding_bound plants pairs at a
    controlled angle and asserts observed recall ≥ 1-(1-p^r)^b minus
    a 3σ binomial margin (r9).

    AUTO PLANE COUNT (r8 — the same scale fix as mm05's band width):
    a FIXED plane count r makes in-bucket work quadratic the moment
    n outgrows 2^r · bucket_size (4 planes = 16 buckets was measured
    unbounded at the 10× probe: n²/16 pairs per band). When
    ``num_planes`` is None it is derived from an
    ``approx_count_distinct``-free cheap ``df.count()``:
    ``r = clamp(ceil(log2(n / target_bucket_rows)), 4, 20)`` — mean
    bucket occupancy stays ~``target_bucket_rows``, so per-band pair
    work is ~n·target/2, LINEAR in n at any corpus size. More planes
    lower per-band collision odds for a fixed pair; compensate with
    ``num_bands`` (recall = 1-(1-p^r)^b) — near-dup pairs (p → 1)
    survive extra planes essentially unharmed, which is why bounded
    buckets are how production LSH runs. Pass an explicit
    ``num_planes`` to pin the legacy behavior (tests do).

    Shuffle shape at scale: each vector emits ``num_bands`` (band,
    signature) keys — one groupBy-sized shuffle of b x rows, in-bucket
    pair generation with the exact-cosine verify computed per band,
    then a dedup on (id_a, id_b) AFTER the threshold filter so the
    distinct operates on the much smaller survivor set. Deterministic
    given the md5 planes (and given n — the auto plane count is a pure
    function of the row count).
    """
    if num_planes is None:
        import math

        n = df.count()  # one cheap metadata-ish job, amortized over the join
        num_planes = min(20, max(4, math.ceil(math.log2(max(n, 1) / target_bucket_rows))))
    sigs = F.array(
        *[
            lsh_bucket(F.col(vec_col), dims, num_planes, plane_offset=band * num_planes)
            for band in range(num_bands)
        ]
    )
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(sigs).alias("band", "sig"),
        norm(F.col(vec_col)).alias("__n"),
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        "band", "sig", F.col("__n").alias("na"),
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        "band", "sig", F.col("__n").alias("nb"),
    )
    pairs = (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    if num_bands == 1:
        # one bucket per vector → each pair appears at most once
        return pairs
    # a pair may collide in several bands — dedup AFTER the threshold
    # filter so the distinct operates on the (much smaller) survivor set
    return pairs.groupBy("id_a", "id_b").agg(F.first("cos_sim").alias("cos_sim"))


# ---------------------------------------------------------------------------
# int8 scalar quantization (4× memory cut for ANN at scale)
# ---------------------------------------------------------------------------


def quantize_int8(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization: q_i = round(x_i / s * 127)
    with s = max(|x|). Cosine is scale-invariant, so similarity over the
    quantized vectors approximates the exact score while the stored
    column shrinks float32[d] → int8-ish[d] (4×) — the standard
    memory/bandwidth trade for billion-vector corpora. Deterministic
    and engine-reproducible (no learned codebook)."""
    s = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    return F.transform(
        vec, lambda x: F.round(x.cast("double") / s * 127).cast("int")
    )


def quantized_cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """Top-k by cosine over int8-quantized vectors (corpus AND query
    quantized). The integer dot product is EXACT (sums of int products
    in a long — no float accumulation-order noise); only the final
    norm division is floating point. Same TakeOrdered shape as the
    exact baseline."""
    import math

    def _half_up(x: float) -> int:
        # Spark round() / DuckDB round() are half-away-from-zero;
        # Python's round() is banker's — match the engines
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    s = max(abs(v) for v in query_vec) or 1.0
    q = [_half_up(v / s * 127) for v in query_vec]
    qlit = F.array(*[F.lit(int(v)) for v in q])
    qnorm = math.sqrt(sum(v * v for v in q))
    cvec = quantize_int8(F.col(vec_col))
    idot = F.aggregate(
        F.zip_with(cvec, qlit, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cnorm = F.sqrt(
        F.aggregate(
            F.transform(cvec, lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    score = idot.cast("double") / (cnorm * F.lit(qnorm))
    if round_to is not None:
        score = F.round(score, round_to)
    scored = df.select(F.col(id_col), score.alias("qcos_sim"))
    return scored.orderBy(F.desc("qcos_sim"), id_col).limit(k)


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.03,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): embedding-space
    near-duplicate removal — cluster the corpus (k-means centroids
    from operators/ivf.train_ivf_centroids), compare vectors ONLY
    within their cluster, and mark every vector whose cosine
    similarity to a LOWER-id cluster-mate reaches ``1 - eps`` as a
    semantic duplicate of the smallest such id. Keeps one
    representative per near-identical group without any O(n²) corpus
    product.

    Deterministic rule (documented deviation from the paper's
    keep-random choice): dup iff ∃ lower-id cluster-mate with
    ``cos ≥ 1-eps`` — non-iterative, engine-reproducible, and what a
    reproducible pipeline wants. Scale shape: one narrow assign map
    (k×dim broadcast literal), a within-cluster self-join whose work
    is Σ|cluster|² — pick k ~ n/target_cluster_size to bound it (the
    paper runs 11k clusters for 100M embeddings for the same reason)
    — then one min-aggregate and a left join back. Returns
    ``(id, cluster, kept, dup_of)``.
    """
    from pg_datalake_spark.operators.ivf import ivf_assign

    assigned = ivf_assign(df, centroids, vec_col).select(
        F.col(id_col), F.col("cluster"), F.col(vec_col).alias("__v"),
        norm(F.col(vec_col)).alias("__n"),
    )
    a = assigned.select(
        F.col("cluster"), F.col(id_col).alias("id_a"),
        F.col("__v").alias("va"), F.col("__n").alias("na"),
    )
    b = assigned.select(
        F.col("cluster"), F.col(id_col).alias("id_b"),
        F.col("__v").alias("vb"), F.col("__n").alias("nb"),
    )
    dup_of = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= 1.0 - eps
        )
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        assigned.join(dup_of, assigned[id_col] == dup_of["id_b"], "left")
        .select(
            F.col(id_col),
            "cluster",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )
