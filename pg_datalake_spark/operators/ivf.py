"""IVF (inverted-file) index for embedding search — the iterative
scale path next to brute force and hyperplane LSH.

Coarse quantizer = k-means trained with a deterministic init (first k
vectors by id) and a fixed iteration count — an iterative algorithm
driven from the driver as a loop of Spark jobs (assignment = broadcast
centroid argmin, a narrow map; update = one groupBy per iteration).
This is the canonical non-SQL-expressible pattern (SURVEY §2 "for
genuinely non-SQL-expressible ops ... iterative algorithms").

Scale design: centroids (k × dim floats) always fit in a broadcast;
the corpus is only ever mapped and grouped by cluster id — no
cross join. Search probes the ``nprobe`` nearest inverted lists,
cutting candidates to ~nprobe/k of the corpus.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pg_datalake_spark.operators.similarity import cosine, dot
from pg_datalake_spark.session import local_frame


def _centroid_argmin(vec_col: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid by cosine (ties → lowest index).

    Similarities are built as ONE array expression and reduced with
    array_max/array_position: a chained when(sim_i > best, ...) fold
    embeds every earlier similarity subtree into each later condition,
    blowing the expression tree up exponentially in k. Centroid norms
    are Python constants and the row norm cancels out of the argmax, so
    each centroid costs exactly one dot product.
    """
    import math

    def cnorm(c):
        return math.sqrt(sum(x * x for x in c)) or 1e-12

    sims = F.array(
        *[
            dot(vec_col, F.array(*[F.lit(float(x)) for x in c])) / F.lit(cnorm(c))
            for c in centroids
        ]
    )
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


# Above this many centroids the literal-expression argmin stops being
# the right plan: the expression tree carries k x dim literal nodes
# (codegen compile grows with k and falls back to interpreted past the
# JIT limits — measured 21x wall at the 10x probe when k = n/128
# reached 156). The Arrow path ships the centroid matrix to executors
# once per task and does one numpy matmul per batch.
_ARROW_ASSIGN_MIN_K = 33


def _assign_arrow(
    df: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """cluster = argmax cosine via numpy (BLAS) per Arrow batch —
    first-max tiebreak, matching _centroid_argmin's array_position
    semantics. The centroid matrix (k x dim doubles) is a closure
    constant; per-batch work is one V @ Cᵀ."""
    import pyspark.sql.types as T

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1e-12
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("cluster", T.IntegerType())]
    )

    def op(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cluster=[])
                continue
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            sims = (v @ C.T) / cn  # row norm cancels in the argmax
            yield pdf.assign(cluster=sims.argmax(axis=1).astype("int32"))

    return df.mapInPandas(op, out_schema)


def train_ivf_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iterations: int = 3,
) -> list[list[float]]:
    """Deterministic k-means: init = first k vectors by id, then
    ``iterations`` rounds of assign (narrow map) + mean (one groupBy).
    Driver holds only k × dim floats."""
    init = (
        df.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [list(map(float, r[0])) for r in init]
    dim = len(centroids[0])
    for _ in range(iterations):
        if k >= _ARROW_ASSIGN_MIN_K:
            assigned = _assign_arrow(df, centroids, vec_col).select(
                "cluster", F.col(vec_col).alias("v")
            )
        else:
            assigned = df.select(
                _centroid_argmin(F.col(vec_col), centroids).alias("cluster"),
                F.col(vec_col).alias("v"),
            )
        sums = (
            assigned.groupBy("cluster")
            .agg(
                F.count("*").alias("n"),
                *[
                    F.sum(F.element_at("v", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new = list(centroids)
        for r in sums:
            new[r["cluster"]] = [r[f"s{i}"] / r["n"] for i in range(dim)]
        centroids = new
    return centroids


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the inverted-list (cluster) id — at rest this would be
    the table's bucket/partition column. Small centroid sets stay a
    whole-stage-codegen Column expression; large ones switch to the
    Arrow/numpy argmin (see _ARROW_ASSIGN_MIN_K)."""
    if len(centroids) >= _ARROW_ASSIGN_MIN_K:
        return _assign_arrow(df, centroids, vec_col)
    return df.withColumn("cluster", _centroid_argmin(F.col(vec_col), centroids))


def ivf_topk(
    df: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Search the ``nprobe`` inverted lists nearest the query, exact
    cosine within them."""
    q = np.asarray(query_vec, dtype=float)
    sims = [
        float(np.dot(q, c) / (np.linalg.norm(q) * np.linalg.norm(c) + 1e-12))
        for c in centroids
    ]
    probe = sorted(range(len(centroids)), key=lambda i: -sims[i])[:nprobe]
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        ivf_assign(df, centroids, vec_col)
        .filter(F.col("cluster").isin(*probe))
        .select(F.col(id_col), cosine(F.col(vec_col), qcol).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def save_ivf_index(spark, centroids: list[list[float]], path: str) -> None:
    """Persist trained centroids as a tiny parquet (k rows) so repeated
    query sessions skip the k-means entirely."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    local_frame(spark, rows, "cluster int, centroid array<double>").write.mode(
        "overwrite"
    ).parquet(path)


def load_ivf_index(spark, path: str) -> list[list[float]]:
    rows = spark.read.parquet(path).orderBy("cluster").collect()
    if [r.cluster for r in rows] != list(range(len(rows))):
        raise ValueError(f"corrupt IVF index at {path}: non-contiguous cluster ids")
    return [list(r.centroid) for r in rows]


def ivf_topk_preassigned(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Search a corpus whose ``cluster`` column was materialized with
    :func:`ivf_assign` (e.g. written ``partitionBy("cluster")``): the
    probe filter is a plain predicate on the stored column, so with
    cluster-partitioned storage Spark prunes the non-probed partitions
    from the scan — at 100 TB the search reads ~nprobe/k of the data
    instead of mapping the whole corpus through the quantizer."""
    q = np.asarray(query_vec, dtype=float)
    sims = [
        float(np.dot(q, c) / (np.linalg.norm(q) * np.linalg.norm(c) + 1e-12))
        for c in centroids
    ]
    probe = sorted(range(len(centroids)), key=lambda i: -sims[i])[:nprobe]
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        assigned.filter(F.col("cluster").isin(*probe))
        .select(F.col(id_col), cosine(F.col(vec_col), qcol).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


__all__ = [
    "train_ivf_centroids",
    "ivf_assign",
    "ivf_topk",
    "ivf_topk_preassigned",
    "save_ivf_index",
    "load_ivf_index",
    "dot",
]
