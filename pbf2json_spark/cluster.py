"""Embedding clustering — distributed k-means over an `array<float>`
column, the corpus-organization step of an LLM data pipeline (domain
mixing, dedup sharding, curriculum buckets) and the training half of the
IVF index in ann.py (whose train step is a bounded driver-side sample;
this module is the full-data path).

Distributed Lloyd's, shuffle-engine shape:
  * ASSIGN: centroids are a k×d driver matrix broadcast inside an
    Arrow-batched pandas UDF closure — one numpy matmul per batch, no
    join, no shuffle.
  * UPDATE: per-cluster mean via ONE map-side-combinable groupBy of
    (cluster, dim, sum, count) after a posexplode — k·d rows reach the
    driver (metadata-scale regardless of table size).

Determinism discipline: float sums across a shuffle are order-dependent,
so naive distributed k-means trains different centroids on different
partitionings. Here the UPDATE step sums int64 MICRO-UNITS
(round(x·1e6)): integer addition is order-independent, so training is
bit-reproducible across partition layouts and cluster sizes — the same
trick as graph.pagerank_int's nano-ranks. Quantization error is ≤5e-7
per coordinate per point, far below k-means' own convergence tolerance.
Overflow budget: int64 holds |Σ| up to 9.2e18 micro-units ≈ 9.2e12 of
coordinate mass per (cluster, dim) — unit-norm embeddings stay safe past
10^12 rows.

Assignment is by maximum cosine (matching ann.py's IVF convention and the
certified cosine_topk oracle pattern); ties break to the lowest cluster
id (numpy argmax picks the first maximum).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def _norm_rows(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def _assign_udf(cents: np.ndarray):
    cents_t = _norm_rows(np.asarray(cents, dtype=np.float64)).T.copy()

    @F.pandas_udf("int")
    def assign(vec: pd.Series) -> pd.Series:
        mat = _norm_rows(np.asarray(vec.tolist(), dtype=np.float64))
        return pd.Series(np.argmax(mat @ cents_t, axis=1).astype(np.int32))

    return assign


def kmeans_fit(df: DataFrame, k: int, n_iter: int = 10) -> np.ndarray:
    """Full-data distributed Lloyd's. Init = the k lowest-id vectors
    (TakeOrdered — deterministic across partitionings, unlike a bare
    limit). Returns the k×d float64 centroid matrix (unit-normalized).
    Empty clusters keep their previous centroid (no re-seeding
    randomness)."""
    p = df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
    )
    seeds = p.orderBy("_id").limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"kmeans_fit: need >= {k} rows, got {len(seeds)}")
    cents = _norm_rows(np.asarray([r["_v"] for r in seeds], dtype=np.float64))
    for _ in range(n_iter):
        assigned = p.withColumn("_c", _assign_udf(cents)("_v"))
        stats = (
            assigned.select(
                "_c",
                F.posexplode(
                    F.transform(
                        "_v",
                        lambda x: F.round(x * MICRO).cast("long"),
                    )
                ).alias("_d", "_xq"),
            )
            .groupBy("_c", "_d")
            .agg(F.sum("_xq").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        new = cents.copy()
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents), dtype=np.int64)
        for r in stats:
            sums[r["_c"], r["_d"]] = r["_s"] / MICRO
            counts[r["_c"]] = r["_n"]
        nz = counts > 0
        new[nz] = sums[nz] / counts[nz, None]
        cents = _norm_rows(new)
    return cents


def kmeans_assign(df: DataFrame, centroids: "np.ndarray | list") -> DataFrame:
    """Assign every vector to its max-cosine centroid. Pure scan stage:
    broadcast matrix in the UDF closure, one matmul per Arrow batch.
    Output: input columns + cluster:int."""
    return df.withColumn(
        "cluster", _assign_udf(np.asarray(centroids))(
            F.col("embedding").cast("array<double>")
        )
    )


def adjusted_rand(
    df: DataFrame,
    label_a: str,
    label_b: str,
) -> DataFrame:
    """Adjusted Rand Index between two clusterings/labelings of the same
    rows — the chance-corrected pair-counting agreement (the kappa of
    clustering): 1 = identical partitions, ≈0 = random relabeling,
    < 0 = worse than chance. The evaluation glue for this module's
    family (kmeans vs DBSCAN vs SCAN vs golden-record clusters) and for
    judging an automatic clustering against editorial categories.

    EXACT RATIONAL surface (×2·C(n,2) cleared):

        I = Σ_ij C(n_ij, 2)   A = Σ_i C(a_i, 2)   B = Σ_j C(b_j, 2)
        ari_num = 2 · (C(n,2)·I − A·B)
        ari_den = C(n,2)·(A + B) − 2·A·B

    — all DECIMAL(38,0)-safe integer arithmetic (pair counts square the
    row count; int64 holds to n ≈ 3·10⁹ pairs-of-pairs, decimal beyond),
    ari = ONE division, NULL when den = 0 (both partitions are all-
    singletons or one cluster — agreement is undefined, the sklearn
    convention returns 1 for identical trivial partitions; we surface
    NULL and let the caller special-case, keeping the gate pure).

    Shape: ONE contingency groupBy (cells are metadata-scale for
    categorical labelings) + two marginal aggregates.

    Output: 1 row (n, sum_comb, a_comb, b_comb, ari_num, ari_den, ari).
    """
    d38 = "DECIMAL(38,0)"
    ct = df.groupBy(label_a, label_b).agg(F.count(F.lit(1)).alias("c"))
    cells = ct.agg(
        F.sum("c").alias("n"),
        F.sum(F.expr(f"CAST(c AS {d38}) * (c - 1) / 2")).alias("I"),
    )
    am = ct.groupBy(label_a).agg(F.sum("c").alias("ai")).agg(
        F.sum(F.expr(f"CAST(ai AS {d38}) * (ai - 1) / 2")).alias("A")
    )
    bm = ct.groupBy(label_b).agg(F.sum("c").alias("bi")).agg(
        F.sum(F.expr(f"CAST(bi AS {d38}) * (bi - 1) / 2")).alias("B")
    )
    j = cells.crossJoin(am).crossJoin(bm)
    cn2 = F.expr(f"CAST(n AS {d38}) * (n - 1) / 2")
    num = F.lit(2).cast("long") * (cn2 * F.col("I") - F.col("A") * F.col("B"))
    den = cn2 * (F.col("A") + F.col("B")) - F.lit(2) * F.col("A") * F.col("B")
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("I").cast("long").alias("sum_comb"),
        F.col("A").cast("long").alias("a_comb"),
        F.col("B").cast("long").alias("b_comb"),
        num.cast("long").alias("ari_num"),
        den.cast("long").alias("ari_den"),
        F.when(den != 0, num.cast("double") / den.cast("double")).alias("ari"),
    )


def cluster_purity(
    df: DataFrame,
    cluster_col: str,
    class_col: str,
) -> DataFrame:
    """Purity / inverse purity — the asymmetric companions of
    adjusted_rand: purity = Σ_k max_c n_kc / n asks "is each cluster
    one class" (trivially 1 for all-singletons), inverse purity asks
    "is each class one cluster" (trivially 1 for one big cluster);
    reporting BOTH exposes the degenerate solutions either alone
    rewards. e6 exact floors over one contingency groupBy + two
    argmax aggregates.

    Output: 1 row (n, n_clusters, n_classes, purity_e6, ipurity_e6).
    """
    ct = df.groupBy(cluster_col, class_col).agg(F.count(F.lit(1)).alias("_ct"))
    by_k = ct.groupBy(cluster_col).agg(F.max("_ct").alias("mk"))
    by_c = ct.groupBy(class_col).agg(F.max("_ct").alias("mc"))
    tot = ct.agg(
        F.sum("_ct").alias("n"),
        F.countDistinct(cluster_col).alias("n_clusters"),
        F.countDistinct(class_col).alias("n_classes"),
    )
    pk = by_k.agg(F.sum("mk").alias("sk"))
    pc = by_c.agg(F.sum("mc").alias("sc"))
    return (
        tot.crossJoin(pk)
        .crossJoin(pc)
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("n_classes").cast("long").alias("n_classes"),
            F.expr("(sk * 1000000) div n").alias("purity_e6"),
            F.expr("(sc * 1000000) div n").alias("ipurity_e6"),
        )
    )
