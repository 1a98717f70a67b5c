"""Exact top-k selection per group — "the 3 best documents per host /
language / domain", the selection primitive curation pipelines run after
scoring (quality filtering keeps the best k per site to bound any one
site's contribution to the training mix).

Shape at 10^12 rows: ONE hash exchange on the group key, then a
per-partition sort + running rank with early discard — Spark's Window
rank over partitionBy(group) never materializes a global sort, and the
filter `rank <= k` drops losers before anything downstream. Partition
cost is bounded by the largest GROUP (a site's page count), not the
corpus. The groupBy(collect_list + slice) alternative is strictly worse:
it buffers every group's full row set inside one aggregation buffer
before truncating — the same OOM shape inverted_index's max_df exists to
avoid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
) -> DataFrame:
    """Keep the k first rows of each group under `order_by` (pass
    deterministic tie-breakers — e.g. the row id — or ranks are
    partition-order dependent).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    reserved = {"rank_in_group", "_rk"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(f"input columns clash with outputs: {sorted(clash)}")
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .withColumnRenamed("_rk", "rank_in_group")
    )


def rank_biased_overlap(a: DataFrame, b: DataFrame, depth: int = 20) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between two rankings per
    key, truncated at ``depth``: RBO@d = (1−p)·Σ_{k=1..d} p^{k−1}·|A_k ∩
    B_k|/k — the top-weighted "did the ranking change" metric (two crawl
    rounds' top hosts, yesterday's vs today's top queries) where
    Kendall/Spearman treat depth 1 and depth 1000 swaps alike.

    Exact surface: the per-depth overlap counts |A_k ∩ B_k| are BIGINTs
    (matched items joined on (key, item), counted once per depth via a
    ≥-max(rank) comparison — an in-row `sequence` explode over depths,
    never a theta join); the weighted sum is a FIXED float tree over
    literal p^k/(k) coefficients in ascending-k order — engine-exact
    (the est_raw discipline). Keys missing from either side score
    overlap 0 at every depth (full outer on the key).

    Output: (key, n_depths, overlap_sum, rbo) — overlap_sum = Σ|A_k∩B_k|
    (the integer certificate), rbo the fixed-tree double in [0, 1].
    """
    pa = a.select(F.col("qid").alias("k"), F.col("item").alias("it"),
                  F.col("rank").cast("long").alias("ra"))
    pb = b.select(F.col("qid").alias("k"), F.col("item").alias("it"),
                  F.col("rank").cast("long").alias("rb"))
    m = pa.join(pb, ["k", "it"]).filter(
        (F.col("ra") <= depth) & (F.col("rb") <= depth)
    )
    # item counts toward depth d when max(ra, rb) <= d
    d_explode = m.select(
        "k", F.greatest("ra", "rb").alias("_m")
    ).select("k", F.explode(F.sequence(F.col("_m"), F.lit(depth))).alias("d"))
    ov = d_explode.groupBy("k", "d").agg(F.count(F.lit(1)).alias("_ov"))
    keys = pa.select("k").unionByName(pb.select("k")).distinct()
    # per-depth overlaps pivot into ONE row per key (conditional integer
    # sums), and the weighted total is a LITERAL fold in ascending-d
    # order — a float SUM over depth rows would accumulate in partition
    # order and break bit-exactness; the explicit fixed-order expression
    # is engine-identical (the est_raw discipline)
    pf = 0.9
    # weights quantized to integer PICOUNITS: rbo_e12 = Σ w_d · ov_d is a
    # pure BIGINT (a 20-term float chain differed across engines in the
    # last ulp — measured; integer weights remove the question entirely,
    # at 1e-12 quantization ≪ any ranking-comparison tolerance)
    coef = {
        d: round((1.0 - pf) * (pf ** (d - 1)) / d * 1_000_000_000_000)
        for d in range(1, depth + 1)
    }
    aggs = [
        F.count(F.lit(1)).alias("n_depths"),
        F.sum("_ov").alias("overlap_sum"),
    ] + [
        F.coalesce(
            F.sum(F.when(F.col("d") == d, F.col("_ov"))), F.lit(0)
        ).alias(f"_ov{d}")
        for d in range(1, depth + 1)
    ]
    per_key = ov.groupBy("k").agg(*aggs)
    rbo_expr = None
    for d in range(1, depth + 1):
        term = F.lit(coef[d]) * F.col(f"_ov{d}")
        rbo_expr = term if rbo_expr is None else rbo_expr + term
    per_key = per_key.withColumn("_rbo", rbo_expr.cast("long"))
    out = keys.join(per_key, "k", "left").select(
        F.col("k").alias("qid"),
        F.coalesce("n_depths", F.lit(0)).cast("long").alias("n_depths"),
        F.coalesce("overlap_sum", F.lit(0)).cast("long").alias("overlap_sum"),
        F.coalesce("_rbo", F.lit(0).cast("long")).alias("rbo_e12"),
    )
    return out.withColumn("rbo", F.col("rbo_e12").cast("double") / 1e12)
