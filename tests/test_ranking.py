"""top_k_per_group vs brute force (spread, hot-group and single-partition
inputs), validation."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pbf2json_spark import ranking


def _rows(n=400, seed=11):
    rng = random.Random(seed)
    return [(i, f"g{rng.randrange(7)}", rng.randrange(100)) for i in range(n)]


def _brute(rows, k):
    by_g: dict = {}
    for i, g, s in rows:
        by_g.setdefault(g, []).append((-s, i))
    want = {}
    for g, items in by_g.items():
        for rk, (negs, i) in enumerate(sorted(items)[:k], start=1):
            want[i] = (g, -negs, rk)
    return want


def _topk(df, k):
    return {
        r["id"]: (r["g"], r["score"], r["rank_in_group"])
        for r in ranking.top_k_per_group(
            df, ["g"], [F.col("score").desc(), F.col("id").asc()], k
        ).collect()
    }


@pytest.mark.parametrize("n_hot", [0, 4])
def test_topk_per_group_matches_bruteforce(spark, n_hot):
    # n_hot extra groups of 1000 rows each dwarf the 7 regular ones
    rows = _rows() + [
        (1000 + i, f"hot{i % n_hot}", (i * 37) % 101)
        for i in range(1000 * n_hot)
    ]
    df = spark.createDataFrame(rows, "id long, g string, score long").repartition(8)
    assert _topk(df, 5) == _brute(rows, 5), n_hot


def test_topk_validation(spark):
    df = spark.createDataFrame([(1, "a", 1)], "id long, g string, score long")
    with pytest.raises(ValueError):
        ranking.top_k_per_group(df, ["g"], [F.col("score")], 0)


def test_topk_single_partition_input(spark):
    rows = _rows(n=300, seed=5)
    df = spark.createDataFrame(rows, "id long, g string, score long").coalesce(1)
    assert _topk(df, 4) == _brute(rows, 4)


def test_topk_rejects_clashing_columns(spark):
    df = spark.createDataFrame(
        [(1, "a", 1, 9)], "id long, g string, score long, rank_in_group long"
    )
    with pytest.raises(ValueError):
        ranking.top_k_per_group(df, ["g"], [F.col("score")], 1)
