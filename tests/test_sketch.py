"""Count-min sketch vs an exact Python reimplementation: identical cells,
one-sided estimates."""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest

from pbf2json_spark import sketch


def _bucket(key: str, row: int, width: int) -> int:
    return int(hashlib.md5(f"{row}:{key}".encode()).hexdigest()[:8], 16) % width


def _brute_cms(keys: list[str], depth: int, width: int) -> Counter:
    cells: Counter = Counter()
    for k in keys:
        for r in range(depth):
            cells[(r, _bucket(k, r, width))] += 1
    return cells


KEYS = [f"tok{i % 37}" for i in range(400)] + ["rare", "rare2"]


def test_cms_cells_match_brute(spark):
    depth, width = 4, 64
    df = spark.createDataFrame([(k,) for k in KEYS], "k string")
    got = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in sketch.cms_build(df, "k", depth, width).collect()
    }
    assert got == dict(_brute_cms(KEYS, depth, width))


def test_cms_estimates_one_sided_and_exact_without_collision(spark):
    depth, width = 4, 64
    df = spark.createDataFrame([(k,) for k in KEYS], "k string")
    s = sketch.cms_build(df, "k", depth, width)
    uniq = spark.createDataFrame([(k,) for k in sorted(set(KEYS))], "k string")
    est = {
        r["k"]: r["est"]
        for r in sketch.cms_estimate(s, uniq, "k", depth, width).collect()
    }
    truth = Counter(KEYS)
    cells = _brute_cms(KEYS, depth, width)
    for k, t in truth.items():
        assert est[k] >= t, k  # CMS never undercounts
        want = min(cells[(r, _bucket(k, r, width))] for r in range(depth))
        assert est[k] == want, k  # and matches the exact min-of-counters
    # a key the sketch never saw estimates the collision mass only
    unseen = spark.createDataFrame([("neverseen",)], "k string")
    e = sketch.cms_estimate(s, unseen, "k", depth, width).collect()[0]["est"]
    assert e >= 0


def test_cms_weighted_and_validation(spark):
    df = spark.createDataFrame([("a", 3), ("a", 2), ("b", 1)], "k string, w long")
    s = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in sketch.cms_build(df, "k", 2, 16, weight_col="w").collect()
    }
    assert s[(0, _bucket("a", 0, 16))] >= 5
    with pytest.raises(ValueError):
        sketch.cms_build(df, "k", 0, 16)
