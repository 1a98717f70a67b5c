"""Wave-76: temperature-scaled source rebalancing — exact-set equality vs
a brute md5 replica, the temperature-flattening law, and boundary alphas."""

from __future__ import annotations

import hashlib
import math

import pytest

from pbf2json_spark import sampling


def _u32(key, seed):
    return int(hashlib.md5(f"{key}:{seed}".encode()).hexdigest()[:8], 16)


def _brute(rows, alpha_q, seed=0):
    """rows: list[(id, group)] → kept id set via the identical float tree."""
    from collections import Counter
    ng = Counter(g for _, g in rows)
    nmin = min(ng.values())
    kept = set()
    for i, g in rows:
        r = float(nmin) / float(ng[g])
        e = 4 - alpha_q
        if e == 1:
            p = math.sqrt(math.sqrt(r))
        elif e == 2:
            p = math.sqrt(r)
        else:
            p = math.sqrt(r * math.sqrt(r))
        if _u32(i, seed) < math.floor(p * float(1 << 32)):
            kept.add(i)
    return kept


def _rows():
    out = []
    i = 0
    for g, n in (("en", 4000), ("de", 900), ("fi", 100)):
        for _ in range(n):
            out.append((i, g))
            i += 1
    return out


@pytest.mark.parametrize("alpha_q", [1, 2, 3])
def test_exact_set_vs_brute(spark, alpha_q):
    rows = _rows()
    df = spark.createDataFrame(rows, "doc_id long, src string")
    got = {
        r["doc_id"]
        for r in sampling.temperature_downsample(
            df, "src", alpha_q=alpha_q
        ).collect()
    }
    assert got == _brute(rows, alpha_q)


def test_null_groups_dropped_and_not_counted(spark):
    """NULL-group rows belong to no group: none is kept, and their count
    (50, below every real group) must not become n_min."""
    rows = _rows()
    nulls = [(len(rows) + j, None) for j in range(50)]
    df = spark.createDataFrame(rows + nulls, "doc_id long, src string")
    got = {
        r["doc_id"]
        for r in sampling.temperature_downsample(df, "src", alpha_q=2).collect()
    }
    assert got == _brute(rows, 2)


def test_flattening_law(spark):
    """Kept shares must flatten toward uniform as alpha drops: the
    head/tail kept-count ratio is (n_head/n_tail)^alpha, within hash
    noise; the smallest group always keeps everything."""
    rows = _rows()
    df = spark.createDataFrame(rows, "doc_id long, src string")
    from collections import Counter
    for alpha_q in (1, 2, 3):
        kept = sampling.temperature_downsample(df, "src", alpha_q=alpha_q)
        counts = Counter(r["src"] for r in kept.collect())
        assert counts["fi"] == 100  # smallest group: keep prob 1
        want_ratio = (4000 / 100) ** (alpha_q / 4)
        got_ratio = counts["en"] / counts["fi"]
        assert abs(got_ratio - want_ratio) / want_ratio < 0.15, (
            alpha_q, got_ratio, want_ratio)


def test_bad_alpha(spark):
    df = spark.createDataFrame([(0, "a")], "doc_id long, src string")
    with pytest.raises(ValueError):
        sampling.temperature_downsample(df, "src", alpha_q=0)
    with pytest.raises(ValueError):
        sampling.temperature_downsample(df, "src", alpha_q=4)
