"""Wave-17 operators: histogram quantiles, concentration indices."""

from __future__ import annotations

import random
from collections import Counter

from pbf2json_spark import stats


# --- hist_quantiles ----------------------------------------------------------


def _brute_hist_q(values, bin_width, percents):
    bins = Counter(v // bin_width for v in values)
    tot = len(values)
    out = {"n_total": tot}
    for p in percents:
        cum = 0
        for b in sorted(bins):
            cum += bins[b]
            if cum * 100 >= tot * p:
                out[f"p{p}"] = b * bin_width
                break
    return out


def test_hist_quantiles_hand(spark):
    # ten values 0..90 step 10, width 10: p50 is the 5th value's bin
    rows = [("a", v) for v in range(0, 100, 10)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = stats.hist_quantiles(df, ["g"], "v", 10, [50, 90, 100]).collect()[0]
    assert (r["n_total"], r["p50"], r["p90"], r["p100"]) == (10, 40, 80, 90)


def test_hist_quantiles_single_bin(spark):
    df = spark.createDataFrame([("a", 5), ("a", 7)], "g string, v long")
    r = stats.hist_quantiles(df, ["g"], "v", 100, [1, 99]).collect()[0]
    assert (r["p1"], r["p99"]) == (0, 0)


def test_hist_quantiles_vs_brute_random(spark):
    rng = random.Random(101)
    rows = [(rng.choice("xy"), rng.randrange(10_000)) for _ in range(800)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r.asDict()
           for r in stats.hist_quantiles(df, ["g"], "v", 250,
                                         [10, 50, 90, 99]).collect()}
    for g in "xy":
        vals = [v for gg, v in rows if gg == g]
        want = _brute_hist_q(vals, 250, [10, 50, 90, 99])
        for k, v in want.items():
            assert got[g][k] == v, (g, k)


# --- concentration -----------------------------------------------------------


def test_concentration_single_item(spark):
    df = spark.createDataFrame([("h", "t")] * 4, "g string, i string")
    r = stats.concentration(df, ["g"], "i").collect()[0]
    assert (r["n_items"], r["n_total"], r["top_share_e6"], r["hhi_e8"]) == \
        (1, 4, 1_000_000, 100_000_000)


def test_concentration_uniform(spark):
    df = spark.createDataFrame([("h", str(i)) for i in range(4)],
                               "g string, i string")
    r = stats.concentration(df, ["g"], "i").collect()[0]
    # 4 equal items: top share 1/4, hhi = 4 * (1/4)^2 = 1/4
    assert (r["n_items"], r["top_share_e6"], r["hhi_e8"]) == \
        (4, 250_000, 25_000_000)


def test_concentration_vs_brute_random(spark):
    rng = random.Random(103)
    rows = [(rng.choice("ab"), str(rng.randrange(6))) for _ in range(500)]
    df = spark.createDataFrame(rows, "g string, i string")
    got = {r["g"]: r.asDict()
           for r in stats.concentration(df, ["g"], "i").collect()}
    for g in "ab":
        c = Counter(i for gg, i in rows if gg == g)
        tot = sum(c.values())
        assert got[g]["n_items"] == len(c)
        assert got[g]["n_total"] == tot
        assert got[g]["top_share_e6"] == max(c.values()) * 1_000_000 // tot
        assert got[g]["hhi_e8"] == \
            sum(v * v for v in c.values()) * 100_000_000 // (tot * tot)
