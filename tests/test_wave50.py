"""Wave-50: CIDR/IP range lookup (vs brute range scan, prefix spans) and
KMV set-operation estimates (vs python reference, exact small-range
branch, accuracy)."""

from __future__ import annotations

import hashlib
import random

from pbf2json_spark import sketch, weburl


# --- CIDR lookup -----------------------------------------------------------------


def test_cidr_lookup_vs_brute(spark):
    rnd = random.Random(50)
    blocks = []
    lo = 0
    for i in range(40):
        lo += rnd.randrange(1 << 18, 1 << 22)
        hi = lo + rnd.randrange(1 << 8, 1 << 20)  # some spans cross /16s
        blocks.append((i, lo, hi, f"C{i % 7}"))
        lo = hi
    ips = [(j, rnd.randrange(0, blocks[-1][2] + (1 << 20))) for j in range(500)]
    bdf = spark.createDataFrame(blocks, "block_id long, ip_start long, ip_end long, country string")
    idf = spark.createDataFrame(ips, "row_id long, ip_long long")
    got = {
        (r["row_id"], r["block_id"])
        for r in weburl.cidr_lookup(idf, bdf).collect()
    }
    exp = {
        (j, i)
        for j, ip in ips
        for i, lo_, hi_, _ in blocks
        if lo_ <= ip <= hi_
    }
    assert got == exp
    # every matched row carries the block's payload
    one = weburl.cidr_lookup(idf, bdf).select("row_id", "country").limit(1).collect()
    assert one and one[0]["country"].startswith("C")


# --- KMV set operations ----------------------------------------------------------


def _h(key, seed=0):
    return int(hashlib.md5(f"{key}:{seed}".encode()).hexdigest()[:15], 16)


def test_kmv_intersect_exact_small(spark):
    a = [f"a{i}" for i in range(30)] + [f"s{i}" for i in range(10)]
    b = [f"b{i}" for i in range(20)] + [f"s{i}" for i in range(10)]
    k = 128  # > |A ∪ B| -> everything exact
    adf = spark.createDataFrame([(x,) for x in a], "key string")
    bdf = spark.createDataFrame([(x,) for x in b], "key string")
    sa = sketch.kmv_build(adf, "key", k=k)
    sb = sketch.kmv_build(bdf, "key", k=k)
    r = sketch.kmv_intersect(sa, sb, k=k).collect()[0]
    assert r["n_union"] == 60 and r["n_common"] == 10
    assert r["est_union"] == 60.0
    assert abs(r["est_intersect"] - 10.0) < 1e-9
    assert abs(r["jaccard_est"] - 10.0 / 60.0) < 1e-12


def test_kmv_intersect_estimates(spark):
    n_a, n_b, n_s = 3000, 2500, 1000
    a = [f"a{i}" for i in range(n_a)] + [f"s{i}" for i in range(n_s)]
    b = [f"b{i}" for i in range(n_b)] + [f"s{i}" for i in range(n_s)]
    k = 256
    adf = spark.createDataFrame([(x,) for x in a], "key string")
    bdf = spark.createDataFrame([(x,) for x in b], "key string")
    sa = sketch.kmv_build(adf, "key", k=k)
    sb = sketch.kmv_build(bdf, "key", k=k)
    r = sketch.kmv_intersect(sa, sb, k=k).collect()[0]
    true_union = n_a + n_b + n_s
    true_inter = n_s
    assert abs(r["est_union"] - true_union) / true_union < 0.25
    assert abs(r["est_intersect"] - true_inter) / true_inter < 0.5
    # python replica of the theta composition, exact equality
    ha = sorted(_h(x) for x in set(a))
    hb = sorted(_h(x) for x in set(b))
    uk = sorted(set(ha[:k]) | set(hb[:k]))[:k]
    theta = uk[-1]
    common = sum(1 for h in uk if h in set(ha[:k]) and h in set(hb[:k]))
    assert r["theta"] == theta and r["n_common"] == common
