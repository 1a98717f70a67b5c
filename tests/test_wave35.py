"""Wave-35: sorted-neighborhood dedup (vs brute global-sort window),
rendezvous hashing (argmax law + minimal movement on resize), cube
rollup (lattice vs manual subset aggregates; NULL disambiguation)."""

from __future__ import annotations

import hashlib
import random

from pbf2json_spark import dedup, stats, weburl


# --- sorted neighborhood ---------------------------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute_snm(rows, window, max_dist, title_len=24):
    import re

    keyed = sorted(
        (re.sub(r"[^a-z0-9 ]", "", (t or "")[:title_len].lower()), i)
        for i, t in rows
    )
    out = set()
    for p in range(len(keyed)):
        for q in range(p + 1, min(p + window + 1, len(keyed))):
            d = _lev(keyed[p][0], keyed[q][0])
            if d <= max_dist:
                out.add((keyed[p][1], keyed[q][1], q - p, d))
    return out


def test_snm_vs_brute(spark):
    rnd = random.Random(35)
    base = ["the quick brown fox", "lorem ipsum dolor", "hello world 42"]
    rows = []
    for i in range(120):
        t = base[rnd.randrange(3)]
        if rnd.random() < 0.5:
            pos = rnd.randrange(len(t))
            t = t[:pos] + rnd.choice("abcxyz ") + t[pos + 1 :]
        rows.append((i, t))
    rows.append((900, None))  # null text → empty key
    rows.append((901, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["gap"], r["dist"])
        for r in dedup.sorted_neighborhood_pairs(df, window=3, max_dist=4).collect()
    }
    assert got == _brute_snm(rows, window=3, max_dist=4)


def test_snm_partitioning_independent(spark):
    rows = [(i, f"doc number {i % 7} common prefix") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        tuple(r)
        for r in dedup.sorted_neighborhood_pairs(df.repartition(1), window=4).collect()
    }
    b = {
        tuple(r)
        for r in dedup.sorted_neighborhood_pairs(
            df.repartition(13, "text"), window=4
        ).collect()
    }
    assert a == b and a


# --- rendezvous hashing ----------------------------------------------------


def _rdv_expected(key: str, n: int) -> tuple[int, int]:
    best = max(
        (int(hashlib.md5(f"{key}:{i}".encode()).hexdigest()[:15], 16), i)
        for i in range(n)
    )
    return best[1], best[0]


def test_rendezvous_matches_reference(spark):
    keys = [f"https://site{i}.example.com/p/{i*i}" for i in range(200)]
    df = spark.createDataFrame([(k,) for k in keys], "url string")
    got = {
        r["url"]: (r["shard"], r["shard_score"])
        for r in weburl.rendezvous_assign(df, n_shards=8).collect()
    }
    for k in keys:
        s, sc = _rdv_expected(k, 8)
        assert got[k] == (s, sc), k
    # decent balance: every shard gets something
    from collections import Counter

    c = Counter(s for s, _ in got.values())
    assert len(c) == 8 and min(c.values()) >= 5


def test_rendezvous_minimal_movement(spark):
    keys = [f"k{i}" for i in range(400)]
    df = spark.createDataFrame([(k,) for k in keys], "url string")
    a = {r["url"]: r["shard"] for r in weburl.rendezvous_assign(df, n_shards=8).collect()}
    b = {r["url"]: r["shard"] for r in weburl.rendezvous_assign(df, n_shards=9).collect()}
    moved = {k for k in keys if a[k] != b[k]}
    # every moved key moved TO the new shard (HRW law), E[|moved|] = n/9
    assert all(b[k] == 8 for k in moved)
    assert len(moved) <= 400 * 2 // 9


# --- cube rollup -------------------------------------------------------------


def test_cube_matches_manual_subsets(spark):
    rows = [
        ("click", 1, 10), ("click", 1, 5), ("click", 2, 1),
        ("view", 1, 2), ("view", 2, 4), (None, 1, 7),
    ]
    df = spark.createDataFrame(rows, "et string, day long, w long")
    got = {
        (r["et"], r["day"], r["g_et"], r["g_day"]): (r["n"], r["w_sum"])
        for r in stats.cube_counts(df, ["et", "day"], weight_col="w").collect()
    }
    # fully grouped rows: one per distinct (et, day) incl. the DATA null
    assert got[("click", 1, 0, 0)] == (2, 15)
    assert got[(None, 1, 0, 0)] == (1, 7)  # data NULL, flags 0
    # rolled-up day: per et totals
    assert got[("click", None, 0, 1)] == (3, 16)
    assert got[("view", None, 0, 1)] == (2, 6)
    assert got[(None, None, 0, 1)] == (1, 7)  # data-NULL et, day rolled
    # rolled-up et: per day totals
    assert got[(None, 1, 1, 0)] == (4, 24)
    assert got[(None, 2, 1, 0)] == (2, 5)
    # grand total
    assert got[(None, None, 1, 1)] == (6, 29)
    assert len(got) == 5 + 3 + 2 + 1  # pairs + per-et + per-day + grand
