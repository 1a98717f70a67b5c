"""Wave-56: golden-record survivorship (vs brute CC + majority-vote
reference incl. NULLs, ties, singletons) and seasonal-naive MASE backtest
(vs brute reference incl. day gaps; perfect-periodicity NULL; beats-naive
direction)."""

from __future__ import annotations

import random

from pbf2json_spark import dedup, temporal


# --- golden records ---------------------------------------------------------------


def _brute_golden(records, pairs, attrs):
    """records: [(id, {attr: val})]; pairs: [(a,b)]."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = [r[0] for r in records]
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {}
    for i in ids:
        clusters.setdefault(find(i), []).append(i)
    by_id = dict(records)
    out = {}
    for root, members in clusters.items():
        cid = min(members)
        row = {"n_members": len(members)}
        for a in attrs:
            votes = {}
            for mid in members:
                v = by_id[mid].get(a)
                if v is not None:
                    votes[v] = votes.get(v, 0) + 1
            row[a] = min(votes, key=lambda v: (-votes[v], v)) if votes else None
        out[cid] = row
    return out


def test_golden_records_vs_brute(spark):
    rnd = random.Random(56)
    records, pairs = [], []
    cities = ["espoo", "vantaa", "turku", None]
    for i in range(120):
        records.append(
            (i, {"city": rnd.choice(cities), "tier": rnd.randrange(3)})
        )
    # chain clusters of size 2-5
    nid = 0
    while nid < 110:
        size = rnd.randrange(2, 6)
        for j in range(size - 1):
            pairs.append((nid + j, nid + j + 1))
        nid += size + rnd.randrange(0, 3)  # gaps leave singletons
    df = spark.createDataFrame(
        [(i, d["city"], d["tier"]) for i, d in records],
        "rid long, city string, tier long",
    )
    pdf = spark.createDataFrame(pairs, "id_l long, id_r long")
    got = {
        r["cluster_id"]: (r["n_members"], r["city"], r["tier"])
        for r in dedup.golden_records(df, "rid", pdf, ["city", "tier"]).collect()
    }
    want = _brute_golden(records, pairs, ["city", "tier"])
    assert set(got) == set(want)
    for cid in got:
        w = want[cid]
        assert got[cid] == (w["n_members"], w["city"], w["tier"]), cid


def test_golden_records_tie_and_allnull(spark):
    df = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, None), (9, None)],
        "rid long, city string",
    )
    pdf = spark.createDataFrame([(1, 2), (2, 3)], "id_l long, id_r long")
    got = {
        r["cluster_id"]: (r["n_members"], r["city"])
        for r in dedup.golden_records(df, "rid", pdf, ["city"]).collect()
    }
    assert got[1] == (3, "a")  # 1-1 tie between a/b → smallest value
    assert got[9] == (1, None)  # all-null singleton keeps NULL


# --- seasonal-naive MASE ----------------------------------------------------------


def _brute_mase(rows, season, holdout):
    series = {}
    for k, d, v in rows:
        series.setdefault(k, {})[d] = v
    cut = max(d for _, d, _ in rows) - holdout + 1
    out = {}
    for k, sv in series.items():
        t_terms = [
            abs(v - sv[d - season])
            for d, v in sv.items()
            if d >= cut and (d - season) in sv
        ]
        n_terms = [
            abs(v - sv[d - season])
            for d, v in sv.items()
            if d < cut and (d - season) in sv
        ]
        sae_t, sae_n = sum(t_terms), sum(n_terms)
        mase = (
            (sae_t / len(t_terms)) / (sae_n / len(n_terms))
            if t_terms and n_terms and sae_n > 0
            else None
        )
        out[k] = (len(t_terms), sae_t, len(n_terms), sae_n, mase)
    return out


def test_mase_vs_brute_with_gaps(spark):
    rnd = random.Random(156)
    rows = []
    for k in ("a", "b", "c"):
        for d in range(60):
            if rnd.random() < 0.15:
                continue  # day gaps — the equi-join must stay aligned
            base = 100 + 20 * (d % 7)
            rows.append((k, d, base + rnd.randrange(-5, 6)))
    df = spark.createDataFrame(rows, "k string, d long, v long")
    got = {
        r["k"]: (r["n_test"], r["sae_test"], r["n_naive"], r["sae_naive"], r["mase"])
        for r in temporal.seasonal_naive_eval(df, "k", "d", "v").collect()
    }
    want = _brute_mase(rows, 7, 14)
    assert set(got) == set(want)
    for k in got:
        assert got[k][:4] == want[k][:4]
        if want[k][4] is None:
            assert got[k][4] is None
        else:
            assert abs(got[k][4] - want[k][4]) < 1e-12


def test_mase_perfectly_periodic_is_null(spark):
    rows = [("p", d, 10 + (d % 7)) for d in range(40)]
    df = spark.createDataFrame(rows, "k string, d long, v long")
    r = temporal.seasonal_naive_eval(df, "k", "d", "v").collect()[0]
    assert r["sae_naive"] == 0 and r["mase"] is None
