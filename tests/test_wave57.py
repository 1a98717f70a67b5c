"""Wave-57: cross-group quantile normalization (vs brute rank-map
reference incl. ties; shape-alignment law — normalized group medians
coincide; domain-preservation) and Gries DP term dispersion (vs brute
reference; uniform term ≈ 0, clumped term → high; exact integer
surface)."""

from __future__ import annotations

import random

from pbf2json_spark import corpus, stats


# --- quantile normalization -------------------------------------------------------


def _brute_qn(rows):
    """rows: [(grp, value)] → {(grp, value): norm}."""
    pooled = sorted(v for _, v in rows)
    n_pool = len(pooled)
    from collections import Counter

    out = {}
    grps = {}
    for g, v in rows:
        grps.setdefault(g, []).append(v)
    for g, vals in grps.items():
        c = Counter(vals)
        below = {}
        acc = 0
        for v in sorted(c):
            below[v] = acc
            acc += c[v]
        ng = len(vals)
        for v in c:
            two_r = 2 * below[v] + c[v] + 1
            idx = ((two_r - 1) * n_pool) // (2 * ng) + 1
            idx = max(1, min(n_pool, idx))
            out[(g, v)] = pooled[idx - 1]
    return out


def test_qn_vs_brute(spark):
    rnd = random.Random(57)
    rows = []
    # three groups with shifted/scaled distributions + heavy ties
    for g, (mu, spread) in enumerate([(100, 10), (500, 80), (50, 3)]):
        for _ in range(400):
            rows.append((f"g{g}", mu + rnd.randrange(-spread, spread + 1)))
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {
        (r["grp"], r["v"]): r["norm_value"]
        for r in stats.quantile_normalize(df, "grp", "v").collect()
    }
    want = _brute_qn(rows)
    assert got == want
    # normalized values live in the pooled domain
    pooled = {v for _, v in rows}
    assert set(got.values()) <= pooled


def test_qn_aligns_group_medians(spark):
    rnd = random.Random(157)
    rows = []
    for g, mu in enumerate([0, 1000, 5000]):
        for _ in range(501):
            rows.append((f"g{g}", mu + rnd.randrange(100)))
    df = spark.createDataFrame(rows, "grp string, v long")
    out = stats.quantile_normalize(df, "grp", "v").collect()
    meds = {}
    for g in ("g0", "g1", "g2"):
        vals = sorted(r["norm_value"] for r in out if r["grp"] == g)
        meds[g] = vals[len(vals) // 2]
    # raw medians differ by thousands; normalized medians nearly coincide
    assert max(meds.values()) - min(meds.values()) <= 5


# --- term dispersion --------------------------------------------------------------


def _brute_dp(docs, min_freq):
    """docs: [(part, text)] → {term: (f, num, den)}."""
    from collections import Counter

    tc, parts = {}, Counter()
    for p, text in docs:
        ws = text.split()
        parts[p] += len(ws)
        for w in ws:
            tc.setdefault(w, Counter())[p] += 1
    big_t = sum(parts.values())
    out = {}
    for w, c in tc.items():
        f = sum(c.values())
        if f < min_freq:
            continue
        num = sum(abs(c.get(p, 0) * big_t - f * t) for p, t in parts.items())
        out[w] = (f, num, 2 * f * big_t)
    return out


def test_dp_vs_brute(spark):
    rnd = random.Random(257)
    docs = []
    for p in ("a", "b", "c"):
        for _ in range(40):
            words = ["the", "of", "and"] * 3  # uniform everywhere
            words += [f"topic_{p}"] * rnd.randrange(3, 8)  # part-local
            rnd.shuffle(words)
            docs.append((p, " ".join(words)))
    df = spark.createDataFrame(docs, "src string, text string")
    got = {
        r["term"]: (r["f"], r["dp_num"], r["dp_den"], r["dp_e6"])
        for r in corpus.term_dispersion(df, "src", min_freq=10).collect()
    }
    want = _brute_dp(docs, 10)
    assert set(got) == set(want)
    for w, (f, num, den) in want.items():
        assert got[w][:3] == (f, num, den), w
        assert got[w][3] == (num * 1_000_000) // den
    # uniform function words disperse near 0; part-local terms near max
    assert got["the"][3] < 60_000
    for p in ("a", "b", "c"):
        assert got[f"topic_{p}"][3] > 600_000
