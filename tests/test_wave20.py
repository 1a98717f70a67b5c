"""Wave-20 operators: n-gram novelty, pagination detection, Ripley-K
pair counts."""

from __future__ import annotations

import math
import random
from collections import Counter

from pbf2json_spark import corpus, spatial, weburl


def _tdiv(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


# --- ngram_novelty -------------------------------------------------------------


def _brute_novelty(docs, n=2):
    first = {}
    grams_of = {}
    for did, text in sorted(docs):
        ws = text.split()
        gs = {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}
        grams_of[did] = gs
        for g in gs:
            first.setdefault(g, did)
    out = {}
    for did, gs in grams_of.items():
        novel = sum(1 for g in gs if first[g] == did)
        out[did] = (len(gs), novel,
                    _tdiv(novel * 1_000_000, len(gs)) if gs else 0)
    return out


def test_ngram_novelty_vs_brute(spark):
    rng = random.Random(201)
    vocab = [f"w{i}" for i in range(15)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 9))))
            for i in range(50)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_gram_types"], r["novel_types"], r["novelty_e6"])
           for r in corpus.ngram_novelty(df, 2).collect()}
    assert got == _brute_novelty(docs, 2)


def test_ngram_novelty_extremes(spark):
    docs = [(0, "a b c d"), (1, "a b c d"), (2, "x y z"), (3, "a"),
            (4, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_gram_types"], r["novel_types"], r["novelty_e6"])
           for r in corpus.ngram_novelty(df, 2).collect()}
    assert got[0] == (3, 3, 1_000_000)     # mints everything
    assert got[1] == (3, 0, 0)             # exact repeat: zero novelty
    assert got[2] == (2, 2, 1_000_000)
    assert got[3] == (0, 0, 0)             # sub-n doc
    assert got[4] == (0, 0, 0)             # empty doc


# --- pagination_groups ---------------------------------------------------------


def test_pagination_groups_families(spark):
    urls = (
        [(f"http://a.com/forum/thread/page/{i}",) for i in range(1, 6)]
        + [(f"http://b.com/list?p={i}",) for i in (1, 2, 4)]   # gap at 3
        + [(f"http://c.com/item-{i}",) for i in (7, 7, 8)]     # dup page, n=2
        + [("http://d.com/about",), ("http://e.com/v2/home",)]
    )
    df = spark.createDataFrame(urls, "url string")
    got = {r["family"]: (r["n_pages"], r["min_page"], r["max_page"],
                         r["contiguous"])
           for r in weburl.pagination_groups(df, min_pages=3).collect()}
    assert got == {
        "http://a.com/forum/thread/page/": (5, 1, 5, True),
        "http://b.com/list?p=": (3, 1, 4, False),
    }


def test_pagination_min_pages_and_last_separator(spark):
    # greedy prefix: the LAST separator+digits is the page marker
    urls = [(f"http://s.com/1/x/{i}",) for i in (1, 2, 3)]
    df = spark.createDataFrame(urls, "url string")
    rows = weburl.pagination_groups(df, min_pages=3).collect()
    assert len(rows) == 1 and rows[0]["family"] == "http://s.com/1/x/"


# --- ripley_pairs --------------------------------------------------------------


def _brute_ripley(pts, res, max_r):
    n = 1 << res
    cnt = Counter()
    for lat, lon in pts:
        cx = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
        cy = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
        cnt[(cx, cy)] += 1
    npts = sum(cnt.values())
    per_ring = Counter()
    for (cx, cy), x in cnt.items():
        for dx in range(-max_r, max_r + 1):
            for dy in range(-max_r, max_r + 1):
                ty = cy + dy
                if not (0 <= ty < n):
                    continue
                t = cnt.get(((cx + dx) % n, ty))
                if t:
                    per_ring[max(abs(dx), abs(dy))] += x * t
    out, cum = {}, 0
    for r in sorted(per_ring):
        cum += per_ring[r]
        pairs = cum - npts
        k = _tdiv(pairs * 1_000_000, npts * (npts - 1)) if npts >= 2 else 0
        out[r] = (npts, len(cnt), pairs, k)
    return out


def test_ripley_vs_brute_random(spark):
    rng = random.Random(203)
    pts = [(rng.uniform(-70, 70), rng.uniform(-170, 170)) for _ in range(300)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = {r["r"]: (r["n_points"], r["n_cells"], r["pairs_leq"], r["k_e6"])
           for r in spatial.ripley_pairs(df, res=4, max_r=3).collect()}
    assert got == _brute_ripley(pts, 4, 3)


def test_ripley_clustered_beats_area_growth(spark):
    # one dense blob + scattered noise: k at r=1 grows slower than the
    # 9x disk area because most pairs are ALREADY captured at r=0
    blob = [(10.001 + i * 1e-4, 10.001) for i in range(50)]
    noise = [(-60.0 + 7 * i, -150.0 + 11 * i) for i in range(20)]
    df = spark.createDataFrame(blob + noise, "lat double, lon double")
    got = {r["r"]: r for r in spatial.ripley_pairs(df, 4, 2).collect()}
    assert got[0]["pairs_leq"] >= 50 * 49          # at least the blob pairs
    assert got[1]["k_e6"] < 9 * got[0]["k_e6"]     # sub-area growth = clustered
    brute = _brute_ripley(blob + noise, 4, 2)
    for r, row in got.items():
        assert (row["n_points"], row["n_cells"], row["pairs_leq"],
                row["k_e6"]) == brute[r]
