"""Wave-51: gazetteer toponym disambiguation (vs brute python reference:
coherence argmin, population prior, unique passthrough, determinism laws)
and Fellegi–Sunter record linkage (vs brute reference incl. NULL fields,
decision thresholds, blocking recall)."""

from __future__ import annotations

import random

from pbf2json_spark import dedup, pages


# --- toponym resolution -----------------------------------------------------------


def _brute_toponym(mentions, gaz):
    """mentions: [(doc, name)], gaz: [(place_id, name, lat, lon, pop)]."""
    by_name = {}
    for pid, nm, lat, lon, pop in gaz:
        by_name.setdefault(nm, []).append((pid, lat, lon, pop))
    # per-doc anchors from unambiguous names
    anchors = {}
    for doc, nm in set(mentions):
        cands = by_name.get(nm, [])
        if len(cands) == 1:
            pid, lat, lon, _ = cands[0]
            s = anchors.setdefault(doc, [0, 0, 0])
            s[0] += lat
            s[1] += lon
            s[2] += 1
    out = {}
    for doc, nm in set(mentions):
        cands = by_name.get(nm, [])
        if not cands:
            continue
        a = anchors.get(doc)

        def key(c):
            pid, lat, lon, pop = c
            d = (
                abs(lat * a[2] - a[0]) + abs(lon * a[2] - a[1]) if a else 0
            )
            return (d, -pop, pid)

        pid, lat, lon, pop = min(cands, key=key)
        if len(cands) == 1:
            method = "unique"
        elif a:
            method = "coherence"
        else:
            method = "prior"
        out[(doc, nm)] = (pid, lat, lon, method)
    return out


def test_toponym_vs_brute(spark):
    rnd = random.Random(51)
    gaz = []
    pid = 0
    # 30 ambiguous names with 2-4 candidates each, 40 unique names
    for i in range(30):
        for _ in range(rnd.randrange(2, 5)):
            gaz.append(
                (pid, f"amb{i}", rnd.randrange(-80_000_000, 80_000_000),
                 rnd.randrange(-179_000_000, 179_000_000), rnd.randrange(1, 10_000_000))
            )
            pid += 1
    for i in range(40):
        gaz.append(
            (pid, f"uni{i}", rnd.randrange(-80_000_000, 80_000_000),
             rnd.randrange(-179_000_000, 179_000_000), rnd.randrange(1, 10_000_000))
        )
        pid += 1
    mentions = []
    for doc in range(60):
        n_anchor = rnd.randrange(0, 4)  # some docs have NO anchors → prior path
        for _ in range(n_anchor):
            mentions.append((doc, f"uni{rnd.randrange(40)}"))
        for _ in range(rnd.randrange(1, 5)):
            mentions.append((doc, f"amb{rnd.randrange(30)}"))
    mdf = spark.createDataFrame(mentions, "doc_id long, name string")
    gdf = spark.createDataFrame(
        gaz, "place_id long, name string, lat_e6 long, lon_e6 long, population long"
    )
    got = {
        (r["doc_id"], r["name"]): (r["place_id"], r["lat_e6"], r["lon_e6"], r["method"])
        for r in pages.toponym_resolve(mdf, gdf).collect()
    }
    want = _brute_toponym(mentions, gaz)
    assert got == want
    # every method value exercised in this instance
    methods = {v[3] for v in got.values()}
    assert methods == {"unique", "coherence", "prior"}


def test_toponym_tie_breaks_population_then_id(spark):
    # two candidates equidistant from the anchor → higher population wins;
    # equal population too → smaller place_id
    gaz = [
        (1, "a", 0, 10_000, 5), (2, "a", 0, -10_000, 5),
        (3, "b", 0, 10_000, 9), (4, "b", 0, -10_000, 5),
        (10, "anchor", 0, 0, 1),
    ]
    mentions = [(7, "anchor"), (7, "a"), (7, "b")]
    mdf = spark.createDataFrame(mentions, "doc_id long, name string")
    gdf = spark.createDataFrame(
        gaz, "place_id long, name string, lat_e6 long, lon_e6 long, population long"
    )
    got = {
        r["name"]: r["place_id"] for r in pages.toponym_resolve(mdf, gdf).collect()
    }
    assert got["a"] == 1  # equal dist, equal pop → min place_id
    assert got["b"] == 3  # equal dist → max population


def test_toponym_partition_invariance(spark):
    rnd = random.Random(151)
    gaz = [
        (i, f"n{i % 11}", rnd.randrange(-10**6, 10**6), rnd.randrange(-10**6, 10**6),
         rnd.randrange(100))
        for i in range(50)
    ]
    mentions = [(rnd.randrange(10), f"n{rnd.randrange(11)}") for _ in range(120)]
    mdf = spark.createDataFrame(mentions, "doc_id long, name string")
    gdf = spark.createDataFrame(
        gaz, "place_id long, name string, lat_e6 long, lon_e6 long, population long"
    )
    a = sorted(
        map(tuple, pages.toponym_resolve(mdf.repartition(1), gdf).collect())
    )
    b = sorted(
        map(tuple, pages.toponym_resolve(mdf.repartition(13), gdf).collect())
    )
    assert a == b


# --- record linkage ---------------------------------------------------------------


def _lev(a, b):
    if a is None or b is None:
        return None
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1])
            )
        prev = cur
    return prev[n]


def _brute_linkage(left, right, fields, upper, lower):
    out = []
    for lid, blk, lvals in left:
        for rid, rblk, rvals in right:
            if blk != rblk:
                continue
            score = 0
            for (lv, rv), (_, _, mx, m_w, u_w) in zip(zip(lvals, rvals), fields):
                d = _lev(lv, rv)
                score += m_w if (d is not None and d <= mx) else u_w
            dec = (
                "match" if score >= upper
                else "non_match" if score <= lower
                else "possible"
            )
            out.append((lid, rid, score, dec))
    return sorted(out)


def test_record_linkage_vs_brute(spark):
    rnd = random.Random(251)
    names = ["kallio", "tapiola", "vuosaari", "herttoniemi", "lauttasaari"]
    left, right = [], []
    for i in range(80):
        blk = rnd.randrange(6)
        nm = rnd.choice(names)
        ph = f"{rnd.randrange(100):02d}-{rnd.randrange(10000):04d}"
        left.append((i, blk, (nm, ph)))
        # a perturbed twin for most rows, noise for the rest
        if i % 4 != 0:
            nm2 = nm[:-1] if i % 3 == 0 else nm
            ph2 = ph if i % 5 != 0 else None
            right.append((1000 + i, blk, (nm2, ph2)))
        else:
            right.append((1000 + i, blk, (rnd.choice(names), None)))
    fields = [("name_l", "name_r", 1, 2000, -1500), ("phone_l", "phone_r", 0, 1500, -800)]
    ldf = spark.createDataFrame(
        [(lid, blk, v[0], v[1]) for lid, blk, v in left],
        "id_l long, blk long, name_l string, phone_l string",
    )
    rdf = spark.createDataFrame(
        [(rid, blk, v[0], v[1]) for rid, blk, v in right],
        "id_r long, blk long, name_r string, phone_r string",
    )
    got = sorted(
        (r["id_l"], r["id_r"], r["score"], r["decision"])
        for r in dedup.record_linkage(
            ldf, rdf, ["blk"], fields, upper=2500, lower=-1500
        ).collect()
    )
    want = _brute_linkage(left, right, fields, 2500, -1500)
    assert got == want
    decs = {g[3] for g in got}
    assert decs == {"match", "non_match", "possible"}


def test_record_linkage_null_is_disagreement(spark):
    ldf = spark.createDataFrame([(1, 0, "abc", None)],
                                "id_l long, blk long, a_l string, b_l string")
    rdf = spark.createDataFrame([(2, 0, "abc", "zz")],
                                "id_r long, blk long, a_r string, b_r string")
    fields = [("a_l", "a_r", 0, 10, -10), ("b_l", "b_r", 0, 10, -10)]
    row = dedup.record_linkage(ldf, rdf, ["blk"], fields, upper=20, lower=-20).collect()
    assert len(row) == 1 and row[0]["score"] == 0 and row[0]["decision"] == "possible"
