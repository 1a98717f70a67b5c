"""URL normalization / crawl dedup, repetition features, bbox range join,
and the windowed event aggregation — property tests with brute-force
Python oracles (the driver-side DuckDB oracles live in __spark_entry__)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from pbf2json_spark import spatial, textops, weburl


# --- weburl -----------------------------------------------------------------


CASES = [
    # (raw, expected_norm, expected_host)
    ("HTTPS://WWW.Example.COM:443/a/b/?q=1#frag", "https://example.com/a/b/?q=1", "example.com"),
    ("https://example.com/a/b?q=1", "https://example.com/a/b?q=1", "example.com"),
    ("http://example.com:8080/a/", "http://example.com:8080/a", "example.com"),
    ("http://example.com:80", "http://example.com/", "example.com"),
    ("http://example.com:80/", "http://example.com/", "example.com"),
    ("ftp://Files.example.org:21/x", "ftp://files.example.org:21/x", "files.example.org"),
    ("not a url", "not a url", ""),
    ("https://a.b/p/", "https://a.b/p", "a.b"),
    ("https://User:Pw@Secure.example.com/x", "https://secure.example.com/x", "secure.example.com"),
    ("http://alice@example.com:80/y", "http://example.com/y", "example.com"),
    # RFC 3986 §6.2.3: empty path + query normalizes to "/?query"
    ("https://example.com?x=1", "https://example.com/?x=1", "example.com"),
    ("HTTP://EXAMPLE.com:80?q", "http://example.com/?q", "example.com"),
]


def test_normalize_url_cases(spark):
    df = spark.createDataFrame([(u,) for u, _, _ in CASES], "url string")
    got = weburl.with_norm_url(df).orderBy("url").collect()
    want = {u: (n, h) for u, n, h in CASES}
    for r in got:
        n, h = want[r["url"]]
        assert r["norm_url"] == n, r["url"]
        assert r["host"] == h, r["url"]


def test_latest_per_url_picks_max_ts_then_url(spark):
    rows = [
        ("https://x.io/a", 10),
        ("https://X.IO/a#z", 30),          # same canonical, later → wins
        ("https://x.io/a/", 20),           # same canonical (trailing slash)
        ("https://x.io/b", 5),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts long")
    out = {r["norm_url"]: r for r in weburl.latest_per_url(df).collect()}
    assert len(out) == 2
    assert out["https://x.io/a"]["warc_ts"] == 30
    assert out["https://x.io/a"]["url"] == "https://X.IO/a#z"
    # tie on ts → lexicographically greatest raw url wins (deterministic)
    tie = spark.createDataFrame(
        [("https://t.io/p", 7), ("https://T.IO/p", 7)], "url string, warc_ts long"
    )
    r = weburl.latest_per_url(tie).collect()[0]
    assert r["url"] == "https://t.io/p"  # 't' > 'T' in binary collation


def test_host_stats_counts(spark):
    rows = [
        ("https://a.io/1", 1), ("https://a.io/1/", 2), ("https://a.io/2", 3),
        ("https://b.io/1", 4),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts long")
    out = {r["host"]: r for r in weburl.host_stats(df).collect()}
    assert out["a.io"]["captures"] == 3
    assert out["a.io"]["distinct_urls"] == 2  # /1 and /1/ collapse
    assert out["a.io"]["last_seen"] == 3
    assert out["b.io"]["captures"] == 1


# --- repetition features ------------------------------------------------------


def _brute_rep(text: str):
    ws = text.split()
    n = len(ws)
    if n == 0:
        return (0, 0.0, 0.0, 0.0)
    from collections import Counter

    wc = Counter(ws)
    top_w = max(wc.values()) / n
    tot = sum(len(w) * c for w, c in wc.items())
    dup = sum(len(w) * c for w, c in wc.items() if c > 1)
    bgs = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
    top_bg = (max(Counter(bgs).values()) / len(bgs)) if bgs else 0.0
    return (n, top_w, dup / tot if tot else 0.0, top_bg)


@pytest.mark.parametrize(
    "text",
    ["a a a b", "x y z w", "", "q", "ab ab ab ab", "one two one two one", "  pad  ws  "],
)
def test_repetition_matches_bruteforce(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = textops.repetition_features(df).collect()[0]
    n, tw, dc, tb = _brute_rep(text)
    assert r["n_words"] == n
    assert r["top_word_ratio"] == pytest.approx(tw)
    assert r["dup_word_char_ratio"] == pytest.approx(dc)
    assert r["top_bigram_ratio"] == pytest.approx(tb)


# --- bbox range join -----------------------------------------------------------


def test_bbox_intersect_join_matches_bruteforce(spark):
    import random

    rng = random.Random(7)
    L = [(i, *sorted([rng.uniform(-80, 80) for _ in range(2)]),
          *sorted([rng.uniform(-170, 170) for _ in range(2)])) for i in range(60)]
    R = [(i, *sorted([rng.uniform(-80, 80) for _ in range(2)]),
          *sorted([rng.uniform(-170, 170) for _ in range(2)])) for i in range(80)]
    schema = "{} long, lat0 double, lat1 double, lon0 double, lon1 double"
    ldf = spark.createDataFrame(L, schema.format("l_id"))
    rdf = spark.createDataFrame(R, schema.format("r_id"))
    want = {
        (l[0], r[0])
        for l, r in itertools.product(L, R)
        if l[1] <= r[2] and r[1] <= l[2] and l[3] <= r[4] and r[3] <= l[4]
    }
    for res in (2, 4, 6):
        got = {
            (x["l_id"], x["r_id"])
            for x in spatial.bbox_intersect_join(ldf, rdf, res=res).collect()
        }
        assert got == want, f"res={res}"


def test_bbox_intersect_no_duplicate_pairs(spark):
    # one big box overlapping many cells of a fine grid must emit each pair once
    L = [(1, -50.0, 50.0, -100.0, 100.0)]
    R = [(i, -45.0 + i, -44.0 + i, -90.0 + i, -89.0 + i) for i in range(60)]
    schema = "{} long, lat0 double, lat1 double, lon0 double, lon1 double"
    out = spatial.bbox_intersect_join(
        spark.createDataFrame(L, schema.format("l_id")),
        spark.createDataFrame(R, schema.format("r_id")),
        res=6,
    ).collect()
    pairs = [(r["l_id"], r["r_id"]) for r in out]
    assert len(pairs) == len(set(pairs)) == 60


# --- windowed events ------------------------------------------------------------


def test_windowed_batch_matches_streaming(spark, tmp_path, run_stream_to_memory):
    """The batch F.window aggregation and the incrementalized streaming run
    of the same plan produce identical rows (Spark's core streaming
    guarantee, asserted for our window shape)."""
    rows = [
        (i, f"2024-01-01 0{i % 4}:{i % 60:02d}:00", "t" + str(i % 3)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, ts string, k string").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    path = str(tmp_path / "evt")
    df.write.parquet(path)

    def agg(frame):
        return (
            frame.groupBy(F.window("ts", "1 hour").alias("win"), "k")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("ws"), "k", "n")
        )

    batch = {(r["ws"], r["k"]): r["n"] for r in agg(spark.read.parquet(path)).collect()}
    stream = spark.readStream.schema("id long, ts timestamp_ntz, k string").parquet(path)
    q = run_stream_to_memory(agg(stream), "win_batch_eq")
    got = {
        (r["ws"], r["k"]): r["n"]
        for r in spark.sql("select * from win_batch_eq").collect()
    }
    q.stop()
    assert got == batch


# --- snapshot diff / stratified sampling -------------------------------------


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [("a", "f1"), ("b", "f2"), ("c", "f3")], "norm_url string, fp string"
    )
    new = spark.createDataFrame(
        [("b", "f2"), ("c", "f3x"), ("d", "f4")], "norm_url string, fp string"
    )
    got = {r["norm_url"]: r["status"] for r in weburl.snapshot_diff(old, new).collect()}
    assert got == {"a": "removed", "b": "unchanged", "c": "changed", "d": "added"}


def test_stratified_sample_deterministic_and_partition_independent(spark):
    from pbf2json_spark import sampling

    rows = [(i, "en" if i % 3 == 0 else "fr") for i in range(2000)]
    df1 = spark.createDataFrame(rows, "doc_id long, lang string")
    df8 = df1.repartition(8)
    frac = {"en": 0.5, "fr": 0.1}
    s1 = {r["doc_id"] for r in sampling.stratified_sample(df1, frac).collect()}
    s8 = {r["doc_id"] for r in sampling.stratified_sample(df8, frac).collect()}
    assert s1 == s8  # membership is a pure row function, not layout-dependent
    # seeds decorrelate
    s_alt = {r["doc_id"] for r in sampling.stratified_sample(df1, frac, seed=9).collect()}
    assert s1 != s_alt
    # rates are in the right ballpark per stratum
    en = sum(1 for i in s1 if i % 3 == 0) / len([i for i, _ in rows if i % 3 == 0])
    fr = sum(1 for i in s1 if i % 3 != 0) / len([i for i, _ in rows if i % 3 != 0])
    assert 0.4 < en < 0.6 and 0.05 < fr < 0.16
    # unlisted strata follow default_fraction (0 -> dropped entirely)
    only_en = sampling.stratified_sample(df1, {"en": 1.0}).collect()
    assert all(r["lang"] == "en" for r in only_en)


def test_within_distance_join_matches_bruteforce(spark):
    import random

    rng = random.Random(5)
    P = [(i, rng.uniform(-80, 80), rng.uniform(-170, 170)) for i in range(400)]
    Q = [(i, rng.uniform(-80, 80), rng.uniform(-170, 170)) for i in range(40)]
    pdf = spark.createDataFrame(P, "point_id long, lat double, lon double")
    qdf = spark.createDataFrame(Q, "query_id long, lat double, lon double")
    r = 6.0
    want = {
        (q[0], p[0])
        for q in Q
        for p in P
        if (p[1] - q[1]) ** 2 + (p[2] - q[2]) ** 2 <= r * r
    }
    assert want  # non-degenerate case
    for res in (4, 6, 8):
        got = {
            (x["query_id"], x["point_id"])
            for x in spatial.within_distance_join(pdf, qdf, r, res=res).collect()
        }
        assert got == want, res


def test_scd2_history(spark):
    from pbf2json_spark.weburl import scd2_history

    # key A: fp runs x,x,y,x -> 3 versions (x re-appearing later is a NEW
    # version, not a merge with the first run); key B: single capture
    rows = [
        ("A", 10, "x"), ("A", 20, "x"), ("A", 30, "y"), ("A", 40, "x"),
        ("B", 15, "z"),
    ]
    df = spark.createDataFrame(rows, "norm_url string, warc_ts long, fp string")
    got = sorted(
        (r["norm_url"], r["fp"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_history(df).collect()
    )
    assert got == [
        ("A", "x", 10, 30, False),
        ("A", "x", 40, None, True),
        ("A", "y", 30, 40, False),
        ("B", "z", 15, None, True),
    ]
    # point-in-time lookup semantics: valid_from <= T < valid_to
    at25 = [g for g in got if g[0] == "A" and g[2] <= 25 and (g[3] is None or 25 < g[3])]
    assert [g[1] for g in at25] == ["x"]
    # exactly one current row per key
    cur = [g for g in got if g[4]]
    assert sorted(g[0] for g in cur) == ["A", "B"]


def test_scd2_null_fp_versions(spark):
    from pbf2json_spark.weburl import scd2_history

    # a NULL-fp capture (failed fetch) is its own version run, and
    # consecutive NULL fps merge — same islands the SQL idiom produces
    rows = [("A", 10, "x"), ("A", 20, None), ("A", 30, None), ("A", 40, "x")]
    df = spark.createDataFrame(rows, "norm_url string, warc_ts long, fp string")
    got = sorted(
        ((r["fp"], r["valid_from"], r["valid_to"]) for r in scd2_history(df).collect()),
        key=lambda t: t[1],
    )
    assert got == [("x", 10, 20), (None, 20, 40), ("x", 40, None)]


# --- registered domain ------------------------------------------------------------------


def test_registered_domain_rules(spark):
    from pbf2json_spark import weburl

    rows = [
        ("news.site.com", "site.com"),
        ("a.b.site.com", "site.com"),
        ("shop.co.uk", "shop.co.uk"),          # 3 labels w/ 2-label suffix
        ("www2.shop.co.uk", "shop.co.uk"),
        ("blog.media.com.au", "media.com.au"),
        ("host.example", "host.example"),       # 2 labels passthrough
        ("localhost", "localhost"),             # 1 label passthrough
    ]
    df = spark.createDataFrame([(h,) for h, _ in rows], "host string")
    got = df.select(
        "host", weburl.registered_domain(F.col("host")).alias("d")
    ).collect()
    assert {r.host: r.d for r in got} == dict(rows)


def test_domain_stats_rollup(spark):
    from pbf2json_spark import weburl

    df = spark.createDataFrame(
        [
            ("https://a.site.com/1", 100),
            ("https://b.site.com/2", 200),
            ("https://a.site.com/3", 300),
            ("https://only.example/x", 50),
        ],
        "url string, warc_ts long",
    )
    got = {r.domain: (r.n_pages, r.n_hosts, r.first_ts, r.last_ts)
           for r in weburl.domain_stats(df).collect()}
    assert got == {
        "site.com": (3, 2, 100, 300),
        "only.example": (1, 1, 50, 50),
    }
