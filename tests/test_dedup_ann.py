"""Dedup + ANN + textops + multimodal tests against brute-force references."""

from __future__ import annotations

import itertools

import numpy as np
import pyspark.sql.functions as F
import pytest

from pbf2json_spark import ann, dedup, multimodal, textops

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog"),  # near dup
    (3, "a completely different sentence about spark engines"),
    (4, "spark engines process completely different sentences"),
    (5, "the quick brown fox jumps over the lazy cat today"),  # near dup-ish
    (6, ""),
    (7, "one two three four five six seven eight nine ten"),
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def py_shingles(text, n):
    ws = text.lower().strip().split()
    if n == 1:
        return set(ws)
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def py_jaccard(a, b, n):
    sa, sb = py_shingles(a, n), py_shingles(b, n)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(spark):
    got = {
        r["doc_id"]: r["dup_count"]
        for r in dedup.exact_dedup(docs_df(spark), "doc_id").collect()
    }
    assert got[0] == 2  # 0 and 1 collapse, min id survives
    assert 1 not in got
    assert sum(got.values()) == len(DOCS)


@pytest.mark.parametrize("n,threshold", [(1, 0.5), (2, 0.5), (3, 0.3)])
def test_ngram_jaccard_matches_bruteforce(spark, n, threshold):
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs_df(spark), "doc_id", n=n, threshold=threshold
        ).collect()
    }
    exp = {}
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        j = py_jaccard(ta, tb, n)
        if j >= threshold:
            exp[(ia, ib)] = j
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k])


def test_minhash_lsh_no_false_positives_and_high_recall(spark):
    threshold = 0.5
    got = dedup.minhash_lsh_pairs(
        docs_df(spark), "doc_id", n=1, num_perm=64, bands=32, threshold=threshold
    ).collect()
    exp = {
        (ia, ib)
        for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2)
        if ta and tb and py_jaccard(ta, tb, 1) >= threshold
    }
    got_pairs = {(r["a"], r["b"]) for r in got}
    assert got_pairs <= exp  # exact verify: no false positives
    # 32 bands × 2 rows: P(catch | j≥0.5) ≥ 1-(1-0.25)^32 ≈ 1.0
    assert got_pairs == exp
    for r in got:
        assert r["jaccard"] == pytest.approx(
            py_jaccard(DOCS[r["a"]][1], DOCS[r["b"]][1], 1)
        )


def test_dedup_groups_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (10, 11, 1.0)], "a long, b long, jaccard double"
    )
    got = {r["id"]: r["rep"] for r in dedup.dedup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # a 30-node path: 29 hops from node 0 to node 29, deeper than any fixed
    # round cap of one-hop label propagation
    chain = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(29)], "a long, b long, jaccard double"
    )
    got = {r["id"]: r["rep"] for r in dedup.dedup_groups(chain).collect()}
    assert got == {i: 0 for i in range(30)}


def py_simhash(text):
    words = set(text.lower().strip().split())
    counts = [0] * 64
    for w in words:
        # cross-check uses Spark itself below; here only sanity
        pass
    return None


def test_simhash_near_duplicates_close(spark):
    sim = dedup.simhash(docs_df(spark), "doc_id")
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert vals[0] == vals[1]  # identical docs → identical simhash
    ham_near = bin(vals[0] ^ vals[2]).count("1")
    ham_far = bin(vals[0] ^ vals[3]).count("1")
    assert ham_near < ham_far
    pairs = dedup.simhash_pairs(sim, "doc_id", max_hamming=ham_near)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    # banding is pigeonhole-complete: every pair within the bound is found
    exp = {
        (a, b)
        for a, b in itertools.combinations(sorted(vals), 2)
        if bin(vals[a] ^ vals[b]).count("1") <= ham_near
    }
    assert got == exp


# --- ANN -------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(21)
    # 10 clusters of 30 vectors each, dim 16
    centers = rng.standard_normal((10, 16)) * 3
    vecs = []
    for i in range(300):
        c = centers[i % 10]
        vecs.append((i, (c + rng.standard_normal(16) * 0.3).tolist(), i % 10))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>, label int")
    return df.cache(), np.array([v[1] for v in vecs])


def brute_topk(mat, qv, k):
    sims = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = np.lexsort((np.arange(len(mat)), -sims))
    return order[:k].tolist()


def test_cosine_topk_exact(spark, vectors):
    df, mat = vectors
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann.cosine_topk(df, queries, k=10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qi in range(5):
        exp = brute_topk(mat, mat[qi], 10)
        ids = [v for _, v in sorted(by_q[qi])]
        assert ids == exp, qi


def test_lsh_cosine_topk_recall(spark, vectors):
    df, mat = vectors
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann.lsh_cosine_topk(df, queries, k=10, dim=16, bits=8, n_tables=8)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = []
    for qi in range(5):
        exp = set(brute_topk(mat, mat[qi], 10))
        recalls.append(len(by_q.get(qi, set()) & exp) / 10)
    assert np.mean(recalls) >= 0.8, recalls


def test_embedding_near_dup_pairs(spark, vectors):
    df, mat = vectors
    got = ann.embedding_near_dup_pairs(df, threshold=0.98, dim=16, bits=8, n_tables=8)
    pairs = {(r["a"], r["b"]) for r in got.collect()}
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norm @ norm.T
    exp = {
        (a, b)
        for a in range(300)
        for b in range(a + 1, 300)
        if sims[a, b] >= 0.98
    }
    assert pairs <= exp  # exact verify
    if exp:
        assert len(pairs) / len(exp) >= 0.7  # LSH recall


# --- textops ------------------------------------------------------------------------


def test_textops_langid_quality_tokens(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog went to the house of cards"),
            (1, "tämä on suomenkielinen lause ja siinä on ääkkösiä"),
            (2, "det är och att vara på svenska språket"),
            (3, "xxxx yyyy zzzz"),
        ],
        "doc_id long, text string",
    )
    langs = {r["doc_id"]: r["lang_pred"] for r in textops.detect_language(df).collect()}
    assert langs[0] == "en" and langs[1] == "fi" and langs[2] == "sv"
    assert langs[3] == "und"

    q = {r["doc_id"]: r for r in textops.quality_features(df).collect()}
    assert q[0]["quality_score"] > q[3]["quality_score"]
    assert q[0]["n_words"] == 11

    t = {r["doc_id"]: r for r in textops.token_count(df).collect()}
    assert t[0]["ws_tokens"] == 11
    assert t[0]["re_tokens"] == 11  # plain words
    row = textops.token_count(
        spark.createDataFrame([(9, "don't stop: 42 times!")], "doc_id long, text string")
    ).collect()[0]
    assert row["ws_tokens"] == 4
    assert row["re_tokens"] == 8  # don|'|t|stop|:|42|times|!

    fp = textops.fingerprint(df)
    rows = {r["doc_id"]: r for r in fp.collect()}
    assert rows[0]["fp64"] != rows[1]["fp64"]
    norm = textops.fingerprint(
        spark.createDataFrame(
            [(0, "A  B"), (1, "a b "), (2, "a c")], "doc_id long, text string"
        )
    ).collect()
    n = {r["doc_id"]: r["fp64_norm"] for r in norm}
    assert n[0] == n[1] != n[2]


# --- multimodal ------------------------------------------------------------------------


def test_multimodal_plumbing(spark):
    media = multimodal.generate_media(spark, 30).cache()
    assert media.count() == 30
    feats = multimodal.decode_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 30
    for mid, r in rows.items():
        if r["kind"] == "image":        # real PNG decode
            assert r["width"] >= 4 and r["height"] >= 4
            assert 0 <= r["mean_value"] <= 255
        elif r["kind"] == "audio":      # real WAV decode
            assert r["height"] == 1     # mono channels
            assert r["width"] >= 4 * 4 * 16
            assert 0.0 <= r["mean_value"] <= 1.0
        else:                           # FAKE video container
            assert r["n_bytes"] == 9 + r["width"] * r["height"]
    # deterministic regeneration
    again = {r["media_id"]: r for r in multimodal.decode_features(multimodal.generate_media(spark, 30)).collect()}
    assert {k: (v["width"], v["mean_value"]) for k, v in rows.items()} == {
        k: (v["width"], v["mean_value"]) for k, v in again.items()
    }

    # unknown containers surface per-row errors (no silent garbage)
    bad = spark.createDataFrame(
        [(99, "image", bytearray(b"JPEGnotreally"), {})], multimodal.MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|unrecognized"):
        multimodal.decode_features(bad).collect()


def test_ivf_cosine_topk_recall(spark, vectors):
    df, mat = vectors
    qs = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = ann.cosine_topk(df, qs, k=5)
    approx = ann.ivf_cosine_topk(df, qs, k=5, n_centroids=16, n_probe=6)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    ap = {}
    for r in approx.collect():
        ap.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(ex[q] & ap.get(q, set())) for q in ex)
    total = sum(len(v) for v in ex.values())
    assert hits / total >= 0.7  # IVF recall at n_probe=6/16

    # full probe => exact
    full = ann.ivf_cosine_topk(df, qs, k=5, n_centroids=16, n_probe=16)
    fl = {}
    for r in full.collect():
        fl.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert fl == ex


def test_jaccard_prefix_filter_exactness(spark):
    docs = docs_df(spark)
    # prefix-filtered join must produce EXACTLY the plain inverted-index
    # result (the prefix-filter theorem guarantees candidate completeness)
    base = {
        (r["a"], r["b"], round(r["jaccard"], 12))
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", n=2, threshold=0.3, prefix_filter=False
        ).collect()
    }
    pf = {
        (r["a"], r["b"], round(r["jaccard"], 12))
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", n=2, threshold=0.3, prefix_filter=True
        ).collect()
    }
    assert pf == base and len(base) > 0


def test_redact_pii(spark):
    from pbf2json_spark import textops

    rows = [
        (1, "mail bob.smith+x@ex-a.co.uk or 555-123-4567 at 10.0.3.44 ok"),
        (2, "no pii here"),
        (3, "two mails a@b.co c@d.io"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.redact_pii(df).collect()}
    assert got[1]["text_redacted"] == "mail <EMAIL> or <PHONE> at <IP> ok"
    assert got[1]["n_redactions"] == 3
    assert got[2]["text_redacted"] == "no pii here"
    assert got[2]["n_redactions"] == 0
    assert got[3]["text_redacted"] == "two mails <EMAIL> <EMAIL>"
    assert got[3]["n_redactions"] == 2
    assert got[4]["n_redactions"] == 0


def test_redact_pii_progressive_counts(spark):
    from pbf2json_spark import textops

    rows = [
        # email swallows an IP-looking tail: 1 replacement, not 2
        (1, "a@10.0.0.1.com"),
        # the plain IP is NOT an email; both classes fire once each
        (2, "a@b.co and 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.redact_pii(df).collect()}
    assert got[1]["text_redacted"] == "<EMAIL>"
    assert got[1]["n_redactions"] == 1
    assert got[2]["text_redacted"] == "<EMAIL> and <IP>"
    assert got[2]["n_redactions"] == 2


def test_semantic_dedup_vs_brute(spark):
    """SemDeDup survivors == python reference: same seed centroids, same
    argmax-cosine assignment, same keep-first-id within-cluster rule."""
    from pbf2json_spark import cluster

    rng = np.random.default_rng(42)
    base = rng.normal(size=(6, 8))
    rows = []
    vid = 0
    for i in range(6):            # 6 semantic groups x 5 near-copies
        for _ in range(5):
            v = base[i] + rng.normal(scale=0.05, size=8)
            rows.append((vid, (v / np.linalg.norm(v)).tolist()))
            vid += 1
    for _ in range(10):           # singletons
        v = rng.normal(size=8)
        rows.append((vid, (v / np.linalg.norm(v)).tolist()))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = cluster.kmeans_fit(df, k=5, n_iter=0)
    got = {
        (r["vec_id"], r["cluster"])
        for r in ann.semantic_dedup(df, cents, threshold=0.9).collect()
    }

    # python reference
    mat = np.array([v for _, v in rows])
    c = np.asarray(cents)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    assign = np.argmax(mn @ cn.T, axis=1)
    want = set()
    for i, (vid_i, _) in enumerate(rows):
        dup = any(
            assign[j] == assign[i]
            and rows[j][0] < vid_i
            and float(mn[j] @ mn[i]) >= 0.9
            for j in range(len(rows))
        )
        if not dup:
            want.add((vid_i, int(assign[i])))
    assert got == want
    assert len(got) < len(rows)  # something was actually deduped
