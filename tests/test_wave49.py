"""Wave-49: mutual nearest-neighbor mining (vs brute mutual-top1 +
margin law) and multi-probe LSH (recall dominates single-probe; probe
superset law)."""

from __future__ import annotations

import numpy as np

from pbf2json_spark import ann


def _mk(n, d, seed, shift=0.0):
    rng = np.random.default_rng(seed)
    return rng.normal(loc=shift, size=(n, d))


# --- mutual top-k ----------------------------------------------------------------


def test_mutual_topk_vs_brute(spark):
    d = 8
    av = _mk(40, d, 1)
    bv = _mk(45, d, 2)
    # plant three exact translations (near-identical pairs)
    for i, j in ((0, 5), (3, 7), (9, 11)):
        bv[j] = av[i] + 1e-6
    adf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(av)], "a_id long, embedding array<double>"
    )
    bdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(bv)], "b_id long, embedding array<double>"
    )
    got = {
        (r["a_id"], r["b_id"]): (r["cos"], r["margin"])
        for r in ann.mutual_topk(adf, bdf, k=4).collect()
    }

    def cos_mat(x, y):
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        yn = y / np.linalg.norm(y, axis=1, keepdims=True)
        return xn @ yn.T

    c = cos_mat(av, bv)
    exp = set()
    for i in range(len(av)):
        j = int(np.argmax(c[i]))
        if int(np.argmax(c[:, j])) == i:
            exp.add((i, j))
    assert set(got) == exp
    # planted pairs are mutual, near-perfect cosine, and margin > 1
    # (margin dominance over random mutual pairs is NOT guaranteed —
    # a lucky random pair in a sparse neighborhood can score high too)
    assert {(0, 5), (3, 7), (9, 11)} <= set(got)
    for p in ((0, 5), (3, 7), (9, 11)):
        cos, margin = got[p]
        assert cos > 1.0 - 1e-9 and margin > 1.0, p


# --- multi-probe LSH -------------------------------------------------------------


def test_multiprobe_recall_dominates(spark):
    d = 16
    pv = _mk(500, d, 3)
    qv = pv[:5] + 1e-3  # queries near known points
    pdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(pv)], "vec_id long, embedding array<double>"
    )
    qdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(qv)], "query_id long, embedding array<double>"
    )
    exact = {}
    pn = pv / np.linalg.norm(pv, axis=1, keepdims=True)
    qn = qv / np.linalg.norm(qv, axis=1, keepdims=True)
    for i in range(5):
        exact[i] = set(np.argsort(-(pn @ qn[i]))[:10].tolist())

    def recall(probes):
        got = {}
        res = ann.lsh_cosine_topk(
            pdf, qdf, k=10, dim=d, bits=6, n_tables=2, probes=probes
        ).collect()
        for r in res:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(
            len(got.get(i, set()) & exact[i]) / 10.0 for i in range(5)
        ) / 5.0

    r0, r6 = recall(0), recall(6)
    assert r6 >= r0  # probing near-miss buckets can only add candidates
    assert r6 > 0.5  # measured: 0.36 -> 0.78 at 2 tables x 6 bits


def test_multiprobe_candidates_superset(spark):
    d = 8
    pv = _mk(200, d, 5)
    pdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(pv)], "vec_id long, embedding array<double>"
    )
    qdf = spark.createDataFrame(
        [(0, pv[7].tolist())], "query_id long, embedding array<double>"
    )
    base = {
        r["vec_id"]
        for r in ann.lsh_cosine_topk(pdf, qdf, k=200, dim=d, bits=10, n_tables=1).collect()
    }
    probed = {
        r["vec_id"]
        for r in ann.lsh_cosine_topk(
            pdf, qdf, k=200, dim=d, bits=10, n_tables=1, probes=3
        ).collect()
    }
    assert base <= probed
