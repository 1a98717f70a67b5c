"""Wave-46: deterministic contrastive negative sampling (vs python md5
reference, partition invariance, group exclusion) and retrieval ranking
eval (vs brute MRR/hits/nDCG)."""

from __future__ import annotations

import hashlib
import math

import numpy as np

from pbf2json_spark import corpus, sampling


# --- negative sampling -----------------------------------------------------------


def _ref_negatives(rows, k, group, seed=0, margin=4, n_buckets=64):
    ids = [r[0] for r in rows]
    grp = {r[0]: r[1] for r in rows}
    # bucket-offset bijection
    by_bucket: dict[int, list[int]] = {}
    for i in sorted(ids):
        by_bucket.setdefault(i % n_buckets, []).append(i)
    idx = {}
    acc = 0
    for b in sorted(by_bucket):
        for pos, i in enumerate(sorted(by_bucket[b])):
            idx[i] = acc + pos
        acc += len(by_bucket[b])
    inv = {v: i for i, v in idx.items()}
    n = len(ids)
    out = []
    for a in ids:
        slot = 0
        for j in range(k + margin):
            h = int(hashlib.md5(f"{a}:{j}:{seed}".encode()).hexdigest()[:15], 16)
            cand = inv[h % n]
            if cand == a:
                continue
            if group and grp[cand] == grp[a]:
                continue
            slot += 1
            out.append((a, cand, slot))
            if slot == k:
                break
    return sorted(out)


def test_negative_pairs_vs_reference(spark):
    rows = [(i, i % 9) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, grp long")
    got = sorted(
        (r["doc_id"], r["neg_id"], r["slot"])
        for r in sampling.negative_pairs(df, k=3, group_col="grp").collect()
    )
    assert got == _ref_negatives(rows, 3, group=True)
    # validity: never self, never same group
    g = dict(rows)
    for a, neg, _ in got:
        assert neg != a and g[neg] != g[a]


def test_negative_pairs_partition_invariant(spark):
    rows = [(i * 7 % 500, (i * 7 % 500) % 5) for i in range(150)]
    rows = [(i, gq) for i, gq in dict(rows).items()]  # unique ids
    d1 = spark.createDataFrame(rows, "doc_id long, grp long").repartition(3)
    d2 = spark.createDataFrame(rows, "doc_id long, grp long").repartition(11)
    r1 = sorted(map(tuple, sampling.negative_pairs(d1, k=2, group_col="grp").collect()))
    r2 = sorted(map(tuple, sampling.negative_pairs(d2, k=2, group_col="grp").collect()))
    assert r1 == r2


# --- ranking eval ----------------------------------------------------------------


def _brute_eval(results, judg, k):
    rel = {(q, d): r for q, d, r in judg}
    out = {}
    qs = {q for q, _, _ in results}
    for q in qs:
        ranked = sorted((rk, d) for qq, d, rk in results if qq == q)
        topk = [(rk, d) for rk, d in ranked if rk <= k]
        rels = [(rk, rel.get((q, d), 0)) for rk, d in topk]
        n_rel = sum(1 for _, r in rels if r > 0)
        first = min((rk for rk, r in rels if r > 0), default=None)
        mrr = 1.0 / first if first else 0.0
        dcg = sum((2.0**r - 1) / math.log2(rk + 1) for rk, r in rels if r > 0)
        ideal = sorted((r for qq, dd, r in judg if qq == q), reverse=True)[:k]
        idcg = sum(
            (2.0**r - 1) / math.log2(i + 2) for i, r in enumerate(ideal)
        )
        out[q] = (len(topk), n_rel, first, mrr, n_rel, dcg / idcg if idcg > 0 else 0.0)
    return out


def test_ranking_eval_vs_brute(spark):
    results = []
    for q in range(4):
        for rk in range(1, 13):
            results.append((q, (q * 100 + rk * 7) % 50, rk))
    judg = [(q, d, (d % 3)) for q in range(4) for d in range(50) if d % 4 == q]
    rdf = spark.createDataFrame(results, "query_id long, doc_id long, rank long")
    jdf = spark.createDataFrame(judg, "query_id long, doc_id long, rel long")
    got = {
        r["query_id"]: r
        for r in corpus.ranking_eval(rdf, jdf, k=10).collect()
    }
    exp = _brute_eval(results, judg, 10)
    for q, (n_judged, n_rel, first, mrr, hits, ndcg) in exp.items():
        g = got[q]
        assert g["n_judged"] == n_judged and g["n_rel_topk"] == n_rel, q
        assert g["first_rel_rank"] == first and g["hits_at_k"] == hits, q
        assert g["mrr"] == mrr, q
        assert np.isclose(g["ndcg_at_k"], ndcg, rtol=1e-12), q


def test_ranking_eval_no_relevant(spark):
    rdf = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rank long"
    )
    jdf = spark.createDataFrame(
        [(1, 99, 2)], "query_id long, doc_id long, rel long"
    )
    g = corpus.ranking_eval(rdf, jdf, k=10).collect()[0]
    assert g["first_rel_rank"] is None and g["mrr"] == 0.0
    assert g["ndcg_at_k"] == 0.0
