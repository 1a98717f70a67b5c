"""Wave-53: content-defined chunking (vs brute python rolling-hash
reference: boundaries, spans, md5s; edit-locality property; short/empty
docs) and k-truss decomposition (vs brute iterative reference; truss ⊆
core containment; clique survival / star peel)."""

from __future__ import annotations

import hashlib
import random

from pbf2json_spark import graph, textops


# --- CDC chunking -----------------------------------------------------------------


def _brute_cdc(text, window=8, mask=63, target=17):
    if not text:
        return []
    pows = [pow(257, window - 1 - j, textops.CDC_MOD) for j in range(window)]
    ln = len(text)
    cuts = []
    for i in range(1, ln - window + 2):  # 1-based
        h = sum(ord(text[i - 1 + j]) * pows[j] for j in range(window)) % textops.CDC_MOD
        if h % (mask + 1) == target:
            cuts.append(i + window - 1)
    ends = cuts if (cuts and cuts[-1] == ln) else cuts + [ln]
    out = []
    prev = 1
    for e in ends:
        seg = text[prev - 1 : e]
        out.append((prev, e, e - prev + 1, hashlib.md5(seg.encode()).hexdigest()))
        prev = e + 1
    return out


def test_cdc_vs_brute(spark):
    rnd = random.Random(53)
    docs = []
    for i in range(40):
        n = rnd.randrange(0, 600)
        docs.append((i, "".join(chr(rnd.randrange(32, 127)) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in textops.cdc_chunks(df).collect():
        got.setdefault(r["id"], []).append(
            (r["chunk_start"], r["chunk_end"], r["chunk_len"], r["chunk_md5"])
        )
    for i, text in docs:
        want = _brute_cdc(text)
        have = sorted(got.get(i, []))
        assert have == sorted(want), f"doc {i}"
        # spans tile the text exactly
        if want:
            assert want[0][0] == 1 and want[-1][1] == len(text)


def test_cdc_edit_locality(spark):
    # inserting a char near the end must not move earlier chunk hashes
    rnd = random.Random(153)
    base = "".join(chr(rnd.randrange(97, 123)) for _ in range(500))
    edited = base[:490] + "X" + base[490:]
    df = spark.createDataFrame([(0, base), (1, edited)], "doc_id long, text string")
    rows = textops.cdc_chunks(df).collect()
    a = {
        (r["chunk_start"], r["chunk_end"], r["chunk_md5"])
        for r in rows
        if r["id"] == 0
    }
    b = {
        (r["chunk_start"], r["chunk_end"], r["chunk_md5"])
        for r in rows
        if r["id"] == 1
    }
    # every chunk that ends before the edit point survives byte-identical;
    # only the chunk containing the edit changes
    pre_edit = {c for c in a if c[1] < 491}
    assert len(pre_edit) >= 2 and pre_edit <= b
    assert len(a - b) == 1  # exactly the edited chunk diverges


def test_cdc_short_doc_single_chunk(spark):
    df = spark.createDataFrame(
        [(0, "abc"), (1, ""), (2, None)], "doc_id long, text string"
    )
    rows = textops.cdc_chunks(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id"], r["chunk_start"], r["chunk_end"], r["chunk_len"]) == (0, 1, 3, 3)
    assert r["chunk_md5"] == hashlib.md5(b"abc").hexdigest()


# --- k-truss ----------------------------------------------------------------------


def _brute_ktruss(edges, k):
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in es}
        drop = {e for e, s in sup.items() if s < k - 2}
        if not drop:
            return {e: sup[e] for e in es}
        es -= drop


def test_ktruss_vs_brute(spark):
    rnd = random.Random(253)
    edges = set()
    # two 6-cliques sharing a vertex + random sparse noise + a star
    for base in (0, 10):
        nodes = [base + i for i in range(6)]
        for i in range(6):
            for j in range(i + 1, 6):
                edges.add((nodes[i], nodes[j]))
    for _ in range(60):
        edges.add((rnd.randrange(40), rnd.randrange(40)))
    for leaf in range(50, 70):
        edges.add((45, leaf))
    rows = [(a, b) for a, b in edges]
    df = spark.createDataFrame(rows, "src long, dst long")
    for k in (2, 3, 4, 5):  # k=2: every edge survives, support kept (r3 ADVICE)
        got = {
            (r["a"], r["b"]): r["support"]
            for r in graph.ktruss(df, k=k).collect()
        }
        want = _brute_ktruss(rows, k)
        assert got == want, f"k={k}"


def test_ktruss_clique_survives_star_peels(spark):
    edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]  # K5
    edges += [(100, 100 + i) for i in range(1, 30)]  # star
    df = spark.createDataFrame(edges, "src long, dst long")
    got = graph.ktruss(df, k=4).collect()
    nodes = {r["a"] for r in got} | {r["b"] for r in got}
    assert nodes == set(range(5))  # K5 is a 5-truss; the star is gone
    assert all(r["support"] == 3 for r in got)


def test_ktruss_subset_of_kcore(spark):
    rnd = random.Random(353)
    edges = [(rnd.randrange(30), rnd.randrange(30)) for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    k = 4
    truss_nodes = set()
    for r in graph.ktruss(df, k=k).collect():
        truss_nodes |= {r["a"], r["b"]}
    core_nodes = {r["node"] for r in graph.kcore(df, k=k - 1).collect()}
    assert truss_nodes <= core_nodes
