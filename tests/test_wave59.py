"""Wave-59: Flesch-Kincaid readability (vs brute python regexp reference;
live DuckDB mirror equality; empty/NULL; monotonicity smoke) and Cohen's
kappa (vs brute reference; perfect=1, chance≈0, degenerate NULL)."""

from __future__ import annotations

import random
import re

import duckdb

from pbf2json_spark import stats, textops


# --- readability ------------------------------------------------------------------


def _brute_read(text):
    if text is None or not text.strip():
        return (None,) * 5
    w = len(re.split(r"\s+", text.strip()))
    s = max(len(re.findall(r"[.!?]+", text)), 1)
    y = len(re.findall(r"[aeiouy]+", text.lower()))
    wps = w * 1000 // s
    spw = y * 1000 // w
    fk = (390 * wps + 11800 * spw) // 1000 - 15590
    fl = 206835 - (1015 * wps) // 1000 - (84600 * spw) // 1000
    return (w, s, y, fk, fl)


def test_readability_vs_brute(spark):
    rnd = random.Random(59)
    texts = [
        "The cat sat. It was fat! Was it a cat? Yes.",
        "Incomprehensibility characterizes institutional obfuscation paradigms.",
        "one two three",
        "", None, "...", "a.b.c!d?e",
    ]
    for _ in range(30):
        n = rnd.randrange(1, 60)
        texts.append(
            " ".join(
                "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz.!? ")
                        for _ in range(rnd.randrange(1, 12)))
                for _ in range(n)
            )
        )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: (r["n_words"], r["n_sents"], r["n_syll"],
                  r["fk_grade_e3"], r["flesch_e3"])
        for r in textops.readability(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _brute_read(t), (i, t)
    # the polysyllabic sentence must grade far above the cat sentence
    assert got[1][3] > got[0][3] + 5000


def test_readability_matches_duckdb(spark):
    texts = ["The cat sat. On a mat!", "zzz zz z", "aeiou aeiou?", "x."]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_sents"], r["n_syll"],
                      r["fk_grade_e3"], r["flesch_e3"])
        for r in textops.readability(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            "SELECT doc_id, n_words, n_sents, n_syll, fk_grade_e3, flesch_e3 "
            f"FROM ({textops.readability_sql()})"
        ).fetchall()
    }
    assert got == want


# --- Cohen's kappa ----------------------------------------------------------------


def _brute_kappa(pairs):
    from collections import Counter

    n = len(pairs)
    agree = sum(1 for a, b in pairs if a == b)
    ca, cb = Counter(a for a, _ in pairs), Counter(b for _, b in pairs)
    chance = sum(ca[c] * cb.get(c, 0) for c in ca)
    k_num = n * agree - chance
    k_den = n * n - chance
    kappa = k_num / k_den if k_den != 0 else None
    return (n, agree, k_num, k_den, kappa)


def test_kappa_vs_brute(spark):
    rnd = random.Random(159)
    rows = []
    for g, noise in (("good", 0.1), ("bad", 0.9)):
        for i in range(500):
            a = rnd.choice(["keep", "drop", "review"])
            b = a if rnd.random() > noise else rnd.choice(["keep", "drop", "review"])
            rows.append((g, a, b))
    df = spark.createDataFrame(rows, "grp string, ra string, rb string")
    got = {
        r["grp"]: (r["n"], r["agree"], r["k_num"], r["k_den"], r["kappa"])
        for r in stats.cohens_kappa(df, "ra", "rb", ["grp"]).collect()
    }
    for g in ("good", "bad"):
        want = _brute_kappa([(a, b) for gg, a, b in rows if gg == g])
        assert got[g][:4] == want[:4]
        assert abs(got[g][4] - want[4]) < 1e-12
    assert got["good"][4] > 0.7 and abs(got["bad"][4]) < 0.15


def test_kappa_edges(spark):
    rows = [("perfect", str(i % 3), str(i % 3)) for i in range(30)]
    rows += [("const", "x", "x")] * 10  # both constant identical → NULL
    df = spark.createDataFrame(rows, "grp string, ra string, rb string")
    got = {r["grp"]: r["kappa"] for r in
           stats.cohens_kappa(df, "ra", "rb", ["grp"]).collect()}
    assert got["perfect"] == 1.0
    assert got["const"] is None
