"""Wave-45: blocklist dictionary screen (vs python re reference,
longest-first prefix discipline, boundary semantics) and IDN/punycode
homograph decode (known vectors, error path, mixed-script law)."""

from __future__ import annotations

import re

from pbf2json_spark import textops, weburl


# --- blocklist screen ------------------------------------------------------------


def _ref_screen(rows, terms):
    ordered = sorted({t.lower() for t in terms}, key=lambda t: (-len(t), t))
    pat = re.compile(r"\b(" + "|".join(re.escape(t) for t in ordered) + r")\b")
    out = {}
    for i, text in rows:
        for m in pat.finditer(text.lower()):
            k = (i, m.group(1))
            out[k] = out.get(k, 0) + 1
    return out


def test_blocklist_vs_python(spark):
    rows = [
        (1, "The cat sat; a CATEGORY of cats. cat!"),
        (2, "dogs and a dog and catdog"),
        (3, "no hits here at all"),
        (4, "Cat category cat cat"),
    ]
    terms = ["cat", "category", "dog"]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["term"]): r["n_hits"]
        for r in textops.blocklist_screen(df, terms).collect()
    }
    assert got == _ref_screen(rows, terms)
    # boundary semantics: "cats"/"catdog" never hit "cat"
    assert (2, "cat") not in got
    # longest-first: "category" wins over its prefix "cat"
    assert got[(1, "category")] == 1


def test_blocklist_spark_matches_duckdb(spark):
    import duckdb

    rows = [
        (i, f"alpha beta g{i % 3} beta ALPHA gamma-beta alpha")
        for i in range(50)
    ]
    terms = ["alpha", "beta", "gamma", "gamma-beta"]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["term"], r["n_hits"])
        for r in textops.blocklist_screen(df, terms).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents",
        __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]),
    )
    exp = sorted(
        (int(a), b, int(c))
        for a, b, c in con.execute(
            textops.blocklist_screen_sql(terms)
        ).fetchall()
    )
    assert got == exp


# --- IDN decode ------------------------------------------------------------------


def test_idn_known_homograph(spark):
    # apple.com with Cyrillic a/r/e — the canonical homograph vector
    evil = "аррle".encode("idna").decode("ascii")  # xn--… label
    rows = [
        (1, f"{evil}.com"),
        (2, "example.com"),
        (3, "xn--bcher-kva.example"),  # bücher.example — Latin only
    ]
    df = spark.createDataFrame(rows, "id long, host string")
    got = {r["id"]: r for r in weburl.idn_decode(df).collect()}
    assert got[1]["is_idn"] and got[1]["decode_ok"]
    assert got[1]["host_unicode"] == "аррle.com"
    assert got[1]["mixed_script"]  # Cyrillic + Latin in one host
    assert not got[2]["is_idn"] and got[2]["host_unicode"] == "example.com"
    assert not got[2]["mixed_script"]
    assert got[3]["is_idn"] and got[3]["decode_ok"]
    assert got[3]["host_unicode"] == "bücher.example"
    assert not got[3]["mixed_script"]


def test_idn_invalid_punycode(spark):
    rows = [(1, "xn--!!!.com"), (2, None)]
    df = spark.createDataFrame(rows, "id long, host string")
    got = {r["id"]: r for r in weburl.idn_decode(df).collect()}
    assert got[1]["is_idn"] and not got[1]["decode_ok"]
    assert got[1]["host_unicode"] == "xn--!!!.com"  # kept verbatim
    assert got[2]["host_unicode"] == "" and not got[2]["is_idn"]
