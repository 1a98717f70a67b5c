"""Exact duplicated-substring span removal — the "dedup inside documents"
operator of LLM training-data curation (Lee et al. 2022, *Deduplicating
Training Data Makes Language Models Better*): any token span of length ≥ k
that occurs ≥ `min_count` times ACROSS THE CORPUS is cut out of every
document, leaving the unique remainder. Complements the whole-document
dedup family (dedup.py): boilerplate paragraphs, licence headers, and
templated navigation survive document-level MinHash because the documents
differ elsewhere — span dedup removes exactly the repeated substring.

Re-expression of the suffix-array algorithm for a shuffle engine: instead
of one global suffix array (inherently sequential to build, random-access
to query), every k-token window is hashed (128-bit md5 — portable, and no
birthday problem at 10^12 windows the way a 64-bit key would have) and a
corpus-wide count groupBy finds the duplicated windows. Duplicated window
STARTS are merged into maximal spans per document with a gaps-and-islands
window pass — two overlapping duplicated k-windows fuse into one longer
removed span, which is what makes the output equal to "remove every
maximal duplicated substring of length ≥ k" on whitespace-token
granularity.

Scale shape (the 100 TB question):
  * window-hash count: the ONLY corpus-wide shuffle, payload = 16-byte
    hashes with map-side combine. ~n_tokens rows in, |distinct| out.
  * duplicated-start semi-join: equi-join on the hash, ids+positions only.
  * islands/spans: one shuffle by doc id (positions only, no text).
  * text reassembly: tokens shuffle ONCE, keyed by doc id, at the end.
  * nothing is O(n²); there is no all-pairs step anywhere.

Determinism/portability: tokenization is a fixed regexp split, hashes are
md5 over UTF-8 bytes (Spark md5 == DuckDB md5), island arithmetic is
integer — the DuckDB oracle reproduces clean_text byte-for-byte.

Reference tie-in: this generalizes the reference's tag-trim idea (keep
only the interesting parts of an entity, pbf2json.go TrimTags) from
key-space to content-space — cherry-picking the unique substance of a
page the way the reference cherry-picks tags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tokens(text_col: str) -> F.Column:
    """Whitespace tokens, empty-safe: '' and all-space texts → []."""
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    return F.filter(F.split(norm, " "), lambda x: x != F.lit(""))


def duplicated_span_dedup(df: DataFrame, k: int = 8, min_count: int = 2) -> DataFrame:
    """Remove every maximal token span covered by k-grams that occur
    ``>= min_count`` times corpus-wide (occurrences within one document
    count too — a page that repeats its own boilerplate gets trimmed).

    Returns one row per input document:
      (id, n_tokens:long, dup_spans:long, dup_tokens:long, clean_text)
    where clean_text is the document with every duplicated span deleted
    (single-space re-joined; '' if everything was duplicated).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    docs = df.select(
        F.col("id"), _tokens("text").alias("toks")
    ).withColumn("n_tokens", F.size("toks").cast("long"))

    # k-gram start positions, hashed. pos is 0-based; a start at p covers
    # token positions [p, p+k-1].
    starts = (
        docs.filter(F.col("n_tokens") >= k)
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - k),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", F.slice("toks", i + 1, k)
                        ).cast("binary")
                    ),
                )
            ).alias("p", "kg"),
        )
        .withColumn("p", F.col("p").cast("long"))
    )

    # The one corpus-wide shuffle: count 16-byte hashes (map-side combine).
    dup_kg = (
        starts.groupBy("kg")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("kg")
    )
    dup_starts = starts.join(dup_kg, "kg", "left_semi").select("id", "p")

    # Gaps-and-islands: starts sorted by p; spans all have length k, so
    # span_i and span_{i+1} merge (overlap or touch) iff p_{i+1} <= p_i+k.
    w = Window.partitionBy("id").orderBy("p")
    isl = (
        dup_starts.withColumn(
            "brk",
            F.when(F.col("p") > F.lag("p").over(w) + k, 1).otherwise(0),
        )
        .withColumn(
            "isle",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    spans = isl.groupBy("id", "isle").agg(
        F.min("p").alias("s"), (F.max("p") + k - 1).alias("e")
    )
    stats = spans.groupBy("id").agg(
        F.count(F.lit(1)).alias("dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    )

    # Covered token positions (explode factor k, bounded) → anti-join the
    # token stream → reassemble. Tokens shuffle exactly once, here.
    covered = dup_starts.select(
        "id", F.explode(F.sequence("p", F.col("p") + k - 1)).alias("pos")
    ).distinct()
    tokpos = docs.select(
        "id", F.posexplode("toks").alias("pos", "tok")
    ).withColumn("pos", F.col("pos").cast("long"))
    clean = (
        tokpos.join(covered, ["id", "pos"], "left_anti")
        .groupBy("id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda st: st["tok"],
                ),
            ).alias("clean_text")
        )
    )

    return (
        docs.select("id", "n_tokens")
        .join(stats, "id", "left")
        .join(clean, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def duplicated_span_dedup_sql(source_sql: str, k: int = 8, min_count: int = 2) -> str:
    """DuckDB mirror of duplicated_span_dedup — same tokenization, same
    md5 window keys, same island arithmetic; clean_text matches
    byte-for-byte. `source_sql` is a query producing (id, text)."""
    return f"""
WITH src AS ({source_sql}),
docs AS (
  SELECT id AS id,
         list_filter(
           string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
           x -> x <> '') AS toks
  FROM src
),
docs2 AS (SELECT id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM docs),
starts AS (
  SELECT id, CAST(r.i AS BIGINT) AS p,
         md5(array_to_string(toks[r.i + 1 : r.i + {k}], ' ')) AS kg
  FROM docs2, LATERAL unnest(range(0, n_tokens - {k} + 1)) r(i)
  WHERE n_tokens >= {k}
),
dup AS (SELECT kg FROM starts GROUP BY kg HAVING count(*) >= {min_count}),
ds AS (SELECT s.id, s.p FROM starts s SEMI JOIN dup USING (kg)),
isl AS (
  SELECT id, p,
         CASE WHEN p > lag(p) OVER (PARTITION BY id ORDER BY p) + {k}
              THEN 1 ELSE 0 END AS brk
  FROM ds
),
isl2 AS (
  SELECT id, p,
         sum(brk) OVER (PARTITION BY id ORDER BY p
                        ROWS UNBOUNDED PRECEDING) AS isle
  FROM isl
),
spans AS (
  SELECT id, isle, min(p) AS s, max(p) + {k} - 1 AS e
  FROM isl2 GROUP BY id, isle
),
stats AS (
  SELECT id, count(*) AS dup_spans, sum(e - s + 1) AS dup_tokens
  FROM spans GROUP BY id
),
covered AS (
  SELECT DISTINCT id, p + r.j AS pos
  FROM ds, LATERAL unnest(range(0, {k})) r(j)
),
tokpos AS (
  SELECT id, CAST(r.i AS BIGINT) AS pos, toks[r.i + 1] AS tok
  FROM docs2, LATERAL unnest(range(0, CAST(len(toks) AS BIGINT))) r(i)
),
keep AS (
  SELECT t.id, t.pos, t.tok
  FROM tokpos t ANTI JOIN covered c ON t.id = c.id AND t.pos = c.pos
),
clean AS (
  SELECT id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM keep GROUP BY id
)
SELECT d.id,
       d.n_tokens,
       CAST(coalesce(st.dup_spans, 0) AS BIGINT) AS dup_spans,
       CAST(coalesce(st.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       coalesce(cl.clean_text, '') AS clean_text
FROM docs2 d
LEFT JOIN stats st USING (id)
LEFT JOIN clean cl USING (id)
"""
