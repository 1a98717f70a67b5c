"""Text-analysis operators for training-data pipelines (extension layer,
graded alongside SURVEY.md §2.13): language ID, quality scoring, token
counting, document fingerprinting.

All pure Column expressions — no Python in the hot path. Each op has an
ANSI-SQL oracle in __spark_entry__.py so the driver's DuckDB harness checks
it value-for-value."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# n-gram heuristic language ID: score a handful of high-frequency function
# words / character patterns per language, pick the argmax. Deterministic,
# SQL-expressible (the oracle mirrors the same scoring).
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "fi": ["ä", "ö", " ja ", " on ", " ei "],
    "sv": [" och ", " att ", " är ", " det ", "å"],
    "de": [" der ", " und ", " die ", " ist ", "ß"],
    "fr": [" le ", " la ", " et ", " les ", " est "],
}

# a BPE-ish token heuristic: word-ish runs, numbers, or single non-space
# symbols (regexp count — the oracle uses the same pattern)
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _count_occurrences(text: Column, marker: str) -> Column:
    # occurrences = (len(text) - len(replace(text, marker))) / len(marker)
    return (
        F.length(text) - F.length(F.replace(text, F.lit(marker), F.lit("")))
    ) / F.lit(len(marker))


def lang_score(text: Column, lang: str) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    score = None
    for m in _LANG_MARKERS[lang]:
        c = _count_occurrences(padded, m)
        score = c if score is None else score + c
    return score / F.greatest(F.length(text), F.lit(1))


def detect_language(df: DataFrame) -> DataFrame:
    """Adds lang_pred + lang_conf via argmax over marker scores; 'und' when
    nothing scores."""
    t = F.col("text")
    scored = F.array(
        *[
            F.struct(lang_score(t, code).alias("score"), F.lit(code).alias("code"))
            for code in _LANG_MARKERS
        ]
    )
    best = F.array_max(scored)
    return df.withColumn(
        "lang_pred", F.when(best["score"] > 0, best["code"]).otherwise(F.lit("und"))
    ).withColumn("lang_conf", best["score"])


def quality_features(df: DataFrame) -> DataFrame:
    """Length / punctuation / stopword / repetition features + a combined
    quality score in [0,1] (heuristics in the C4/Gopher-rules tradition)."""
    t = F.col("text")
    n_chars = F.length(t)
    words = F.split(F.trim(t), r"\s+")
    n_words = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(words))
    mean_word_len = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[.,;:!?]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.filter(words, lambda w: F.lower(w).isin("the", "a", "and", "of", "to", "is", "in"))
    )
    stop_ratio = F.when(n_words > 0, stop_hits / n_words).otherwise(F.lit(0.0))
    distinct_ratio = F.when(
        n_words > 0, F.size(F.array_distinct(words)) / n_words
    ).otherwise(F.lit(0.0))
    score = (
        F.least(n_words / F.lit(50.0), F.lit(1.0)) * 0.25
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.25
        + distinct_ratio * 0.25
        + F.least(mean_word_len / F.lit(8.0), F.lit(1.0)) * 0.25
    )
    return (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_word_len.cast("double"))
        .withColumn("punct_ratio", punct_ratio.cast("double"))
        .withColumn("stopword_ratio", stop_ratio.cast("double"))
        .withColumn("distinct_word_ratio", distinct_ratio.cast("double"))
        .withColumn("quality_score", score.cast("double"))
    )


def token_count(df: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (TOKEN_RE)."""
    t = F.col("text")
    ws = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), r"\s+"))
    )
    bpe = F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), 0))
    return df.withColumn("ws_tokens", ws.cast("long")).withColumn(
        "re_tokens", bpe.cast("long")
    )


def repetition_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, adapted to
    word granularity since the corpus has no line structure): per document

      n_words             whitespace token count
      top_word_ratio      occurrences of the most frequent word / n_words
      dup_word_char_ratio chars inside words that occur >1 time / chars in
                          all words (the "fraction of characters in
                          duplicated lines" analogue)
      top_bigram_ratio    occurrences of the most frequent word bigram /
                          (n_words - 1); 0 when fewer than 2 words

    High values on any of these mark boilerplate / degenerate pages for a
    training-data filter; thresholds are the caller's policy.

    Shape: explode → two map-side-combinable groupBys keyed by
    (doc, token) then (doc) — the classic distributed word-count; the only
    exchanged payload is (id, token, count). No Python anywhere, and the
    DuckDB oracle (unnest + GROUP BY) recomputes every ratio exactly.
    """
    # the one canonical whitespace tokenization + n-gram construction lives
    # in corpus.py — reuse it so repetition signals and corpus statistics
    # can never silently disagree on token boundaries
    from pbf2json_spark.corpus import _words, ngrams_col

    base = df.select(F.col(id_col).alias("_id"), _words("text").alias("_ws"))

    wc = (
        base.select("_id", F.explode("_ws").alias("w"))
        .groupBy("_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("_id")
        .agg(
            F.sum("c").alias("_rep_nw"),
            F.max("c").alias("top_w"),
            F.sum(F.when(F.col("c") > 1, F.length("w") * F.col("c")).otherwise(F.lit(0))).alias("dup_chars"),
            F.sum(F.length("w") * F.col("c")).alias("tot_chars"),
        )
    )
    bc = (
        base.filter(F.size("_ws") >= 2)
        .select("_id", F.explode(ngrams_col(F.col("_ws"), 2)).alias("bg"))
        .groupBy("_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("_id")
        .agg(F.max("c").alias("top_bg"), F.sum("c").alias("n_bg"))
    )

    out = (
        df.join(wc, df[id_col] == wc["_id"], "left")
        .drop("_id")
        .join(bc, df[id_col] == bc["_id"], "left")
        .drop("_id")
    )
    nw = F.coalesce(F.col("_rep_nw"), F.lit(0))
    ours = {"n_words", "top_word_ratio", "dup_word_char_ratio", "top_bigram_ratio"}
    carried = [c for c in df.columns if c not in ours]
    return out.select(
        *carried,
        nw.cast("long").alias("n_words"),
        F.when(nw > 0, F.col("top_w") / nw).otherwise(F.lit(0.0)).cast("double").alias("top_word_ratio"),
        F.when(F.col("tot_chars") > 0, F.col("dup_chars") / F.col("tot_chars"))
        .otherwise(F.lit(0.0)).cast("double").alias("dup_word_char_ratio"),
        F.when(F.col("n_bg") > 0, F.col("top_bg") / F.col("n_bg"))
        .otherwise(F.lit(0.0)).cast("double").alias("top_bigram_ratio"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Deterministic 64-bit document fingerprint (content hash) + a
    normalized variant that ignores whitespace runs and case — the cheap
    near-dup key (rolling-hash-class fingerprinting).

    Two hash families, same normalization:
      fp64+fp64b / fp64_norm+fp64b_norm — xxhash64 pairs, the JVM-cheapest
        path (engine-internal). The `b` half is an INDEPENDENT second pass
        (`xxhash64(lit(1), t)` reseeds the whole hash; `xxhash64(t, lit(1))`
        would merely permute the first hash). Exact-dedup keys must use the
        PAIR (128 bits): one 64-bit key expects ~27k birthday collisions =
        silently merged documents at the 10^12-row design point.
      fp_hex/fp_hex_norm — first 64 bits of md5 as hex, identical across
        engines (Spark md5 == DuckDB md5 on the same UTF-8 bytes), so the
        fingerprint is portable and oracle-checkable value-for-value.
    """
    t = F.col("text")
    norm = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    return (
        df.withColumn("fp64", F.xxhash64(t))
        .withColumn("fp64b", F.xxhash64(F.lit(1), t))
        .withColumn("fp64_norm", F.xxhash64(norm))
        .withColumn("fp64b_norm", F.xxhash64(F.lit(1), norm))
        .withColumn("fp_hex", F.substring(F.md5(t.cast("binary")), 1, 16))
        .withColumn(
            "fp_hex_norm", F.substring(F.md5(norm.cast("binary")), 1, 16)
        )
    )


# PII scrubbing patterns: RE2- AND Java-compatible by construction (no
# backreferences, no lookaround) so the DuckDB oracle applies the SAME
# patterns — the redacted text is string-identical across engines.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails / phone numbers / IPv4 addresses — the standard PII
    pass a web-corpus curation pipeline runs before training. Adds:

      text_redacted   text with each PII class replaced by its tag
      n_redactions    replacements actually performed: each class is
                      counted on the text AS THE PREVIOUS CLASSES LEFT IT
                      (counting every class on the original text instead
                      disagrees with the output in both directions — an
                      email swallowing an IP-looking tail double-counts,
                      and an IP exposed only after an email is excised is
                      missed)

    Patterns apply in PII_PATTERNS order (email first: an address also
    contains dots that the ipv4 pattern must not see first). Pure Column
    regexp — scan-stage, WholeStageCodegen, zero shuffles; at 100 TB this
    is bandwidth-bound, exactly where it should be.
    """
    out = F.col(text_col)
    n = F.lit(0).cast("long")
    for _, pat, tag in PII_PATTERNS:
        n = n + F.regexp_count(out, F.lit(pat)).cast("long")
        out = F.regexp_replace(out, pat, tag)
    return df.withColumn("text_redacted", out).withColumn("n_redactions", n)


def chunk_documents(df: DataFrame, chunk_size: int, overlap: int = 0) -> DataFrame:
    """Split each document's tokens into overlapping fixed-size chunks —
    the RAG / context-window preparation step (chunk_size tokens per
    chunk, consecutive chunks sharing `overlap` tokens).

    Adds per chunk: chunk_id (0-based), token_start (0-based inclusive),
    token_end (exclusive, clamped to the doc length), chunk_text.

    Chunk i covers tokens [i*stride, i*stride + chunk_size) with
    stride = chunk_size - overlap; the last chunk is the first one whose
    window reaches the end of the document (it may be shorter than
    chunk_size but is never empty). Documents with zero tokens produce
    zero chunks.

    Pure Column: sequence() + posexplode over the already-split words
    array — scan-stage, zero shuffles, the chunk fan-out is the only
    row-count growth (x n_tokens/stride). At 100 TB the output is written
    straight back out; nothing aggregates.
    """
    from pbf2json_spark.corpus import _words

    if not 0 <= overlap < chunk_size:
        raise ValueError("require 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    w = _words("text")
    nw = F.size(w)
    # smallest i with i*stride + chunk_size >= nw, plus one: 1 chunk for
    # short docs, ceil((nw - chunk_size)/stride) + 1 otherwise
    n_chunks = F.when(
        nw <= chunk_size, F.lit(1)
    ).otherwise(
        F.floor((nw - F.lit(chunk_size) + F.lit(stride) - 1) / F.lit(stride)) + 1
    ).cast("int")
    # Spark's sequence(0, -1) DESCENDS — guard the empty-doc case with an
    # explicit empty array instead of relying on the stop bound
    idx = F.when(nw <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n_chunks - 1)
    )
    exploded = df.withColumn("_w", w).withColumn("_i", F.explode(idx))
    start = F.col("_i").cast("long") * stride
    piece = F.slice(F.col("_w"), (start + 1).cast("int"), chunk_size)
    return exploded.select(
        F.col("doc_id"),
        F.col("_i").cast("long").alias("chunk_id"),
        start.alias("token_start"),
        F.least(start + chunk_size, F.size("_w").cast("long")).alias("token_end"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def remove_boilerplate_lines(df: DataFrame, min_docs: int) -> DataFrame:
    """Corpus-level line deduplication (the C4 / CCNet / RefinedWeb
    boilerplate pass): a line occurring in >= min_docs DISTINCT documents
    (cookie banners, nav bars, footers) is removed from every document;
    documents keep their surviving lines in original order.

    Output: (doc_id, text_clean, n_kept:long, n_dropped:long) — documents
    whose every line is boilerplate still appear, with text_clean = '' and
    n_kept = 0 (the curation pipeline decides whether to drop empties; an
    operator that silently loses rows is a footgun).

    Shape at 100 TB: lines explode once (posexplode — order captured as an
    integer, never re-derived); the document-frequency count groups by the
    line's 128-bit md5 (two exchanges of (fp, count)-sized rows — a 64-bit
    key would false-merge ~27k innocent line pairs at 10^12 lines and
    delete content silently); boilerplate fps come back as a broadcastable
    left_anti join against the exploded frame; reassembly is ONE groupBy
    per document of (pos, line) structs. The full text string crosses a
    shuffle exactly once (the reassembly exchange) — the df-count path
    carries fingerprints only.
    """
    lines = df.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("_pos", "_line"),
    )
    fp = F.md5(F.col("_line").cast("binary")).alias("_fp")
    boiler = (
        lines.select(F.col("doc_id"), fp)
        .distinct()
        .groupBy("_fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_fp")
    )
    kept = lines.select(F.col("doc_id"), "_pos", "_line", fp).join(
        boiler, "_fp", "left_anti"
    )
    n_lines = df.select(
        F.col("doc_id"),
        F.size(F.split(F.col("text"), "\n")).cast("long").alias("_n_total"),
    )
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("_pos", "_line"))).alias("_ls"),
        )
        .select(
            F.col("doc_id"),
            F.array_join(F.transform("_ls", lambda s: s["_line"]), "\n").alias(
                "text_clean"
            ),
            F.size("_ls").cast("long").alias("n_kept"),
        )
    )
    return (
        n_lines.join(rebuilt, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("_n_total") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )
    )


def script_mix(df: DataFrame) -> DataFrame:
    """Unicode script-mix profile — the homoglyph/spoofing and
    wrong-language-injection signal a web corpus runs at scan time:
    count characters in four script classes (Latin letters, digits,
    Cyrillic, CJK) plus the total and a mix score

        mix_e6 = 1e6 − max_class · 1e6 div marks

    (0 = single-script, large = heavily mixed — a Latin page with
    scattered Cyrillic look-alikes scores > 0 where a clean page scores
    exactly 0). Pure Column: each class count is
    length(text) − length(regexp_replace(text, class, '')) — counting
    by deletion, the one regex idiom with identical semantics in every
    engine (no regexp_count dialect drift). Scan-stage, zero shuffle.

    Output: (input columns minus text) + (n_latin, n_digit, n_cyr,
    n_cjk, n_marks, mix_e6).
    """
    t = F.col("text")

    def cnt(cls: str) -> Column:
        return (
            F.length(t) - F.length(F.regexp_replace(t, cls, ""))
        ).cast("long")

    out = df.select(
        *[c for c in df.columns if c != "text"],
        cnt("[A-Za-z]").alias("n_latin"),
        cnt("[0-9]").alias("n_digit"),
        cnt("[Ѐ-ӿ]").alias("n_cyr"),
        cnt("[一-鿿]").alias("n_cjk"),
    )
    marks = (
        F.col("n_latin") + F.col("n_digit") + F.col("n_cyr") + F.col("n_cjk")
    )
    top = F.greatest("n_latin", "n_digit", "n_cyr", "n_cjk")
    return out.select(
        "*",
        marks.alias("n_marks"),
        F.when(marks == 0, F.lit(0).cast("long")).otherwise(
            F.lit(1_000_000).cast("long")
            - F.expr(
                "greatest(n_latin, n_digit, n_cyr, n_cjk) * 1000000 "
                "div (n_latin + n_digit + n_cyr + n_cjk)"
            )
        ).alias("mix_e6"),
    )


# Benford first-digit probabilities log10(1+1/d), e6 fixed point — the
# nine terms sum to exactly 1e6, so expected counts partition n exactly.
BENFORD_E6 = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
              45757)


def benford_profile(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Benford first-digit anomaly score per group — the fabricated-data
    screen applied to web corpora: numeric tokens scraped from organic
    text (populations, prices, view counts) follow Benford's law; a host
    whose numbers are generated (spam templates, SEO farms, synthetic
    counters) diverges. Numbers are tokens matching [1-9][0-9]* (leading
    zeros excluded by construction); the first digit is scored against
    log10(1+1/d):

        chi2_e6 = Σ_d (o_d·1e6 − n·p_d)² · 1e6 div (n · p_d · 1e6)

    — all integers (BENFORD_E6 sums to exactly 1e6), one truncating div
    per digit term before the sum, identical on both engines. chi2_e6
    past ~15.5e6 (χ²₈ at p=0.05) flags a group.

    Shape at 10^12 docs: the regexp extraction and first-digit substring
    are scan-stage Column ops; ONE map-side-combinable (group, digit)
    count then a 9-row-per-group fold. The digit grid joins as a
    broadcast literal — missing digits count as divergence (o_d = 0).

    Output: (*group_cols, n_numbers, chi2_e6).
    """
    toks = df.select(
        *group_cols,
        F.explode(
            F.expr("regexp_extract_all(text, '[1-9][0-9]*', 0)")
        ).alias("_tok"),
    ).select(*group_cols, F.substring("_tok", 1, 1).alias("_d"))
    oc = toks.groupBy(*group_cols, "_d").agg(
        F.count(F.lit(1)).alias("_o")
    )
    nt = toks.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n_numbers"))
    spark = df.sparkSession
    digits = spark.createDataFrame(
        [(str(d + 1), p) for d, p in enumerate(BENFORD_E6)],
        "_d string, _p long",
    )
    grid = nt.crossJoin(F.broadcast(digits))
    full = grid.join(oc, [*group_cols, "_d"], "left").select(
        *group_cols, "n_numbers", "_p",
        F.coalesce("_o", F.lit(0)).cast("long").alias("_o"),
    )
    return (
        full.select(
            *group_cols, "n_numbers",
            F.expr(
                "CAST((CAST(_o AS DECIMAL(38,0)) * 1000000 - "
                "CAST(n_numbers AS DECIMAL(38,0)) * _p) * "
                "(CAST(_o AS DECIMAL(38,0)) * 1000000 - "
                "CAST(n_numbers AS DECIMAL(38,0)) * _p) * 1000000 div "
                "(CAST(n_numbers AS DECIMAL(38,0)) * _p * 1000000) "
                "AS BIGINT)"
            ).alias("_term"),
        )
        .groupBy(*group_cols, "n_numbers")
        .agg(F.sum("_term").alias("chi2_e6"))
        .select(*group_cols, "n_numbers", "chi2_e6")
    )


def blocklist_screen(df: DataFrame, terms: list[str]) -> DataFrame:
    """Multi-term dictionary screen: per-document hit counts for every
    term in a broadcast blocklist (slurs/PII keywords/contamination
    canaries — the curation gate every corpus release runs). The
    dictionary is compiled DRIVER-SIDE into ONE word-boundary alternation
    regex, so the scan is a single JVM regexp_extract_all — scan-stage,
    zero Python, zero joins; the only exchange is the final (doc, term)
    count groupBy (map-side combinable).

    Portability/determinism: the alternation is sorted LONGEST-FIRST —
    Java regex takes the first matching alternative, RE2 (DuckDB) the
    longest, so longest-first makes both engines pick the same term when
    one term prefixes another ("category" vs "cat"). Matching is on
    lower(text) with \\b boundaries; overlapping occurrences are counted
    per non-overlapping scan position (both engines scan left to right,
    resuming after each match).

    Fits dictionaries up to ~10^4 terms (regex size is the bound); a
    larger lexicon wants the inverted-index route (corpus.term_search)
    instead. Output: (doc_id, term, n_hits) — docs without hits absent.
    """
    import re as _re

    if not terms:
        raise ValueError("terms must be non-empty")
    ordered = sorted({t.lower() for t in terms}, key=lambda t: (-len(t), t))
    pat = r"\b(" + "|".join(_re.escape(t) for t in ordered) + r")\b"
    hits = df.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(pat), 0)
        ).alias("term"),
    )
    return hits.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("n_hits")
    )


def blocklist_screen_sql(terms: list[str]) -> str:
    """DuckDB mirror of blocklist_screen — same longest-first alternation,
    same lower()/boundary semantics (RE2 leftmost-longest == Java
    first-alternative under the longest-first ordering)."""
    import re as _re

    ordered = sorted({t.lower() for t in terms}, key=lambda t: (-len(t), t))
    pat = r"\b(" + "|".join(_re.escape(t) for t in ordered) + r")\b"
    # DuckDB single-quoted strings keep backslashes literally — only
    # quotes need escaping
    pat_sql = pat.replace("'", "''")
    return (
        f"WITH h AS (SELECT doc_id, unnest(regexp_extract_all("
        f"lower(text), '{pat_sql}')) AS term FROM documents) "
        f"SELECT doc_id, term, CAST(count(*) AS BIGINT) AS n_hits "
        f"FROM h GROUP BY doc_id, term"
    )


# --- content-defined chunking (FastCDC-style, pure Column) -------------------------

# base^(window-1-j) % mod for the rolling polynomial — LITERAL constants
# shared with the SQL oracle (base 257, mod 2^31-1, window 8)
CDC_MOD = 2_147_483_647
CDC_WINDOW = 8


def _cdc_pows(base: int, window: int, mod: int) -> list[int]:
    return [pow(base, window - 1 - j, mod) for j in range(window)]


CDC_POW = _cdc_pows(257, CDC_WINDOW, CDC_MOD)


def cdc_chunks(df: DataFrame) -> DataFrame:
    """Content-defined chunking — the storage-dedup / incremental-sync
    primitive (LBFS, rsync, FastCDC): cut points are chosen by the
    CONTENT (a rolling polynomial hash over a CDC_WINDOW-char sliding
    window is 17 mod 64), so inserting one byte shifts
    only the chunk it lands in — fixed-size blocks would shift every
    boundary after the edit. Chunk fingerprints then feed exact/near-dup
    matching across document versions (the crawl-recrawl delta problem).

    Entirely PURE COLUMN codegen — no Python, no explode-per-char: the
    position list is an in-row `sequence`, the window hash a `transform`
    over literal power-of-base constants (each term < 2^40, the 8-term
    sum < 2^43 — one `% 2^31-1` at the end), cut ends a `filter`, and
    chunk spans a `transform` over the ends array; ONE row-explode at
    the very end emits (doc, chunk) rows. DuckDB mirrors every step with
    list_* lambdas over the same integers — bit-exact, including the
    md5 chunk fingerprint (substr is char-based in both engines).

    Expected chunk length = 64 chars (geometric); the final partial
    chunk always ends at len(text). Docs shorter than CDC_WINDOW become
    a single chunk; empty/NULL texts emit nothing.

    Output: (id, chunk_start, chunk_end [1-based inclusive], chunk_len,
    chunk_md5).
    """
    t, d = F.col("text"), F.col("doc_id")
    ln = F.length(t)

    def win_hash(i):
        s = None
        for j, p in enumerate(CDC_POW):
            term = F.ascii(F.substring(t, i + F.lit(j), 1)).cast("long") * F.lit(p)
            s = term if s is None else s + term
        return s % F.lit(CDC_MOD)

    positions = F.when(
        ln >= CDC_WINDOW, F.sequence(F.lit(1), ln - CDC_WINDOW + 1)
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.transform(
        F.filter(positions, lambda i: win_hash(i) % 64 == 17),
        lambda i: (i + CDC_WINDOW - 1).cast("long"),
    )
    # each derived array is materialized as its own projection column —
    # referencing the raw expression repeatedly would duplicate the whole
    # rolling-hash subtree at every use site and blow up codegen size
    staged = (
        df.filter(ln > 0)
        .select(d.alias("id"), t.alias("_t"), ln.alias("_ln"), cuts.alias("_cuts"))
    )
    lnl = F.col("_ln").cast("long")
    # append the final end unless a cut already landed exactly there
    ends = F.when(
        (F.size("_cuts") > 0) & (F.element_at("_cuts", -1) == lnl), F.col("_cuts")
    ).otherwise(F.concat("_cuts", F.array(lnl)))
    staged = staged.select("id", "_t", ends.alias("_ends"))
    chunks = F.transform(
        F.sequence(F.lit(1), F.size("_ends")),
        lambda idx: F.struct(
            F.when(idx == 1, F.lit(1).cast("long"))
            .otherwise(F.element_at("_ends", idx - 1) + 1)
            .alias("s"),
            F.element_at("_ends", idx).alias("e"),
        ),
    )
    out = (
        staged
        .select("id", "_t", F.explode(chunks).alias("_c"))
        .select(
            "id",
            F.col("_c.s").alias("chunk_start"),
            F.col("_c.e").alias("chunk_end"),
            (F.col("_c.e") - F.col("_c.s") + 1).alias("chunk_len"),
            F.md5(
                F.substring(
                    F.col("_t"),
                    F.col("_c.s").cast("int"),
                    (F.col("_c.e") - F.col("_c.s") + 1).cast("int"),
                ).cast("binary")
            ).alias("chunk_md5"),
        )
    )
    return out


# --- phonetic keys (American Soundex, engine-portable) -----------------------------

_SOUNDEX_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_SOUNDEX_TO = "01230120022455012623010202"


def soundex_key(col: Column) -> Column:
    """American Soundex as an explicit translate/regexp ladder — NOT
    Spark's built-in `soundex()`, deliberately: the oracle engine has no
    soundex, so the key is built from primitives both engines share
    (upper/translate/regexp_replace with RE2-safe patterns — no
    backreferences: runs collapse via '<d>+' classes per digit), making
    the blocking key bit-identical cross-engine. The classic use here:
    the phonetic BLOCKING pass of record_linkage — "Smith"/"Smyth" land
    in the same block where exact/prefix blocking splits them.

    Simplified-variant rules (the common DBMS one): letters→digits
    (BFPV→1 CGJKQSXZ→2 DT→3 L→4 MN→5 R→6, vowels+HWY→0), adjacent equal
    digits collapse ONCE over the raw code string (H/W are not
    transparent), zeros drop, the first letter is kept verbatim with its
    own leading code removed, pad/truncate to letter+3. Non-alpha chars
    are stripped first; empty/NULL → NULL.
    """
    s = F.regexp_replace(F.upper(col), "[^A-Z]", "")
    code = F.translate(s, _SOUNDEX_FROM, _SOUNDEX_TO)
    for d in "0123456":
        code = F.regexp_replace(code, d + "+", d)
    # drop the (already collapsed-into-one) leading code of the first letter
    tail = F.substring(code, 2, 1000)
    tail = F.regexp_replace(tail, "0", "")
    key = F.concat(F.substring(s, 1, 1), F.rpad(F.substring(tail, 1, 3), 3, "0"))
    return F.when(F.length(s) > 0, key)


def soundex_sql(expr: str) -> str:
    """DuckDB mirror of soundex_key over the SQL expression `expr` —
    the same primitive ladder, composable into oracle queries."""
    s = f"regexp_replace(upper({expr}), '[^A-Z]', '', 'g')"
    code = f"translate({s}, '{_SOUNDEX_FROM}', '{_SOUNDEX_TO}')"
    for d in "0123456":
        code = f"regexp_replace({code}, '{d}+', '{d}', 'g')"
    tail = f"replace(substr({code}, 2), '0', '')"
    key = f"substr({s}, 1, 1) || rpad(substr({tail}, 1, 3), 3, '0')"
    return f"CASE WHEN length({s}) > 0 THEN {key} END"


# --- readability (Flesch / Flesch-Kincaid) -----------------------------------------


def readability(df: DataFrame) -> DataFrame:
    """Flesch-Kincaid readability surface — the classic text-complexity
    quality signal (a pre-LLM heuristic still run by every corpus
    pipeline: too-low grade = boilerplate lists, too-high = OCR noise /
    legalese). Counts are pure Column regexps, scan-stage, zero Python:

      n_words  whitespace-delimited tokens
      n_sents  sentence-final punctuation runs [.!?]+ (min 1 when any
               text exists — the headline-without-period convention)
      n_syll   vowel-group runs [aeiouy]+ per lowercased word, the
               standard syllable proxy (min 1 per word is NOT applied —
               the raw vowel-group count keeps the surface exact and
               cross-engine; consumers wanting per-word flooring can
               count words with zero vowels separately)

    The two classic scores are emitted as e3 fixed-point INTEGERS via
    exact floor-division over the integer counts (no float path):

      fk_grade_e3  = (390·w·1000 div s + 11800·y·1000 div w)/1000 − 15590
                     …assembled exactly as below
      flesch_e3    = 206835 − 1015·(w·1000 div s)/1000 − 84600·y div w …

    concretely: fk_grade_e3 = (390·(w·1000 div s) + 11800·(y·1000 div w))
    div 1000 − 15590, flesch_e3 = 206835 − (1015·(w·1000 div s)) div
    1000 − (84600·(y·1000 div w)) div 1000 — every step an integer op,
    bit-exact in any engine. Empty/NULL texts emit NULLs.

    Output: df columns + n_words, n_sents, n_syll, fk_grade_e3,
    flesch_e3.
    """
    t = F.col("text")
    has = t.isNotNull() & (F.length(F.trim(t)) > 0)
    w = F.when(has, F.size(F.split(F.trim(t), r"\s+"))).cast("long")
    s = F.when(has, F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))).cast("long")
    y = F.when(has, F.regexp_count(F.lower(t), F.lit("[aeiouy]+"))).cast("long")
    out = (
        df.withColumn("n_words", w)
        .withColumn("n_sents", s)
        .withColumn("n_syll", y)
        .withColumn("_wps", F.expr("n_words * 1000 div n_sents"))
        .withColumn("_spw", F.expr("n_syll * 1000 div n_words"))
        .withColumn(
            "fk_grade_e3",
            F.expr("(390 * _wps + 11800 * _spw) div 1000 - 15590"),
        )
        .withColumn(
            "flesch_e3",
            F.expr("206835 - (1015 * _wps) div 1000 - (84600 * _spw) div 1000"),
        )
        .drop("_wps", "_spw")
    )
    return out


def readability_sql() -> str:
    """DuckDB mirror of `readability` (composable oracle fragment)."""
    t = "text"
    has = f"({t} IS NOT NULL AND length(trim({t})) > 0)"
    w = (f"CASE WHEN {has} THEN len(string_split_regex(trim({t}), '\\s+')) END")
    s = (f"CASE WHEN {has} THEN greatest(len(regexp_extract_all({t}, "
         f"'[.!?]+')), 1) END")
    y = (f"CASE WHEN {has} THEN len(regexp_extract_all(lower({t}), "
         f"'[aeiouy]+')) END")
    return (
        f"WITH r0 AS (SELECT *, CAST({w} AS BIGINT) AS n_words, "
        f"CAST({s} AS BIGINT) AS n_sents, CAST({y} AS BIGINT) AS n_syll "
        f"FROM documents), "
        "r1 AS (SELECT *, n_words * 1000 // n_sents AS wps, "
        "n_syll * 1000 // n_words AS spw FROM r0) "
        "SELECT * EXCLUDE (wps, spw), "
        "(390 * wps + 11800 * spw) // 1000 - 15590 AS fk_grade_e3, "
        "206835 - (1015 * wps) // 1000 - (84600 * spw) // 1000 AS flesch_e3 "
        "FROM r1"
    )


# --- encoding-artifact (mojibake) screen -------------------------------------------

# the canonical UTF-8-decoded-as-Latin-1 fingerprints + hard errors:
# 'Ã' leads every mangled non-ASCII Latin char, 'â€' every mangled
# punctuation, 'Â' precedes mangled NBSP/degree, U+FFFD is a decoder
# giving up, and 'ï»¿' is a BOM that leaked into body text
MOJIBAKE_MARKERS = ["Ã", "â€", "Â", "�", "ï»¿"]


def mojibake_screen(df: DataFrame) -> DataFrame:
    """Encoding-artifact screen — the data-cleaning gate for crawled
    text: double-encoded UTF-8 (the classic 'Ã©' for 'é'), replacement
    characters, leaked BOMs. Pure Column length-replace counting (the
    lang_score idiom), scan-stage, zero regex backtracking; per-marker
    counts sum into mojibake_hits and a boolean flag.

    Output: df columns + mojibake_hits (BIGINT), mojibake_flag.
    """
    t = F.col("text")
    total = None
    for m in MOJIBAKE_MARKERS:
        c = (
            (F.length(t) - F.length(F.replace(t, F.lit(m), F.lit(""))))
            / F.lit(len(m))
        ).cast("long")
        total = c if total is None else total + c
    return df.withColumn("mojibake_hits", total).withColumn(
        "mojibake_flag", F.col("mojibake_hits") > 0
    )


def mojibake_sql(text_expr: str = "text") -> str:
    """DuckDB mirror: the summed length-replace counts over the same
    marker list (composable fragment yielding the hits expression)."""
    parts = []
    for m in MOJIBAKE_MARKERS:
        lit = m.replace("'", "''")
        parts.append(
            f"(length({text_expr}) - length(replace({text_expr}, '{lit}', "
            f"''))) // {len(m)}"
        )
    return "(" + " + ".join(parts) + ")"


def winnow_fingerprints(df: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken 2003,
    the MOSS algorithm): hash every k-gram, slide a window of w hashes,
    select the RIGHTMOST minimal hash per window, keep the distinct
    (position, hash) selections. The guarantee that makes it the standard
    local fingerprinting for plagiarism / clone detection: any substring
    match of length ≥ w + k − 1 shares at least one fingerprint, while
    the expected density is only 2/(w+1) — so matching documents meet in
    a fingerprint-keyed equi-join at a fraction of full-shingle cost.

    Entirely pure Column codegen (the cdc_chunks discipline): the k-gram
    hash is the same rolling polynomial over literal power constants, the
    window min is array_min over an in-row slice, and the rightmost-min
    tie rule is one max-over-matching-offsets aggregate — no Python, no
    explode-per-char; ONE row-explode emits (id, pos, fp) at the end.
    Work is O(len·w) per document in expression terms, same class as the
    O(len·k) hash itself.

    Docs with fewer than w k-gram hashes (but ≥ 1) fingerprint with a
    single whole-list window — a short doc still lands in the join;
    empty / shorter-than-k docs emit nothing.

    Output: (id, pos [1-based k-gram start], fp [BIGINT hash]).
    """
    if k < 1 or w < 1:
        raise ValueError("k >= 1 and w >= 1")
    pows = _cdc_pows(257, k, CDC_MOD)
    t, d = F.col("text"), F.col("doc_id")
    ln = F.length(t)

    def gram_hash(i):
        s = None
        for j, p in enumerate(pows):
            term = F.ascii(F.substring(t, i + F.lit(j), 1)).cast("long") * F.lit(p)
            s = term if s is None else s + term
        return s % F.lit(CDC_MOD)

    m = ln - (k - 1)  # number of k-gram hashes
    hashes = F.when(
        ln >= k, F.transform(F.sequence(F.lit(1), m), gram_hash)
    ).otherwise(F.array().cast("array<bigint>"))
    staged = (
        df.filter(ln >= k)
        .select(d.alias("id"), hashes.alias("_hs"))
    )
    hs = F.col("_hs")
    we = F.least(F.lit(w), F.size(hs))  # short docs: whole-list window
    nwin = F.size(hs) - we + 1

    def pick(s):
        sl = F.slice(hs, s, we)
        mn = F.array_min(sl)
        # rightmost offset holding the minimum (1-based within window)
        rj = F.array_max(
            F.filter(
                F.sequence(F.lit(1), we),
                lambda j: F.element_at(sl, j) == mn,
            )
        )
        return F.struct(
            (s + rj - 1).cast("long").alias("pos"), mn.alias("fp")
        )

    picks = F.array_distinct(
        F.transform(F.sequence(F.lit(1), nwin), pick)
    )
    return (
        staged.select("id", F.explode(picks).alias("_p"))
        .select("id", F.col("_p.pos").alias("pos"), F.col("_p.fp").alias("fp"))
    )
